#!/usr/bin/env python3
"""Steadiness report: repeated runs of the benchmark, one seed each.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]
                                [--out FILE]

Runs perfbench/run.py once per seed for each workload (BENCHMARK.json's
workloads by default), one run at a time, and prints for every metric
the median, the quartiles (statistics.quantiles, n=4) and the quartile
spread as a share of the median, next to the metric's bound. The
BENCHMARK.json bounds were set from this report: every spread except
set-up time's should stay under a third of its bound.
"""
import argparse
import json
import os
import re
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="also write every run's result here as JSON")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    results = {}
    for w in workloads:
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed} failed (exit {out.returncode}):\n{out.stderr[-2000:]}")
            res = json.loads(lines[-1])
            results.setdefault(w, []).append({"seed": seed, **res})
            stall = re.search(r"host\.stall_s=(\S+)", out.stderr)
            print(f"{w} seed={seed} correct={res['correct']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
                  f" host.stall_s={stall.group(1) if stall else '?'}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)
    print(f"\n{'workload':14s} {'metric':28s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
          f"{'spread':>7s} {'bound':>6s}")
    for w, runs in results.items():
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            if len(values) < 2:
                continue
            s = stats.spread(values)
            bound = bounds.get(name)
            flag = " over bound/3" if bound and name != "setup_s" and s["spread"] > bound / 3 else ""
            print(f"{w:14s} {name:28s} {s['median']:11.4g} {s['q1']:11.4g} {s['q3']:11.4g} "
                  f"{s['spread']:7.3f} {bound if bound is not None else '-':>6}{flag}")


if __name__ == "__main__":
    main()
