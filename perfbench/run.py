#!/usr/bin/env python3
"""Benchmark driver for the graft Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the benchmark harness from source with sbt (perfbench/build.sbt) and
generates the corpus; later runs reuse both. Each run starts one JVM
(local[nproc], heap by the Tier-1 rule), runs the workload closed-loop
for S seconds after its set-up and cold phase, checks every output, and
prints one JSON object as the last line of standard output: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
CORPUS_SEED, CORPUS_SF = 42, 0.1
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """Driver heap by the Tier-1 rule: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_digest():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src", os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project"), os.path.join("perfbench", "src")]
    for top in tops:
        full = os.path.join(ROOT, top)
        paths = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(full)
            for f in files if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")) or "resources" in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def stop_group(proc):
    """Terminate a process group, giving the JVM's shutdown hooks (which
    remove the engine's RAM scratch) a few seconds before killing it."""
    os.killpg(proc.pid, signal.SIGTERM)
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; stop the whole group if it
    outlives `limit` seconds or this script is interrupted."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        stop_group(proc)
        sys.exit(f"{cmd[0]} did not finish within {limit} s")
    except BaseException:
        stop_group(proc)
        raise


def build(env):
    """Compile engine and harness once per source digest; return the
    launch spec (classpath, engine JVM options) the build wrote."""
    launch = os.path.join(HERE, "target", "launch")
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_digest()
    fresh = os.path.exists(stamp) and open(stamp).read() == digest
    if not (fresh and os.path.exists(os.path.join(launch, "classpath.txt"))):
        log("building engine and harness with sbt")
        opts = ["-Dsbt.server.autostart=false", "-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        benv = dict(env, COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
        benv.setdefault("SBT_OPTS", " ".join(opts + ["-Xmx2g"]))
        with open(os.path.join(STATE, "build.log"), "w") as out:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"],
                             BUILD_LIMIT_S, cwd=HERE, env=benv, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        if rc != 0:
            sys.exit(f"build failed (exit {rc}); see {os.path.join(STATE, 'build.log')}")
        with open(stamp, "w") as f:
            f.write(digest)
    classpath = open(os.path.join(launch, "classpath.txt")).read().split()
    jvm = [o for o in open(os.path.join(launch, "jvm_options.txt")).read().splitlines()
           if o and not o.startswith("-Xmx")]
    return classpath, jvm, digest


def corpus():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(STATE, f"corpus-sf{CORPUS_SF}-s{CORPUS_SEED}-{version}")
    if not os.path.exists(os.path.join(path, "DONE")):
        import gen
        shutil.rmtree(path, ignore_errors=True)
        gen.generate(path, CORPUS_SEED, CORPUS_SF)
        open(os.path.join(path, "DONE"), "w").close()
    return path


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def dur(op):
    return (op["t1"] - op["t0"]) / 1e3


def end_to_end(rec, main_prefix):
    """Metrics a user sees, from an untraced run. The timed operations
    are all warm ops (entry workloads) or the merge calls (merge_ingest);
    warm_s is one steady-state pass: the per-op-name medians summed;
    ops_per_s counts timed operations per second of the timed section."""
    ops = rec["ops"]
    cold = [o for o in ops if o["phase"] == "cold"]
    warm = [o for o in ops if o["phase"] == "warm" and "error" not in o]
    timed = [dur(o) for o in warm if o["name"].startswith(main_prefix)]
    window = (max(o["t1"] for o in warm) - min(o["t0"] for o in warm)) / 1e3
    by_name = {}
    for o in warm:
        by_name.setdefault(o["name"], []).append(dur(o))
    return {
        "setup_s": (statistics.median(s["total_s"] for s in rec["setups"]), "s"),
        "cold_s": (sum(dur(o) for o in cold), "s"),
        "warm_s": (sum(statistics.median(v) for v in by_name.values()), "s"),
        "op_p50_s": (stats.percentile(timed, 0.5), "s"),
        "ops_per_s": (len(timed) / window, "1/s"),
        "heap_retained_mb": (rec["heap_retained_mb"], "MB"),
    }


def attribute(ops, items, time_key):
    """Map each item to the op whose span holds its time, or None."""
    spans = sorted((o["t0"], o["t1"], o["id"]) for o in ops)
    out = {}
    for it in items:
        t = it[time_key]
        out[id(it)] = next((i for s, e, i in spans if s <= t <= e), None)
    return out


def per_layer(rec, cores):
    """Per-layer metrics from a traced run, over the traced warm ops.
    Times and counts are per op unless the name says otherwise."""
    ops = rec["ops"]
    ev = rec["trace_events"]
    tw = [o for o in ops if o["phase"] == "warm" and o["traced"] and "error" not in o]
    uw = [o for o in ops if o["phase"] == "warm" and not o["traced"] and "error" not in o]
    cold = [o for o in ops if o["phase"] == "cold" and "counters" in o]
    ids = {o["id"] for o in tw}
    by_id = {o["id"]: o for o in ops}
    t_attr = attribute(ops, ev["jobs"], "t0")
    jobs = {}
    for j in ev["jobs"]:
        op = j["group"] if j["group"] in by_id else t_attr[id(j)]
        if op in ids and j["t1"] >= 0:
            jobs.setdefault(op, []).append(j)
    q_attr = attribute(ops, ev["queries"], "t")
    queries = {}
    for q in ev["queries"]:
        if q_attr[id(q)] in ids:
            queries.setdefault(q_attr[id(q)], []).append(q)
    p_attr = attribute(ops, ev["stream_progress"], "t")
    progress = [p for p in ev["stream_progress"] if p_attr[id(p)] in ids]

    n = max(1, len(tw))
    all_jobs = [j for js in jobs.values() for j in js]
    qs = [q for v in queries.values() for q in v]

    def per_op(total):
        return total / n

    def job_sum(key):
        return sum(j[key] for j in all_jobs)

    def counter(key, which=tw):
        return sum(o["counters"][key] for o in which)

    busy = 0.0
    driver_only = 0.0
    for o in tw:
        intervals = [(j["t0"], j["t1"]) for j in jobs.get(o["id"], [])]
        busy += stats.union_length(stats.clip(intervals, o["t0"], o["t1"]))
        driver_only += stats.self_time((o["t0"], o["t1"]), intervals)
    entries = [o for o in tw if "build_s" in o]
    merges = [o for o in tw if o["name"].startswith("merge.")]
    batch_merges = [o for o in merges if o["name"] != "merge.stream"]
    wsc = sum(q["wsc"] for q in qs)
    m = {
        "Sessions.build_s": (statistics.median(s["build_s"] for s in rec["setups"]), "s"),
        "entry.build_s": (sum(o["build_s"] for o in entries) / max(1, len(entries)), "s/op"),
        "entry.exec_s": (sum(o["exec_s"] for o in entries) / max(1, len(entries)), "s/op"),
        "planning.analysis_s": (per_op(sum(q["analysis_ms"] for q in qs) / 1e3), "s/op"),
        "planning.optimizer_s": (per_op(sum(q["optimizer_ms"] for q in qs) / 1e3), "s/op"),
        "planning.physical_s": (per_op(sum(q["physical_ms"] for q in qs) / 1e3), "s/op"),
        "codegen.compiles": (per_op(counter("compiles")), "count/op"),
        "codegen.cold_compiles": (counter("compiles", cold) / max(1, len(cold)), "count/op"),
        "codegen.hit_ratio": (1 - counter("compiles") / wsc if wsc else 0.0, "ratio"),
        "sched.jobs": (per_op(len(all_jobs)), "count/op"),
        "sched.tasks": (per_op(job_sum("tasks")), "count/op"),
        "sched.tasks_per_job": (job_sum("tasks") / max(1, len(all_jobs)), "ratio"),
        "sched.slot_occupancy": (stats.occupancy(job_sum("task_wall_ms"), cores, busy), "ratio"),
        "sched.driver_only_s": (per_op(driver_only / 1e3), "s/op"),
        "task.run_s": (per_op(job_sum("run_ms") / 1e3), "s/op"),
        "task.cpu_s": (per_op(job_sum("cpu_ns") / 1e9), "s/op"),
        "scan.read_bytes": (per_op(job_sum("read_bytes")), "B/op"),
        "shuffle.write_bytes": (per_op(job_sum("shuffle_write_bytes")), "B/op"),
        "gc.task_s": (per_op(job_sum("gc_ms") / 1e3), "s/op"),
        "gc.jvm_s": (per_op(counter("jvm_gc_ms") / 1e3), "s/op"),
        "spill.bytes": (per_op(job_sum("spill_bytes")), "B/op"),
    }
    for arm in ("rename", "manifest", "full"):
        times = [dur(o) for o in merges if o["name"] == f"merge.{arm}"]
        m[f"Upsert.{arm}.merge_s"] = (statistics.median(times) if times else 0.0, "s")
    m["Upsert.jobs_per_merge"] = (
        sum(len(jobs.get(o["id"], [])) for o in batch_merges) / max(1, len(batch_merges)), "count")
    mutations = sum(o["counters"][k] for o in merges
                    for k in ("fs_create", "fs_rename", "fs_delete", "fs_mkdirs"))
    m["fs.mutations_per_merge"] = (mutations / max(1, len(merges)), "count")
    targets = rec.get("merge", {}).values()
    model_rows = sum(t["model_rows"] for t in targets)
    row_bytes = sum(t["plain_bytes"] for t in targets) / model_rows if model_rows else 0.0
    src_bytes = sum(o["src_rows"] for o in merges) * row_bytes
    m["fs.write_amp"] = (counter("fs_bytes_written", merges) / src_bytes if src_bytes else 0.0, "ratio")
    m["target.files"] = (sum(t["target_files"] for t in targets) / len(targets) if targets else 0.0, "count")
    for name, key in (("trigger", "triggerExecution"), ("addBatch", "addBatch"),
                      ("walCommit", "walCommit"), ("commitOffsets", "commitOffsets")):
        runs = max(1, len([o for o in merges if o["name"] == "merge.stream"]))
        total = sum(p["duration_ms"].get(key, 0) for p in progress) / 1e3
        m[f"Streams.{name}_s"] = (total / runs if progress else 0.0, "s/op")
    m.update(merge_outcomes(rec, uw or tw))
    m["trace.overhead_frac"] = (overhead([o for o in ops if o["phase"] == "warm" and "error" not in o]), "ratio")
    m["host.stall_s"] = (rec["timed_stall_s"], "s")
    return m


def spans(rec):
    """The run as spans (name, start, end, parent, op; epoch ms): set-ups,
    ops, the build and execute halves of entry ops, and Spark jobs under
    the op, or op half, they ran in. Each span carries its self time."""
    out = [{"name": "setup", "start": s["t0"], "end": s["t1"], "parent": None, "op": f"setup{i}"}
           for i, s in enumerate(rec["setups"])]
    for o in rec["ops"]:
        out.append({"name": o["name"], "start": o["t0"], "end": o["t1"], "parent": None, "op": o["id"]})
        if "t_built" in o:
            out.append({"name": "entry.build", "start": o["t0"], "end": o["t_built"],
                        "parent": o["id"], "op": o["id"]})
            out.append({"name": "entry.exec", "start": o["t_built"], "end": o["t1"],
                        "parent": o["id"], "op": o["id"]})
    by_id = {o["id"]: o for o in rec["ops"]}
    attr = attribute(rec["ops"], rec["trace_events"]["jobs"], "t0")
    for j in rec["trace_events"]["jobs"]:
        op = j["group"] if j["group"] in by_id else attr[id(j)]
        if op is None or j["t1"] < 0:
            continue
        o = by_id[op]
        parent = op
        if "t_built" in o:
            parent = "entry.build" if j["t0"] < o["t_built"] else "entry.exec"
        out.append({"name": "job", "start": j["t0"], "end": j["t1"], "parent": parent, "op": op,
                    "job": j["job"], "tasks": j["tasks"]})
    children = {}
    for sp in out:
        if sp["parent"] is not None:
            key = (sp["op"], sp["parent"])
            children.setdefault(key, []).append((sp["start"], sp["end"]))
    for sp in out:
        key = (sp["op"], sp["op"] if sp["parent"] is None else sp["name"])
        kids = children.get(key, []) if sp["name"] != "job" else []
        sp["self_ms"] = stats.self_time((sp["start"], sp["end"]), kids)
    return out


def self_time_by_layer(span_list):
    """Self seconds summed per span name."""
    totals = {}
    for sp in span_list:
        totals[sp["name"]] = totals.get(sp["name"], 0.0) + sp["self_ms"] / 1e3
    return totals


def merge_outcomes(rec, warm):
    """merge_ingest's user-facing outcomes, zero on the other workloads."""
    merges = [o for o in warm if o["name"].startswith("merge.")]
    reads = [dur(o) for o in warm if o["name"].startswith("read.")]
    merge_time = sum(dur(o) for o in merges)
    targets = rec.get("merge", {}).values()
    plain = sum(t["plain_bytes"] for t in targets)
    space = sum(t["target_bytes"] for t in targets) / plain if plain else 0.0
    return {
        "read_p50_s": (stats.percentile(reads, 0.5) if reads else 0.0, "s"),
        "ingest_rows_per_s": (sum(o["src_rows"] for o in merges) / merge_time if merge_time else 0.0, "1/s"),
        "space_amp": (space, "ratio"),
    }


def overhead(warm):
    """Tracing overhead from the timed rounds of a traced run, which go
    untraced and traced in turn (U T U ... T U): each traced round's op
    time against the mean of the untraced rounds on either side, over
    the op names all three ran, so a steady speed-up across rounds
    cancels. The median over the traced rounds, as a share."""
    rounds = {}
    for o in warm:
        rounds.setdefault(o["round"], {})[o["name"]] = dur(o)
    shares = []
    for r, ops in sorted(rounds.items()):
        before, after = rounds.get(r - 1), rounds.get(r + 1)
        if r % 2 == 0 or before is None or after is None:
            continue
        common = [k for k in ops if k in before and k in after]
        base = sum(before[k] + after[k] for k in common) / 2
        if base:
            shares.append(sum(ops[k] for k in common) / base - 1)
    return statistics.median(shares) if shares else 0.0


def check(rec, workload, expected):
    """Names of failed ops: errors, row counts that differ from the
    stored DuckDB counts, and merge targets that differ from the model."""
    failed = []
    for o in rec["ops"]:
        if "error" in o:
            failed.append(f"{o['name']} ({o['phase']}): {o['error']}")
        elif workload != "merge_ingest":
            want = expected.get(o["name"])
            if want is None:
                failed.append(f"{o['name']}: no stored DuckDB row count")
            elif o["rows"] != want:
                failed.append(f"{o['name']} ({o['phase']}): rows {o['rows']} != DuckDB {want}")
    for c in rec.get("checks", []):
        if (c["count"], c["hash"]) != (c["expected_count"], c["expected_hash"]):
            failed.append(f"{c['name']}: count {c['count']} hash {c['hash']} != model "
                          f"count {c['expected_count']} hash {c['expected_hash']}")
    return failed, len(rec["ops"]) + len(rec.get("checks", []))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"no engine sources here: {os.path.join(ROOT, need)} is missing")
    os.makedirs(STATE, exist_ok=True)
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    mem = heap()
    env = dict(os.environ, SPARK_DRIVER_MEM=mem, SPARK_GRAFT_CPUS=str(cores))
    classpath, jvm, digest = build(env)
    data = corpus()
    spec = WORKLOADS[a.workload]
    # the run's own java.io.tmpdir, removed afterwards; Spark's scratch
    # and warehouse directories stay where graft.Sessions puts them
    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    if a.trace:
        env["SPARK_GRAFT_EXTRA_CONF"] = "spark.hadoop.fs.file.impl=perfbench.CountingFs"
    out = os.path.join(work, "record.json")
    cmd = (["java"] + jvm + [f"-Xmx{mem}", f"-Djava.io.tmpdir={work}/tmp", "-cp", ":".join(classpath),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--corpus", data,
           "--work", work, "--out", out, "--entries", ",".join(spec.get("entries", []))])
    logfile = os.path.join(STATE, f"{a.workload}-trace{a.trace}.log")
    try:
        with open(logfile, "w") as lf:
            rc = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"benchmark JVM failed (exit {rc}); see {logfile}")
        rec = json.load(open(out))
        shutil.copy(out, os.path.join(STATE, f"{a.workload}-trace{a.trace}.record.json"))
        if a.trace:
            span_list = spans(rec)
            with open(os.path.join(STATE, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(span_list, f)
            for name, secs in sorted(self_time_by_layer(span_list).items(), key=lambda kv: -kv[1]):
                log(f"self time {name:24s} {secs:8.3f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = json.load(open(os.path.join(HERE, "expected_rows.json")))
    failed, attempted = check(rec, a.workload, expected)
    for f in failed:
        log(f"FAILED {f}")
    log(f"git={git_sha()} source={digest[:12]} workload={a.workload} seed={a.seed} cores={rec['cores']} "
        f"heap={mem} jdk={rec['java_version']} spark={rec['spark_version']} "
        f"ops={len(rec['ops'])} host.stall_s={rec['stall_s']:.3f} (timed {rec['timed_stall_s']:.3f})")
    marks = rec["marks_ms"]
    log("jvm start→set-up end {:.1f} s, workload {:.1f} s, gc+record {:.1f} s".format(
        (marks["set_up_end"] - marks["jvm_start"]) / 1e3, (marks["workload_end"] - marks["set_up_end"]) / 1e3,
        (marks["record"] - marks["workload_end"]) / 1e3))
    metrics = per_layer(rec, rec["cores"]) if a.trace else end_to_end(rec, spec["timed_ops"])
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
