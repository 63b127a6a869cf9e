#!/usr/bin/env python3
"""Stores the DuckDB row count of every entry the entry workloads run.

    python3 perfbench/oracle_counts.py

Builds the harness if needed, dumps SparkEntry.oracleSql through
perfbench.DumpOracles, runs each needed oracle query with DuckDB over
the benchmark corpus, and writes perfbench/expected_rows.json. Run it
again whenever the corpus generator, an entry list or an oracle
changes; run.py compares every op's row count against this file.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    os.makedirs(run.STATE, exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=run.heap())
    classpath, jvm, _ = run.build(env)
    data = run.corpus()
    dump = os.path.join(run.STATE, "oracle_sql.json")
    subprocess.run(["java"] + jvm + ["-cp", ":".join(classpath), "perfbench.DumpOracles", dump],
                   check=True, timeout=120)
    oracles = json.load(open(dump))
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET threads = {min(4, os.cpu_count() or 1)}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    names = sorted({n for w in run.WORKLOADS.values() for n in w.get("entries", [])})
    missing = [n for n in names if n not in oracles]
    if missing:
        sys.exit(f"no oracle SQL for: {', '.join(missing)}")
    counts = {n: con.sql(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0] for n in names}
    with open(os.path.join(run.HERE, "expected_rows.json"), "w") as f:
        json.dump(counts, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(counts))


if __name__ == "__main__":
    main()
