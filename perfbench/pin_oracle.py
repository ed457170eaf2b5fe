#!/usr/bin/env python3
"""Pin the expected result hash of every driver-pass query.

Usage (from the repository root): python3 perfbench/pin_oracle.py

Runs each query's DuckDB oracle (SparkEntry.oracleSql) over the same
tables the benchmark gives the engine, hashes the answer with
oracle.frame_hash and writes perfbench/oracle_hashes.json. Re-run only
when queries.json or the data change.
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
    cp = run.classpath()
    with open(os.path.join(run.HERE, "queries.json")) as f:
        spec = json.load(f)
    names = [q["name"] for w in spec["workloads"].values() for q in w] + \
        [q["name"] for q in spec["dropped"]]
    os.makedirs(run.BUILD, exist_ok=True)
    out = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", *run.JVM_FLAGS, "-cp", cp, "perfbench.DumpOracle", out, *names],
                   check=True)
    with open(out) as f:
        sql = json.load(f)
    pins = {}
    for name in names:
        scale = "sf0.001" if name.startswith(("stream_", "state_")) else "sf0.01"
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(run.HERE, "data", scale, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        df = con.sql(sql[name]).df()
        pins[name] = run.oracle.frame_hash(df)
        print(f"{name}: {len(df)} rows, {pins[name]}", file=sys.stderr)
    with open(os.path.join(run.HERE, "oracle_hashes.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
