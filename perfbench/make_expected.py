#!/usr/bin/env python3
"""Recomputes perfbench/expected: each olap and llm_prep query's result,
computed by DuckDB from the query's oracle SQL over perfbench/data/sf0.01,
stored as parquet. The benchmark compares Spark's output against these
files, so they never come from Spark.

    python3 perfbench/make_expected.py

Run it from the repository root after a query's oracle SQL changes.
"""
import json
import os
import shutil
import subprocess

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    classpath = run.build()
    tmp = os.path.join(run.BENCH, ".work", "oracle.json")
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    subprocess.run(["java", "-cp", classpath, "perfbench.DumpOracle", tmp], check=True)
    with open(tmp) as f:
        oracles = json.load(f)
    shutil.rmtree(run.EXPECTED, ignore_errors=True)
    os.makedirs(run.EXPECTED)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    for name, sql in sorted(oracles.items()):
        out = os.path.join(run.EXPECTED, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT parquet, COMPRESSION zstd)")
        print(name, con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0], "rows")


if __name__ == "__main__":
    main()
