#!/usr/bin/env python3
"""Regenerate `perfbench/expected/`: the answer of each `registry_mix` query,
computed by DuckDB from the query's oracle SQL (`SparkEntry.oracleSql`)
over the tables in `perfbench/data`. Run from the repository root:

    python3 perfbench/expected.py [query ...]

The recursive oracles (d8, d9, x14) take minutes each, which is why their
answers are stored rather than computed on every benchmark run.
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def oracle_sql(classes, build_dir):
    out = os.path.join(build_dir, "oracle_sql.json")
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", "oracle_sql", "--out", out],
                   check=True)
    with open(out) as fh:
        return json.load(fh)


def main(names):
    import duckdb
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    sql = oracle_sql(build.ensure(root, build_dir), build_dir)
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(run.DATA, f)}'")
    os.makedirs(run.EXPECTED, exist_ok=True)
    for q in names or sorted(sql):
        t0 = time.perf_counter()
        df = con.execute(sql[q]).df()
        df.to_parquet(os.path.join(run.EXPECTED, q + ".parquet"), index=False)
        print(f"{q:28s} {len(df):6d} rows  {time.perf_counter() - t0:7.1f} s", flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
