#!/usr/bin/env python3
"""Checks olap_mix answers against DuckDB, to vouch for the fingerprints
in expected.txt.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 1 \\
        --trace 0 --scale 0.1 --dump /some/dir 2> run.log
    python3 perfbench/oracle_check.py /some/dir
    grep fingerprint run.log     # the lines for expected.txt

For every query, runs its registered oracle SQL in DuckDB over the
dumped tables and compares column names and all rows (sorted) with the
result Spark wrote. Needs the duckdb Python package.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")


def rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in (r[i] for i in order)) for r in rel.fetchall()]
    return sorted(cols), sorted(norm, key=repr)


def main(d):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/tables/{t}.parquet/*.parquet'")
    with open(f"{d}/results/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = 0
    for name in sorted(os.listdir(f"{d}/results")):
        if name not in oracle:
            continue
        spark = rows(con.sql(f"SELECT * FROM '{d}/results/{name}/*.parquet'"))
        duck = rows(con.sql(oracle[name]))
        ok = spark == duck
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {name}: {len(spark[1])} rows")
    print(f"== {len(oracle) - bad} pass, {bad} fail ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1])
