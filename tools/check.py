#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle comparison.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query parquet under <verifyOutDir>/ and its SQL in
oracle_sql.json, runs the SQL in DuckDB over the sfDir tables and
compares: column names, dtypes, and all values (rows sorted by every
column, columns sorted by name — mirroring a hash compare). A name in
<verifyOutDir>/selected.txt (the queries Verify was asked to dump)
without a directory is a failure: its query threw. So is a dump
without selected.txt. A dumped directory with no oracle SQL is a
rows-only check when <verifyOutDir>/rows_only.txt (the registered
queries without oracle SQL) lists it, and a failure otherwise: nothing
would check its answer. So is a dump without rows_only.txt.
"""
import json, sys, math
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os
    dirs = sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(f"{out_dir}/{d}"))
    n_pass = n_fail = n_rows_only = 0
    selected = f"{out_dir}/selected.txt"
    if not os.path.exists(selected):
        n_fail += 1
        print(f"FAIL: no {selected}; which queries were asked for is unknown")
    else:
        for name in sorted(set(open(selected).read().split()) - set(dirs)):
            n_fail += 1
            print(f"FAIL {name}: no output (the query threw in Verify)")
    rows_only_file = f"{out_dir}/rows_only.txt"
    if os.path.exists(rows_only_file):
        rows_only = set(open(rows_only_file).read().split())
    else:
        rows_only = set()
        n_fail += 1
        print(f"FAIL: no {rows_only_file}; which dumps are rows-only by design is unknown")
    for name in dirs:
        if name not in oracle and name not in rows_only:
            n_fail += 1
            print(f"FAIL {name}: unexpected dump (no oracle SQL, not rows-only by design)")
            continue
        spark_rel = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        if name not in oracle:
            n_rows_only += 1
            print(f"ROWS-ONLY {name}: rows={len(spark_rel.fetchall())}")
            continue
        try:
            duck_rel = con.sql(oracle[name])
        except Exception as e:
            n_fail += 1
            print(f"FAIL {name}: oracle SQL error: {e}")
            continue
        s_cols = sorted(zip(spark_rel.columns, [str(t) for t in spark_rel.types]))
        d_cols = sorted(zip(duck_rel.columns, [str(t) for t in duck_rel.types]))
        if [c for c, _ in s_cols] != [c for c, _ in d_cols]:
            n_fail += 1
            print(f"FAIL {name}: columns {s_cols} vs {d_cols}")
            continue
        type_mismatch = [(a, b) for a, b in zip(s_cols, d_cols) if a[1] != b[1]]
        s_names = spark_rel.columns
        d_names = duck_rel.columns
        s_order = sorted(range(len(s_names)), key=lambda i: s_names[i])
        d_order = sorted(range(len(d_names)), key=lambda i: d_names[i])
        s_rows = sorted((tuple(norm(r[i]) for i in s_order) for r in spark_rel.fetchall()), key=repr)
        d_rows = sorted((tuple(norm(r[i]) for i in d_order) for r in duck_rel.fetchall()), key=repr)
        if s_rows == d_rows:
            n_pass += 1
            note = f" (type note: {type_mismatch})" if type_mismatch else ""
            print(f"PASS {name}: {len(s_rows)} rows{note}")
        else:
            n_fail += 1
            print(f"FAIL {name}: rows {len(s_rows)} vs {len(d_rows)}")
            for a, b in list(zip(s_rows, d_rows))[:500]:
                if a != b:
                    print(f"  spark: {a}\n  duck : {b}")
                    break
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
