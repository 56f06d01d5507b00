#!/usr/bin/env python3
"""Generate the MIRROR-MODE 100x spot corpus under target/sf10.0x_mirror:
the same 100x replication scheme as make_sf100x.py, except replica
document TEXTS are VERBATIM copies (no ' rep<i>' suffix) — the
crawl-mirror-spam duplication mode that dominates real 100 TB corpora
and that the incremental dedup probe's layer-0 fingerprint screen
exists for.

Why a second 100x corpus: the near-verbatim sf10.0x replicas have
DIFFERENT shingle sets per replica, so no exact-oracle reduction can
collapse them and the all-pairs Jaccard CTE is inherently quadratic
there (DuckDB exhausts the machine's disk in spill — SERIAL.md r14/
r15). Verbatim replicas are exactly the mass the fp-screened residual
oracle (DedupQueries.jaccardResidualCte) collapses, so HERE the
dedup_incremental / dedup_index_erase oracles complete and the engine
is externally hash-gated at 100x scale in the duplication mode that
matters. It is also the density where the probe's hot-bucket load
estimate genuinely exceeds CascadeBudget, so the cost router picks the
cascade by itself (SERIAL.md records it).

doc_id offsets are multiples of 1e5, so doc_id % 5 / % 10 population
splits are replica-invariant (a delta doc's replicas are all delta).
Non-document tables replicate as in make_sf100x.py purely so every
check.py table view resolves; the dedup queries read documents only.

Usage: python3 tools/make_sf100x_mirror.py  (from /root/repo)
"""
import os, time
import duckdb

S = "/root/testdata/sf0.1"
D = "target/sf10.0x_mirror"
os.makedirs(D, exist_ok=True)
con = duckdb.connect()
R = "(SELECT unnest(range(100)) AS i)"


def gen(t, sql):
    t0 = time.time()
    con.sql(f"COPY ({sql}) TO '{D}/{t}.parquet' (FORMAT PARQUET)")
    n = con.sql(f"SELECT count(*) FROM '{D}/{t}.parquet'").fetchone()[0]
    print(f"{t}: {n} rows in {time.time()-t0:.1f}s", flush=True)


gen("region", f"SELECT * FROM '{S}/region.parquet'")
gen("nation", f"SELECT * FROM '{S}/nation.parquet'")
gen("customer", f"""SELECT c_custkey + i*100000 AS c_custkey, c_name,
    c_nationkey, c_acctbal, c_mktsegment FROM '{S}/customer.parquet', {R}""")
gen("supplier", f"""SELECT s_suppkey + i*10000 AS s_suppkey, s_name,
    s_nationkey, s_acctbal FROM '{S}/supplier.parquet', {R}""")
gen("part", f"""SELECT p_partkey + i*100000 AS p_partkey, p_name, p_brand,
    p_type, p_size, p_retailprice FROM '{S}/part.parquet', {R}""")
gen("orders", f"""SELECT o_orderkey + i*1000000 AS o_orderkey,
    o_custkey + i*100000 AS o_custkey, o_orderstatus, o_totalprice,
    o_orderdate, o_orderpriority FROM '{S}/orders.parquet', {R}""")
gen("lineitem", f"""SELECT l_orderkey + i*1000000 AS l_orderkey,
    l_partkey + i*100000 AS l_partkey, l_suppkey + i*10000 AS l_suppkey,
    l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
    l_returnflag, l_linestatus, l_shipdate FROM '{S}/lineitem.parquet', {R}""")
gen("events", f"""SELECT event_id + i*1000000 AS event_id, ts,
    user_id + i*100000 AS user_id, event_type, value, props
    FROM '{S}/events.parquet', {R}""")
gen("documents", f"""SELECT doc_id + i*100000 AS doc_id,
    text, lang, source, n_chars
    FROM '{S}/documents.parquet', {R}""")
gen("embeddings", f"""SELECT vec_id + i*100000 AS vec_id, embedding, label
    FROM '{S}/embeddings.parquet', {R}""")
