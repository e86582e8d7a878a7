#!/usr/bin/env python3
"""Derive an sf0.N-equivalent slice from the driver's sf0.1 testdata for
the carrier growth-curve studies (r11 at N=3; r12 extends the two
carriers nearest the flag bar, er_customer_components and
ann_pq_adc_topk, to N=5).

The generator of the sf0.1 data is not available locally, so this upsamples
sf0.1 xN deterministically with DISJOINT key spaces per copy k:

- lineitem: l_orderkey/l_partkey/l_suppkey offset by k * (max+1) -- the
  co-order graph becomes N disjoint sf0.1 graphs (edges, wedges,
  triangles each xN: exactly the linear-growth null the carriers are
  measured against).
- customer: c_custkey offset, c_name REGENERATED from the new key with
  the generator's own 'Customer#%09d' format -- block structure and
  within-block match density stay exactly sf0.1's (cloned names would
  make every record a cross-copy levenshtein-0 match and blow the pair
  count up by N^2).
- documents: doc_id offset; for copies k >= 1 every token gets a
  copy-specific suffix '_k' so cross-copy Jaccard is 0 -- each copy
  keeps sf0.1's intrinsic near-dup rate (cloned texts would multiply the
  dup rate instead of the corpus). n_chars recomputed.
- events: disjoint user/event key spaces per copy, timestamps unchanged
  -- N x the keyed state (users) at sf0.1's per-user event density, the
  linear-growth null for the stateful-stream carriers.
- embeddings: disjoint vec_ids, vectors unchanged (the ANN carriers are
  timed, not oracle-checked, at these SFs -- cost scales with rows).
- orders: multiplied since r13 (before that, copied unchanged); see the
  comment at its gen() below.
- part, supplier, nation, region: byte-identical copies (present so
  Tables.* resolves).

Usage: make_sfn.py N   (e.g. N=5 -> /root/repo/target/testdata/sf0.5)
"""
import duckdb, os, shutil, sys

N = int(sys.argv[1]) if len(sys.argv) > 1 else 5
SRC = "/root/testdata/sf0.1"
DST = f"/root/repo/target/testdata/sf0.{N}"
os.makedirs(DST, exist_ok=True)
con = duckdb.connect()

def gen(table, sql):
    out = f"{DST}/{table}.parquet"
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}')").fetchone()[0]
    print(f"{table}: {n} rows")

copies = f"(SELECT UNNEST(range({N})) AS k)"

gen("lineitem", f"""
  SELECT l_orderkey + k*150000 AS l_orderkey,
         l_partkey + k*20000 AS l_partkey,
         l_suppkey + k*1000 AS l_suppkey,
         l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{SRC}/lineitem.parquet'), {copies}
  ORDER BY l_orderkey, l_linenumber""")

gen("customer", f"""
  SELECT c_custkey + k*15000 AS c_custkey,
         printf('Customer#%09d', c_custkey + k*15000) AS c_name,
         c_nationkey, c_acctbal, c_mktsegment
  FROM read_parquet('{SRC}/customer.parquet'), {copies}
  ORDER BY c_custkey""")

gen("documents", f"""
  SELECT doc_id + k*5000 AS doc_id,
         CASE WHEN k = 0 THEN text
              ELSE regexp_replace(text, '(\\S+)', '\\1_' || k, 'g') END AS text,
         lang, source,
         strlen(CASE WHEN k = 0 THEN text
              ELSE regexp_replace(text, '(\\S+)', '\\1_' || k, 'g') END) AS n_chars
  FROM read_parquet('{SRC}/documents.parquet'), {copies}
  ORDER BY doc_id""")

gen("events", f"""
  SELECT event_id + k*1000000000 AS event_id,
         ts,
         user_id + k*1000000 AS user_id,
         event_type, value, props
  FROM read_parquet('{SRC}/events.parquet'), {copies}
  ORDER BY event_id""")

gen("embeddings", f"""
  SELECT vec_id + k*1000000 AS vec_id, embedding, label
  FROM read_parquet('{SRC}/embeddings.parquet'), {copies}
  ORDER BY vec_id""")

# orders multiplied since r13 (disjoint o_orderkey, SAME offset scheme as
# lineitem's l_orderkey so the fact-fact join stays consistent; dates and
# customers unchanged) -- stats_theil_sen_mann_kendall's growth study
# needs its driving table to actually grow; its day grain stays the fixed
# date span, so the expected shape is linear agg pass + constant pair frame.
gen("orders", f"""
  SELECT o_orderkey + k*150000 AS o_orderkey,
         o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{SRC}/orders.parquet'), {copies}
  ORDER BY o_orderkey""")

for t in ["part", "supplier", "nation", "region"]:
    shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    print(f"{t}: copied")
