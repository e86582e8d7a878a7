"""Seeded analytics tables for the analytics_mix workload.

Writes the ten tables the repo's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as parquet,
with the column names and types of the repo's TPC-H-like test data. The same
seed gives byte-identical tables.

    python3 perfbench/gen_tables.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale; scale 0.01 is about 60k lineitem rows
ROWS = {"customer": 150000, "supplier": 10000, "part": 200000,
        "orders": 1500000, "lineitem": 6000000, "events": 1000000,
        "documents": 50000, "embeddings": 50000}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
COLORS = ["small", "new", "blue", "old", "red", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = ("key agg row scan slow fast table value part hash merge batch spark a the "
         "line sort window data column join small customer query order group stream "
         "filter big").split()
LANGS = ["en", "zh", "de", "fr", "es"]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def generate(out, seed, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    c = n["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})

    s = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    keys = np.arange(p)
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})

    o = n["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, o), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})

    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, li) * 0.01, 2),
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2498, li), pa.timestamp("us"))})

    e = n["events"]
    users = max(10, int(15000 * scale))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    write(out, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(start + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, d)],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    m = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
