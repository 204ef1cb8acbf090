#!/usr/bin/env python3
"""Generate the TPC-H-style parquet tables the query_mix workload reads.

Usage: python3 perfbench/gen_tables.py <out_dir> [scale]

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types and value ranges of the engine's sf test tables (TESTDATA.md).
scale=1.0 gives the sf0.01 row counts (60,000 lineitem rows). The seed is
fixed, so the same scale gives the same files.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data query table row column key value join merge sort hash "
         "scan filter group agg order line part customer window stream batch "
         "spark vector fast slow big small").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
US_PER_DAY = 86_400_000_000
SEED = 42


def days_since(y, m, d, days):
    base = np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line = int(15000 * scale), int(60000 * scale)
    n_events, n_docs, n_vec = int(10000 * scale), int(500 * scale), int(500 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), f64)})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n_part)], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64)})
    # a third of the customers place no orders
    with_orders = np.array([c for c in range(n_cust) if c % 3 != 0])
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.choice(with_orders, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(days_since(1995, 1, 1, rng.integers(0, 2404, n_ord)), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(days_since(1995, 1, 2, rng.integers(0, 2498, n_line)), ts)})
    offsets = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 150, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
        "value": pa.array(money(rng, 0, 100, n_events), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)})
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 100))) for _ in range(n_docs)]
    # one doc in 20 is a near-duplicate of another: its text plus " dup"
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[d] = texts[(d + rng.integers(1, n_docs)) % n_docs] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # unit vectors around ten weak label centres
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = rng.normal(size=(n_vec, 64)) / 8.0 + 0.15 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    out = argv[1]
    scale = float(argv[2]) if len(argv) > 2 else 1.0
    os.makedirs(out, exist_ok=True)
    for name, table in tables(scale):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv)
