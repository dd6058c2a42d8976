"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (`Tables.*`), one
parquet file each, with the same names, column names and types as the
engine's TPC-H-ish test corpus and the same row counts per scale
factor. Values are drawn from `numpy.random.default_rng(seed)`, so one
seed always yields byte-identical inputs.

Usage: python3 perfbench/datagen.py <out_dir> <seed> <sf>
"""
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("hash order table window row batch big group a spark filter sort "
         "join line data column key merge agg small scan vector stream "
         "value customer slow part fast query the").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
TS = pa.timestamp("us")


def epoch_us(y, m, d):
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def counts(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def days(rng, start, end, size):
    span = (epoch_us(*end) - epoch_us(*start)) // DAY_US
    return epoch_us(*start) + rng.integers(0, span + 1, size) * DAY_US


def text_column(rng, n):
    """Bag-of-words documents; about 8% repeat an earlier document with
    a trailing ' dup' so the near-duplicate operators find pairs."""
    out = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 95))
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    c = counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)]})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
        "p_type": [PTYPES[j] for j in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(days(rng, (1995, 1, 1), (2001, 8, 1), n), TS),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n)]})
    n = c["lineitem"]
    flags = rng.integers(0, 3, n)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in flags],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(days(rng, (1995, 1, 2), (2001, 11, 4), n), TS)})
    n = c["events"]
    users = max(1, int(round(15_000 * sf)))
    gaps = rng.exponential(259.0, n) * 1e6
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(epoch_us(2024, 1, 1) + np.cumsum(gaps).astype(np.int64), TS),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]})
    n = c["documents"]
    text = text_column(rng, n)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": [LANGS[j] for j in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    n = c["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers *= 0.15 / np.linalg.norm(centers, axis=1, keepdims=True)
    e = rng.normal(0.0, 0.125, (n, 64)) + centers[labels]
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out_dir, seed, sf):
    import os
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
