"""Deterministic synthetic star schema for the graft benchmark.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
parquet types and value distributions of the engine's standard test tables
(TPC-H-like dimensions, a 30-day event stream, a 30-word document corpus
with ~5% near-duplicates, 64-d unit embeddings in 10 labels).

The data depends only on the scale factor: a fixed generator seed makes
every run, host and checkout read identical inputs, so recorded output
digests stay comparable.

Usage: python3 gen_data.py <scale-factor> <out-dir>
"""
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line data table agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(day0: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _days(rng, n, lo: datetime, hi: datetime) -> pa.Array:
    span = (hi - lo).days
    return _ts(lo, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_line = max(1, int(round(6_000_000 * sf)))
    n_evt = max(1, int(round(1_000_000 * sf)))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(round(50_000 * sf)))
    n_vec = max(500, int(round(20_000 * sf)))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4))})
    month_us = 30 * 86_400_000_000
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, n_evt))),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(0.01 + rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100))))
    # ~5% near-duplicates: another document's text with one token appended.
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vec = centroids[labels] * 0.15 + rng.normal(size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def generate(sf: float, out_dir: str) -> dict:
    """Write every table under `out_dir`; returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(sf):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


if __name__ == "__main__":
    print(generate(float(sys.argv[1]), sys.argv[2]))
