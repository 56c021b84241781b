#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the query catalog reads (`region nation customer
supplier part orders lineitem events documents embeddings`), one
single-row-group parquet file each, at a given scale factor. The shapes
follow the repository's test data: a TPC-H-like star schema with
independent uniform columns, an `events` log with exponential gaps, a
31-word document corpus with 5% planted near-duplicates, and 64-dim unit
embeddings. Every table draws from its own numpy stream seeded from
DATA_SEED and the table name, so the files depend on nothing else.

Usage: python3 gen_data.py <sf> <out_dir>
"""
import sys
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def rng(table):
    return np.random.default_rng([DATA_SEED, zlib.crc32(table.encode())])


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def days_after(base, r, span_days, n):
    return base + (r.integers(0, span_days + 1, n) * US_PER_DAY).astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet", row_group_size=1 << 30)


def region(out, sf):
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})


def nation(out, sf):
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(out, sf):
    n, r = int(150_000 * sf), rng("customer")
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)]})


def supplier(out, sf):
    n, r = int(10_000 * sf), rng("supplier")
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n)})


def part(out, sf):
    n, r = int(200_000 * sf), rng("part")
    keys = np.arange(n)
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})


def orders(out, sf):
    n, r = int(1_500_000 * sf), rng("orders")
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, int(150_000 * sf), n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n)],
        "o_totalprice": money(r, 1000.0, 500_000.0, n),
        "o_orderdate": pa.array(days_after(EPOCH_1995, r, 2403, n), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)]})


def lineitem(out, sf):
    n, r = int(6_000_000 * sf), rng("lineitem")
    write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, int(1_500_000 * sf), n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, int(200_000 * sf), n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, int(10_000 * sf), n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 95_000.0, n),
        "l_discount": np.round(r.uniform(0.0, 0.1, n), 2),
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": pa.array(days_after(EPOCH_1995 + np.timedelta64(US_PER_DAY, "us"),
                                          r, 2498, n), pa.timestamp("us"))})


def events(out, sf):
    n, r = int(1_000_000 * sf), rng("events")
    span_us = 30 * US_PER_DAY
    gaps = r.exponential(span_us / (n + 1), n)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("int64").astype("timedelta64[us]")
    write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, int(15_000 * sf), n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def documents(out, sf):
    n, r = int(50_000 * sf), rng("documents")
    lens = r.integers(10, 100, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # planted near-duplicates: a 5% share copy another doc and append "dup"
    for i, j in zip(r.integers(0, n, n // 20), r.integers(0, n, n // 20)):
        texts[i] = texts[j] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(out, sf):
    n, r = min(int(50_000 * sf), 2000), rng("embeddings")
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})


TABLES = [region, nation, customer, supplier, part, orders, lineitem,
          events, documents, embeddings]


def generate(sf, out):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    for table in TABLES:
        table(out, sf)


if __name__ == "__main__":
    generate(float(sys.argv[1]), sys.argv[2])
