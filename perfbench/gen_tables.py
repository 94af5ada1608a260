#!/usr/bin/env python3
"""Synthetic tables for the benchmark's query workloads.

Writes the ten parquet tables graft's queries read (a TPC-H-like star
schema, an `events` stream, a `documents` text corpus and an `embeddings`
vector table), one file each, with the same names, column types and value
distributions as the engine's test tables. Sizes scale with `sf`; at
sf 0.01 lineitem has 60,000 rows.

The content depends only on `sf` and the generator seed, so one set of
tables serves every run of a checkout.

Usage: python3 perfbench/gen_tables.py OUT_DIR [sf]
"""
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]


def day_us(y, m, d):
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def money(rng, lo, hi, n):
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def days_between(rng, start, end, n):
    span = (end - start) // 86_400_000_000
    return start + rng.integers(0, span + 1, n) * 86_400_000_000


def ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def generate(sf):
    rng = np.random.default_rng(GENERATOR_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb, n_users = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(days_between(rng, day_us(1995, 1, 1), day_us(2001, 8, 1), n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts(days_between(rng, day_us(1995, 1, 2), day_us(2001, 11, 4), n_line))})
    start = day_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": ts(np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_evt))),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    t["documents"] = documents(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def documents(rng, n):
    """Random-word texts of 10-100 words; 5% are near duplicates of an
    earlier document (one extra `dup` word) and a few are exact copies."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            words = texts[rng.integers(0, i)].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i > 0 and r < 0.0515:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def main(out, sf):
    tmp = f"{out}.tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in generate(sf).items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    os.replace(tmp, out)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
