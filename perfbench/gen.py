#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten source tables the query registry reads (`region nation
customer supplier part orders lineitem events documents embeddings`,
one parquet file each) with the same schemas and value distributions as
the project's reference test data, drawn from a numpy generator seeded
by `--seed`. The same (seed, sizes) always produces byte-identical
tables, so a finished directory is reused: `generate` returns early when
its `_DONE` marker exists.

Sizes: `--scale` sizes the star schema and the events table like a
TPC-H scale factor (sf 0.01 = 60k lineitem rows, 10k events);
`--corpus` multiplies the text/vector corpus (1.0 = 5,000 documents and
2,000 64-dim embeddings). Five percent of the documents are near
duplicates of an earlier document (its text plus a trailing token), so
the dedup operators always have work.

Usage: python3 perfbench/gen.py OUT_DIR --seed N [--scale S] [--corpus C]
"""
import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "green", "large", "shiny", "matte", "old"]
P_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring",
          "chain"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end] (dates)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return _ts(rng.integers(lo, hi + 1, n) * DAY_US)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _tpch(out, rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), \
        int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})


def _events(out, rng, sf):
    n, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    # one month of traffic: exponential gaps, so ts rises with event_id
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64) + 1
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(start + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _corpus(out, rng, corpus):
    n_doc, n_vec = int(5_000 * corpus), int(2_000 * corpus)
    lens = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(WORDS[w] for w in words[e - k:e])
             for e, k in zip(ends, lens)]
    # 5% near duplicates: an earlier document's text plus a marker token
    dups = rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)
    for j in dups:
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    ids = np.arange(n_doc, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def generate(out, seed, scale, corpus):
    """Write the tables into `out` unless a finished copy is there."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # independent streams per table group: resizing one group never
    # changes another group's values
    tpch, ev, docs = (np.random.default_rng([seed, k]) for k in range(3))
    _tpch(tmp, tpch, scale)
    _events(tmp, ev, scale)
    _corpus(tmp, docs, corpus)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--corpus", type=float, default=1.0)
    a = ap.parse_args()
    print(generate(a.out, a.seed, a.scale, a.corpus))


if __name__ == "__main__":
    main()
