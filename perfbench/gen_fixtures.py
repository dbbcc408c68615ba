#!/usr/bin/env python3
"""Generate the benchmark's sf0.1 fixture tables.

The engine's keys read ten parquet tables (a TPC-H-like star schema plus
the events / documents / embeddings tables of the LLM-data operators).
This script writes them with the row counts, schemas, value domains and
physical encodings the engine's keys are written against (FIXTURES.md at
the repository root), from a fixed seed, so every benchmark run reads
byte-identical inputs without any data outside the checkout.

Usage: python3 perfbench/gen_fixtures.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SF = 0.1
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def days(lo, hi, rng, n):
    """Uniform midnight timestamps in [lo, hi] as numpy datetime64[us]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    n_supp, n_part, n_cust = int(10000 * SF), int(200000 * SF), int(150000 * SF)
    n_ord, n_line = int(1500000 * SF), int(6000000 * SF)
    n_events, n_docs, n_emb = int(1000000 * SF), 5000, 2000

    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}
    adj = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    yield "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)]}
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", rng, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]}
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days("1995-01-02", "2001-11-04", rng, n_line)}
    # events: ascending µs timestamps over 30 days, one JSON prop per row
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start
    yield "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}
    # documents: word salad; 5% are an earlier document plus " dup"
    # (near-duplicates), and a handful repeat an earlier text exactly
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 101, n_docs)]
    for i in sorted(rng.choice(np.arange(10, n_docs), 250, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in sorted(rng.choice(np.arange(100, n_docs), 8, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))]
    yield "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    # embeddings: unit vectors, weakly clustered around one centroid per label
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.07 / 8, (10, 64))
    vecs = rng.normal(0.0, 0.125, (n_emb, 64)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(SEED))
    for name, cols in tables(rng):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
