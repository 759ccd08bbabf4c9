#!/usr/bin/env python3
"""Seeded generator of the curation workload's input tables.

Writes the ten tables the roster entries read (TPC-H-style star schema,
an `events` stream table, `documents` and `embeddings`) as one parquet
file each, with the column names and physical types of the engine's
test data. SCALE is the size relative to sf0.1 (0.1 gives sf0.01-sized
tables). The same seed always gives byte-identical files.

Usage: python3 gen_curation.py <seed> <scale> <out-dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def generate(seed, scale, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_cust, n_ord = int(15_000 * scale), int(150_000 * scale)
    n_part, n_supp = int(20_000 * scale), int(1_000 * scale)
    n_events, n_docs = int(100_000 * scale), int(5_000 * scale)
    n_vecs, n_users = int(5_000 * scale), int(1_500 * scale)

    write("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    ck = np.arange(n_cust, dtype=np.int64)
    write("customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"], n_cust),
    })

    sk = np.arange(n_supp, dtype=np.int64)
    write("supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
    })

    pk = np.arange(n_part, dtype=np.int64)
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    write("part", {
        "p_partkey": pk,
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(adjectives, n_part),
                                               rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })

    ok = np.arange(n_ord, dtype=np.int64)
    d0 = np.datetime64("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - d0) / np.timedelta64(1, "D"))
    odate_days = rng.integers(0, span_days + 1, n_ord)
    odate = d0 + odate_days.astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })

    lines_per = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(ok, lines_per)
    n_li = len(l_orderkey)
    ship_lag = rng.integers(1, 96, n_li)
    shipdate = (d0 + np.repeat(odate_days, lines_per).astype("timedelta64[D]")
                + ship_lag.astype("timedelta64[D]"))
    write("lineitem", {
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate(
            [np.arange(1, n + 1) for n in lines_per]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": shipdate.astype("datetime64[us]"),
    })

    e0 = np.datetime64("2024-01-01T00:00:00", "us")
    steps_us = rng.exponential(30 * 86400e6 / n_events, n_events)
    ts = e0 + np.cumsum(steps_us).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_events),
        "value": np.round(rng.exponential(50.0, n_events).clip(0, 600), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    vocab = np.array([
        "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
        "filter", "group", "hash", "join", "key", "line", "merge", "order",
        "part", "query", "row", "scan", "slow", "small", "sort", "spark",
        "stream", "table", "the", "value", "vector", "window"])
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(vocab, n)) for n in lengths]
    # planted exact duplicates at the test data's rate (8 per 5000 docs)
    for i in rng.choice(n_docs, max(1, n_docs * 8 // 5000), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(v.tolist(), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })


if __name__ == "__main__":
    generate(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
