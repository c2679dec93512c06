#!/usr/bin/env python3
"""Seeded input tables for the operator_panel workload.

Writes the ten tables the operator keys read (region nation customer
supplier part orders lineitem events documents embeddings), one Parquet
file each, with the column names, types and value distributions of a
TPC-H-like star schema plus an event stream, a text corpus and unit
embeddings. The same seed gives byte-identical files.

    python3 perfbench/panelgen.py <out-dir> <seed> [scale]

`scale` multiplies the row counts of the scale-dependent tables (customer,
supplier, part, orders, lineitem, events); 1.0 gives 1,500 orders and
6,000 line items.
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
         "sort window order data column join small customer query big stream group "
         "filter vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def day_stamps(rng, n, first, days):
    """Midnight timestamps, uniform over `days` days from `first`."""
    base = np.datetime64(first, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def cents(x):
    return np.round(x, 2)


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150 * scale), max(10, int(10 * scale)), int(200 * scale)
    n_orders, n_events = int(1500 * scale), int(1000 * scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(rng.uniform(-999.99, 9999.99, n_supp))})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": cents(900.0 + (np.arange(n_part) % 1000) * 0.1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": cents(rng.uniform(1000.0, 500000.0, n_orders)),
        "o_orderdate": day_stamps(rng, n_orders, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": cents(qty * rng.uniform(900.0, 2100.0, n_lines)),
        "l_discount": np.round(rng.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": day_stamps(rng, n_lines, "1995-01-02", 2499)})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, cents(rng.exponential(50.0, n_events))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    n_docs = 500
    words = [list(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n_docs)]
    # every tenth document is a near duplicate of an earlier one of 40 words
    # or more: its last word replaced, so that the dedup keys find pairs
    for i in range(10, n_docs, 10):
        src = int(rng.integers(0, i))
        while len(words[src]) < 40:
            src = (src + 1) % i
        words[i] = words[src][:-1] + [WORDS[(WORDS.index(words[src][-1]) + 1) % len(WORDS)]]
    texts = [" ".join(w) for w in words]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = 500
    v = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


def write(out_dir, seed, scale=1.0):
    import os
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
