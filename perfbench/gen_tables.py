#!/usr/bin/env python3
"""Seeded generator for the `queries` workload's input tables.

Writes the ten tables the headline queries read (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`), one single-row-group parquet
file each, named `<table>.parquet`. The schemas and value domains follow the
engine's gate tables (integer keys from 0, money with two decimals, discount
and tax in hundredths, space-separated word documents with a few exact
duplicates, unit-norm 64-dimensional float embeddings), so every oracle in
`SparkEntry.oracleSql` applies unchanged. Row counts scale linearly with
`sf`; at sf=0.1 they match the 0.1 gate tier (600k lineitem rows).

    python3 gen_tables.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark table query join scan filter group agg sort hash "
         "key value row column batch stream window order part line customer "
         "vector merge fast slow small big").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_orders = max(1_000, int(1_500_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(50, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    adjectives = np.array(["large", "hot", "blue", "small", "shiny", "old"])
    nouns = np.array(["ring", "bolt", "anvil", "widget", "gear"])
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 5, n_part)]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])[
            rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n_orders, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2400, n_orders) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)]})

    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(ok, lines_per_order)
    n_lines = len(l_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_linenumber = (np.arange(n_lines) - starts + 1).astype(np.int32)
    order = rng.permutation(n_lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order[order],
        "l_partkey": rng.integers(0, n_part, n_lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines, dtype=np.int64),
        "l_linenumber": pa.array(l_linenumber[order]),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, n_lines) * DAY_US)})

    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": rng.integers(0, max(10, n_events // 66), n_events, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    words = np.array(WORDS)
    lengths = rng.integers(8, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # a few exact duplicates, as in a crawled corpus
    n_dup = max(1, n_docs // 600)
    for src, dst in zip(rng.choice(n_docs, n_dup, replace=False),
                        rng.choice(n_docs, n_dup, replace=False)):
        texts[dst] = texts[src]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in np.arange(n_docs) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32))})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen_tables.py <out_dir> <seed> <sf>")
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
