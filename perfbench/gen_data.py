"""Seeded synthetic tables for the query_suite workload.

The same shape as the repository's test data (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`), at a scale chosen by row
counts. The same seed gives byte-identical parquet files.

Usage: python3 gen_data.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash a the line sort "
         "window batch merge spark order data column join small customer "
         "query big stream group filter vector").split()
LANGS = ["en"] * 6 + ["de", "fr", "es", "zh"]
COLORS = ["blue", "hot", "small", "old", "red", "new", "cold"]
NOUNS = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring"]


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days * 86400 * 10**6, n)
    return base + off.astype("timedelta64[us]")


def _days(rng, n, start, days):
    return np.datetime64(start, "us") + (
        rng.integers(0, days, n) * 86400 * 10**6).astype("timedelta64[us]")


def generate(out, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), 100, int(2000 * scale)
    n_ord, n_ev, n_doc, n_emb = (int(15000 * scale), int(10000 * scale),
                                 int(500 * scale), int(500 * scale))

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_ord)]})
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        # whole-unit prices and whole-percent discounts keep every revenue
        # sum exact to the cent, so ROUND(.., 2) never sits on a tie that
        # float summation order could break differently in two engines
        "l_extendedprice": qty * rng.integers(900, 3000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2500)})
    etypes = ["click", "signup", "error", "view", "purchase"]
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_ev, "2024-01-01", 30)),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": [etypes[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    # documents: random word streams, a share of them near copies of an
    # earlier document (a few words swapped), so the dedup families find
    # real candidate pairs
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.2:
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # embeddings: ten labelled clusters in 64 dimensions
    centers = rng.normal(0, 0.15, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = (centers[label] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
