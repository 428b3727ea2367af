#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the ten tables graft's registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types and value domains
of the star-schema-plus-log test data the engine is developed against.

The tables depend only on DATA_SEED, GENERATOR_VERSION and the scale; the
run seed never reaches them (it picks request order, append slices and
fetch positions). Bump GENERATOR_VERSION on any change here so cached
copies are rebuilt.

    python3 perfbench/gen_data.py <out_dir> [scale]

`scale` 1.0 is the sf0.01 size (60k lineitem rows, 10k events).
"""
import datetime as dt
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
DATA_SEED = 42

VOCAB = ("the a data row column table key value join filter group sort "
         "merge hash scan agg window stream batch spark query vector part "
         "line order customer small big fast slow").split()
PART_WORDS = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUNS = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget",
              "pipe"]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") +
                     (seconds * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def tables(scale):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_docs, n_emb = 500, 500
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    names = np.array([f"{a} {b}" for a in PART_WORDS for b in PART_NOUNS])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    span = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    odays = rng.integers(0, span + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays * 86400.0),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"),
                      ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_li)]
    sdays = rng.integers(1, span + 96, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": _ts("1995-01-01", sdays * 86400.0)})
    # A 30-day log: event ids follow time order, every timestamp distinct.
    n_users = max(n_ev // 67, 8)
    secs = np.sort(rng.choice(30 * 86400 * 1000000, n_ev, replace=False)) / 1e6
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    texts = []
    for i in range(n_docs):
        words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        if i % 20 == 19:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir, scale):
    import os
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables(scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))
        sizes[name] = {"rows": tbl.num_rows, "row_groups": 1,
                       "bytes": os.path.getsize(path)}
    return sizes


if __name__ == "__main__":
    print(write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0))
