"""Seeded input tables for the benchmark workloads.

Writes the ten tables the query inventory reads (graft.sources.Tables):
the TPC-H-ish star schema, `events`, `documents` and `embeddings`, one
parquet file each, in the regime of the sf0.1 test tables:

  scale 1   sf0.1 sizes: lineitem 600k, orders 150k, part 20k,
            supplier 1k, customer 15k, events 100k (1,500 users),
            documents 5k (30 common tokens + the rare 'dup' token),
            embeddings 2k x 64 (10 labelled clusters).
  scale 0.01  sf0.001 sizes, for the smoke run.
  scale 10  the tools/scale10.py regime: the fact tables, part,
            supplier, events (15,000 users), documents (65 common
            tokens) and embeddings grow 10x; customer, nation and
            region stay as they are.

Everything is a pure function of (scale, seed): the same pair writes the
same tables. Fact and dimension files are written with several row
groups so local scans split across cores, as they do for the scale
probes.

Usage: python3 gen.py <outDir> <scale> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_WORDS = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
              "part", "hash", "merge", "batch", "spark", "a", "the", "line",
              "sort", "window", "order", "data", "column", "join", "small",
              "customer", "query", "big", "stream", "group", "vector",
              "filter"]
DAY_US = 86_400 * 10**6


def _days(rng, start, n_days, size):
    t0 = np.datetime64(start, "us").astype(np.int64)
    return pa.array(t0 + rng.integers(0, n_days, size=size) * DAY_US,
                    pa.timestamp("us"))


def _write(tbl, out, name, row_group):
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"),
                   row_group_size=row_group)


def star(out, scale, rng):
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(regions)}), out, "region", 1 << 20)
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        out, "nation", 1 << 20)

    n_cust = max(5, int(15_000 * min(1, scale)))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])}),
        out, "customer", 1 << 20)

    n_supp = max(5, int(1_000 * scale))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        out, "supplier", 1 << 20)

    n_part = max(5, int(20_000 * scale))
    adj = np.array(["blue", "old", "large", "hot", "cold", "small", "new", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
                     "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                      "MEDIUM"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))}),
        out, "part", 1 << 15)

    n_ord = max(5, int(150_000 * scale))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            [rng.integers(0, 5, n_ord)])}),
        out, "orders", 1 << 17)

    n_li = max(5, int(600_000 * scale))
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)}),
        out, "lineitem", 1 << 17)


def events(out, scale, rng):
    n, users = int(100_000 * scale), max(5, int(1_500 * scale))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, n, dtype=np.int64))
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup",
                                         "error"])[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(v)})
                           for v in rng.integers(0, 100, n)])}),
        out, "events", 1 << 17)


def documents(out, scale, rng):
    n = int(5_000 * scale)
    vocab = np.array(BASE_WORDS + [f"tok{i}" for i in range(35 if scale > 1 else 0)])
    dup_p = 0.05 / max(1, scale)  # ~250 'dup' documents at sf0.1 and 10x
    lens = rng.integers(10, 101, n)
    texts = []
    for i in range(n):
        words = vocab[rng.integers(0, len(vocab), lens[i])].tolist()
        if rng.random() < dup_p:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    # exact copies: ~10 at sf0.1 (the sf0.1 test tables have 8), 150 at 10x
    for _ in range(150 if scale > 1 else max(1, int(10 * scale))):
        j = int(rng.integers(1, n))
        texts[j] = texts[int(rng.integers(0, j))]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[
            rng.choice(5, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}),
        out, "documents", 8192)


def embeddings(out, scale, rng):
    m, dim, k = int(2_000 * scale), 64, 10
    label = rng.integers(0, k, m).astype(np.int32)
    means = rng.normal(0.0, 0.02, size=(k, dim))
    vecs = (means[label] + rng.normal(0.0, 0.12, size=(m, dim))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(label)}),
        out, "embeddings", 8192)


def generate(out, scale, seed):
    os.makedirs(out, exist_ok=True)
    # one independent stream per table, so adding a table never shifts
    # the others
    streams = np.random.SeedSequence(seed).spawn(4)
    star(out, scale, np.random.default_rng(streams[0]))
    events(out, scale, np.random.default_rng(streams[1]))
    documents(out, scale, np.random.default_rng(streams[2]))
    embeddings(out, scale, np.random.default_rng(streams[3]))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
