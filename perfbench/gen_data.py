#!/usr/bin/env python3
"""Write a seeded, sf-shaped table directory for the benchmark.

The engine's catalog reads one parquet file per table
(`<dir>/<table>.parquet`). This generator writes the ten tables with the
column names and types the engine expects, sized by scale factor like
the reference generator (sf0.1: events 100k rows, lineitem 600k rows).
The serve workload queries `events`; the suite queries every table. The
directory's size decides whether the engine keeps the data resident (the
hot tier is gated on the directory's bytes). Documents follow the
reference data's shape: a 30-word vocabulary, 10-100 words, five
languages, 20 sources, and planted near-duplicates; embeddings are unit
vectors.

Usage: gen_data.py <dst_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# 2024-01-01T00:00:00Z; events span 30 days from here
T0_US = 1704067200 * 1_000_000
SPAN_US = 30 * 86400 * 1_000_000
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write(dst, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def strings(rng, prefix, n, k):
    return pa.array([f"{prefix}{i}" for i in rng.integers(0, k, n)])


def main():
    dst, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(base * sf))

    ne = n(1_000_000)
    ts = np.sort(rng.integers(0, SPAN_US, ne)) + T0_US
    write(dst, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n(15_000)), ne)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.gamma(2.0, 30.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, ne)]),
    })

    write(dst, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array([f"REGION{i}" for i in range(5)]),
    })
    write(dst, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc, npart, ns = n(150_000), n(200_000), n(10_000)
    write(dst, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": strings(rng, "SEGMENT", nc, 5),
    })
    write(dst, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": strings(rng, "part ", npart, 5000),
        "p_brand": strings(rng, "Brand#", npart, 25),
        "p_type": strings(rng, "TYPE", npart, 150),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, npart), 2)),
    })
    write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
    })
    no = n(1_500_000)
    date0 = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
    days_us = 86400 * 1_000_000
    write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": strings(rng, "S", no, 3),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, no), 2)),
        "o_orderdate": pa.array(date0 + rng.integers(0, 2400, no) * days_us,
                                type=pa.timestamp("us")),
        "o_orderpriority": strings(rng, "PRIORITY", no, 5),
    })
    nl = n(6_000_000)
    write(dst, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, no, nl))),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": strings(rng, "F", nl, 3),
        "l_linestatus": strings(rng, "L", nl, 2),
        "l_shipdate": pa.array(date0 + rng.integers(0, 2500, nl) * days_us,
                               type=pa.timestamp("us")),
    })
    # documents of 10-100 words; one in 20 repeats an earlier document's
    # text with the word "dup" appended, so the dedup kernels find
    # near-duplicates
    nd = n(50_000)
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in lens]
    for i in range(1, nd):
        if rng.random() < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    write(dst, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, nd, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    nv = n(20_000)
    emb = rng.standard_normal((nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write(dst, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })


if __name__ == "__main__":
    main()
