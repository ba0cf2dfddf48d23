#!/usr/bin/env python3
"""Deterministic benchmark fixture: a TPC-H-ish star at scale factor 0.1
plus the documents/embeddings corpus the ingest chain bumps.

The tables carry the same parquet schema, row counts and value domains as
the sf0.1 test fixture the program's specs and oracle use (region 5,
nation 25, supplier 1k, customer 15k, part 20k, orders 150k,
lineitem 600k, documents 5k, embeddings 2k x 64), so the cube schema in
graft.engine.TpchStar and the ingest entry points run unchanged. The
content is fixed (seed 42): the benchmark's --seed only draws request
streams and CDC feeds over it.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import math
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_SUPP, N_CUST, N_PART, N_ORD, N_LINE = 1_000, 15_000, 20_000, 150_000, 600_000
N_DOCS, N_VECS, DIM = 5_000, 2_000, 64

VOCAB = ("key agg row scan slow fast table value part hash batch window spark "
         "order data column join small line customer the big merge stream "
         "filter group vector query index dup a sort").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]


def ts_us(days):
    """Days since 1970-01-01 -> naive microsecond timestamps (the fixture's
    TIMESTAMP(isAdjustedToUTC=false, MICROS) flavour)."""
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def day(y, m, d):
    return (np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01")).astype(int)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star(out, rng):
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUST)]})
    adj = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
    noun = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
    names = np.array([f"{a} {n}" for a in adj for n in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": names[rng.integers(0, len(names), N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": types[rng.integers(0, len(types), N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(N_PART) % 1000) / 10.0})
    o_lo, o_hi = day(1995, 1, 1), day(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORD)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORD), 2),
        "o_orderdate": ts_us(rng.integers(o_lo, o_hi + 1, N_ORD)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORD)]})
    l_lo, l_hi = day(1995, 1, 2), day(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINE).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINE), 2),
        "l_discount": rng.integers(0, 11, N_LINE) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINE) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINE)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINE)],
        "l_shipdate": ts_us(rng.integers(l_lo, l_hi + 1, N_LINE))})


def corpus(out, r):
    """Documents with a few exact copies and ~3% near-duplicate mutations;
    unit embeddings in 10 gaussian clusters with a small near-dup
    population — the shape the dedup verdicts are defined over."""
    docs = []
    for i in range(N_DOCS):
        x = r.random()
        if i > 10 and x < 0.003:
            text = docs[r.randrange(len(docs))][1]
        elif i > 10 and x < 0.03:
            toks = docs[r.randrange(len(docs))][1].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[r.randrange(len(toks))] = VOCAB[r.randrange(len(VOCAB))]
            text = " ".join(toks)
        else:
            target, toks, ln = r.randint(44, 577), [], 0
            while ln < target:
                t = VOCAB[r.randrange(len(VOCAB))]
                toks.append(t)
                ln += len(t) + 1
            text = " ".join(toks)
        docs.append((i, text, r.choices(LANGS, weights=LANG_W)[0], f"src{i % 20}"))
    write(out, "documents", {
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())})
    k, centers, vecs = 10, [], []
    for _ in range(k):
        v = [r.gauss(0, 1) for _ in range(DIM)]
        n = math.sqrt(sum(c * c for c in v))
        centers.append([c / n for c in v])
    for i in range(N_VECS):
        if i > 10 and r.random() < 0.02:
            base, label = vecs[r.randrange(len(vecs))][1:]
            v = [c + r.gauss(0, 0.002) for c in base]
        else:
            label = r.randrange(k)
            v = [c + r.gauss(0, 0.25) for c in centers[label]]
        n = math.sqrt(sum(c * c for c in v)) or 1.0
        vecs.append((i, [c / n for c in v], label))
    write(out, "embeddings", {
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in vecs], pa.int32())})


def main():
    out = sys.argv[1]
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    star(tmp, np.random.default_rng(SEED))
    corpus(tmp, random.Random(SEED))
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
