#!/usr/bin/env python3
"""Seeded corpus generator for the benchmark.

Writes one parquet file per table into an output directory, with the
column names, types and nullability of the project's corpus contract
(`CorpusContractSpec`, FIXTURES.md): a TPC-H-style star schema, an
`events` stream table and the LLM-pipeline tables `documents` and
`embeddings`. The same (seed, factor) always gives byte-identical inputs.

Make-up, at factor N over a base of the sf0.001 corpus's sizes:
  * dimension tables (region, nation, customer, supplier, part): one copy,
    base size;
  * orders, lineitem, events: a base block replicated N times, each
    replica with its keys shifted past the previous one (orders and
    lineitem share the shift, so the join keys stay consistent);
  * documents: N * base_docs rows; a DUP_SHARE of them are verbatim
    copies of an earlier document and an EDIT_SHARE are copies with
    seeded token edits (substitutions, an insertion, a deletion);
  * embeddings: N * base_vecs seeded random unit vectors; an EDIT_SHARE
    of them are noisy copies of an earlier vector.

Usage: gen.py --seed S [--factor N] --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUP_SHARE = 0.10   # verbatim copies of an earlier document
EDIT_SHARE = 0.15  # copies with seeded token edits

VOCAB = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join batch sort value hash filter big data dup "
         "spark line small fast group customer").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "thin"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "screw", "plate", "spring"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

# base row counts: the sf0.001 shape (the sf0.1 shape is 100x on the fact
# and dimension tables, 10x on documents and embeddings)
BASE = dict(customer=150, supplier=10, part=200, orders=1500, events=1000,
            docs=500, vecs=200)

MS_PER_DAY = 86_400_000
D1995 = 9131 * MS_PER_DAY            # 1995-01-01 as epoch ms
D2024_US = 19723 * MS_PER_DAY * 1000  # 2024-01-01 as epoch micros


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_ms(a):
    return pa.array(a.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def dimensions(rng, out, b):
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = b["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)]})
    n = b["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = b["part"]
    adj = rng.integers(0, len(PART_ADJ), n)
    noun = rng.integers(0, len(PART_NOUN), n)
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[o]}" for a, o in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": PART_TYPES[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})


def facts(rng, out, b, factor):
    no = b["orders"]
    okey = np.arange(no, dtype=np.int64)
    odate = D1995 + rng.integers(0, 2404, no) * MS_PER_DAY
    orders = {
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, b["customer"], no, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": odate,
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)]}
    nlines = rng.integers(1, 8, no)
    lok = np.repeat(okey, nlines)
    nl = len(lok)
    first = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lineitem = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, b["part"], nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, b["supplier"], nl, dtype=np.int64),
        "l_linenumber": (np.arange(nl) - first + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 100000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": np.repeat(odate, nlines) + rng.integers(1, 122, nl) * MS_PER_DAY}
    ne = b["events"]
    events = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": D2024_US + np.sort(rng.integers(0, 30 * MS_PER_DAY * 1000, ne)),
        "user_id": rng.integers(0, 1500, ne, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": money(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}
    # replicate with shifted keys: replica r adds r * (max key + 1)
    def rep(cols, keys):
        shift = {k: int(cols[k].max()) + 1 for k in keys}
        return {c: np.concatenate([v + r * shift[c] if c in shift else v
                                   for r in range(factor)])
                for c, v in cols.items()}
    orders = rep(orders, ["o_orderkey"])
    lineitem = rep(lineitem, ["l_orderkey"])  # every order has a line: same shift
    events = rep(events, ["event_id"])
    orders["o_orderdate"] = ts_ms(orders["o_orderdate"])
    lineitem["l_shipdate"] = ts_ms(lineitem["l_shipdate"])
    events["ts"] = pa.array(events["ts"].astype("datetime64[us]"), type=pa.timestamp("us"))
    write(out, "orders", orders)
    write(out, "lineitem", lineitem)
    write(out, "events", events)


def documents(rng, out, b, factor):
    n = b["docs"] * factor
    vocab = np.array(VOCAB)
    texts = []
    kind = rng.choice(3, n, p=[1 - DUP_SHARE - EDIT_SHARE, DUP_SHARE, EDIT_SHARE])
    kind[0] = 0
    for i in range(n):
        if kind[i] == 0:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 80))]))
            continue
        src = texts[rng.integers(0, i)]
        if kind[i] == 1:
            texts.append(src)
            continue
        toks = src.split(" ")
        for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
            toks[j] = vocab[rng.integers(0, len(vocab))]
        toks.insert(int(rng.integers(0, len(toks) + 1)), vocab[rng.integers(0, len(vocab))])
        if len(toks) > 8:
            del toks[int(rng.integers(0, len(toks)))]
        texts.append(" ".join(toks))
    write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i}" for i in np.arange(n) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, out, b, factor):
    n = b["vecs"] * factor
    v = rng.normal(size=(n, 64))
    # an EDIT_SHARE of the vectors are noisy copies of an earlier one
    # (cosine ~0.9 to it): near-duplicates for the vector operators
    near = np.flatnonzero(rng.random(n) < EDIT_SHARE)
    near = near[near > 0]
    src = (rng.random(len(near)) * near).astype(np.int64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for i, s in zip(near, src):
        v[i] = v[s] + rng.normal(scale=0.06, size=64)
        v[i] /= np.linalg.norm(v[i])
    write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))})


def generate(out, seed, factor):
    os.makedirs(out, exist_ok=True)
    b = BASE
    # one independent stream per table family: adding a table never
    # shifts the others' inputs
    dimensions(np.random.default_rng([seed, 1]), out, b)
    facts(np.random.default_rng([seed, 2]), out, b, factor)
    documents(np.random.default_rng([seed, 3]), out, b, factor)
    embeddings(np.random.default_rng([seed, 4]), out, b, factor)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--factor", type=int, default=2)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.out, a.seed, a.factor)
