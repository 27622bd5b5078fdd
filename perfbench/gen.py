"""Seeded input tables for the benchmark.

`write_tables(out_dir, sf, seed)` writes the ten parquet tables the
program's queries read (`region nation customer supplier part orders
lineitem events documents embeddings`), with the schemas and value
domains of the project's synthetic test corpus. The same (sf, seed)
always gives byte-identical values; the program only ever sees the
files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.13, 0.14, 0.15, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]

EPOCH_1995 = np.datetime64("1995-01-01", "D")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def sizes(sf):
    return {
        "customer": max(150, int(150000 * sf)),
        "supplier": max(10, int(10000 * sf)),
        "part": max(200, int(200000 * sf)),
        "orders": max(1500, int(1500000 * sf)),
        "events": max(1000, int(1000000 * sf)),
        "users": max(15, int(15000 * sf)),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    d = rng.integers(lo, hi, n).astype("timedelta64[D]")
    return (EPOCH_1995 + d).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": list(rng.choice(SEGMENTS, nc))})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, npart),
                                              rng.choice(P_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": list(rng.choice(P_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})

    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": list(rng.choice(["P", "O", "F"], no)),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 0, 2404, no),
        "o_orderpriority": list(rng.choice(PRIORITIES, no))})

    lines_per = rng.integers(1, 8, no)
    nl = int(lines_per.sum())
    okey = np.repeat(np.arange(no), lines_per)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days(rng, 1, 2500, nl)})

    ne = n["events"]
    gaps = rng.integers(1, 2 * 30 * 86400 * 1000000 // ne, ne)
    ts = EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": list(rng.choice(EVENT_TYPES, ne)),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:      # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.07:    # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": list(rng.choice(LANGS, nd, p=LANG_P)),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
