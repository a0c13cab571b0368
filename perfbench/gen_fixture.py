#!/usr/bin/env python3
"""Deterministic generator of the query fixture: the ten TPC-H-ish,
stream, text and vector tables that `SparkEntry.queries` reads.

The value domains follow the repository's FIXTURES.md (key ranges,
2-decimal measures, timestamp[us] dates, a 30-word lowercase
vocabulary with planted near-duplicates, unit-norm 64-d float
embeddings). The fixture is a pure function of (scale, fixture seed):
the golden result fingerprints in golden.json were recorded from it,
so changing this file or its seed means re-recording them
(record_golden.py).

Usage: gen_fixture.py OUTDIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01
FIXTURE_SEED = 42

WORDS = ("join hash row batch scan customer column filter small slow "
         "merge order vector line data table agg value key stream "
         "window spark a group part big sort query fast the").split()
ADJ = "small red blue hot old large new cold".split()
NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def cents(rng, lo, hi, n):
    """Exact 2-decimal doubles in [lo, hi] (integer cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def days(rng, first, last, n):
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def counts(scale):
    return {
        "supplier": max(10, round(10_000 * scale)),
        "customer": max(150, round(150_000 * scale)),
        "part": max(200, round(200_000 * scale)),
        "orders": max(1_500, round(1_500_000 * scale)),
        "lineitem": max(6_000, round(6_000_000 * scale)),
        "events": max(1_000, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    centroids = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n)
    v = centroids[label] + rng.normal(0.0, 1.5, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    c = counts(scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": cents(rng, -999.99, 9999.99, n)})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n)})
    n = c["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pick(rng, TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": (9000 + np.arange(n) % 1000) / 10.0})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n).astype(np.int64),
        "o_orderstatus": pick(rng, ["P", "O", "F"], n),
        "o_totalprice": cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n)),
        "o_orderpriority": pick(rng, PRIORITIES, n)})
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, c["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n))})
    n = c["events"]
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, max(150, c["customer"] // 10), n).astype(np.int64),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n) * 100), 1) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    t["documents"] = documents(rng, c["documents"])
    t["embeddings"] = embeddings(rng, c["embeddings"])
    return t


def write(outdir):
    """Write the fixture's tables into outdir, one parquet file each."""
    os.makedirs(outdir, exist_ok=True)
    for name, tbl in tables(SCALE, FIXTURE_SEED).items():
        pq.write_table(tbl, os.path.join(outdir, f"{name}.parquet"),
                       row_group_size=1 << 30, compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1])
