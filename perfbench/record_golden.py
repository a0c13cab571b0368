#!/usr/bin/env python3
"""Record perfbench/golden.json: the per-query result fingerprints the
warm-up pass of every run is checked against.

Each registry entry with an oracle (`SparkEntry.oracleSql`) gets the
fingerprint of its DuckDB result on the benchmark fixture. An entry
without one gets Spark's own fingerprint, and only if two runs of it
agree. Entries where Spark and DuckDB disagree are listed; they keep
the DuckDB fingerprint, so they fail the benchmark until fixed.

Run once per fixture change: python3 perfbench/record_golden.py
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import struct
import subprocess
import sys

import duckdb

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def token(v):
    """Mirror of perfbench.Canon.token."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "d" + format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, decimal.Decimal):
        return "m" + str(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            off = v.utcoffset()
            naive = v.replace(tzinfo=None) - off
            return "t" + str((naive - EPOCH) // datetime.timedelta(microseconds=1)) + "Z"
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={token(x)}" for k, x in v.items()) + "}"
    return "?" + str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    md = hashlib.md5("\u001f".join(sorted(cols)).encode())
    for r in rows:
        md.update("\u001e".encode())
        md.update("\u001f".join(token(r[i]) for i in order).encode())
    return {"rows": len(rows), "md5": md.hexdigest()}


def main():
    _, _, classpath = build.build()
    work = os.path.join(run.BUILD, "golden")
    shutil.rmtree(work, ignore_errors=True)
    fixture = os.path.join(work, "fixture")
    _, _, fixture_fp = run.make_fixture(fixture)
    os.makedirs(os.path.join(work, "tmp"))
    dump = os.path.join(work, "spark.json")
    code, _, err = run.java("perfbench.DumpResults", [fixture, dump], classpath,
                            os.path.join(work, "tmp"), timeout=3000)
    if code != 0:
        sys.stderr.write(err[-4000:])
        sys.exit("DumpResults failed")
    with open(dump) as f:
        spark = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    golden, notes = {}, []
    for name in sorted(spark["spark"]):
        s = spark["spark"][name]
        if name in spark["oracle"]:
            try:
                cur = con.execute(spark["oracle"][name])
                p = fingerprint([d[0] for d in cur.description], cur.fetchall())
            except Exception as e:  # an oracle that cannot run is a finding, not golden
                notes.append(f"{name}: oracle error {e}")
                continue
            golden[name] = dict(p, source="duckdb")
            if s.get("md5") != p["md5"]:
                notes.append(f"{name}: spark {s} != duckdb {p}")
        elif "md5" in s and spark["spark_again"].get(name) == s:
            golden[name] = dict(s, source="spark")
        else:
            notes.append(f"{name}: no oracle and spark runs differ or failed: "
                         f"{s} / {spark['spark_again'].get(name)}")
    out = {"fixture_scale": run.gen_fixture.SCALE, "fixture_seed": run.gen_fixture.FIXTURE_SEED,
           "fixture": fixture_fp, "notes": notes, "queries": golden}
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"{len(golden)} golden fingerprints, {len(notes)} notes")
    for n in notes:
        print("  " + n)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
