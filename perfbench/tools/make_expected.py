#!/usr/bin/env python3
"""Regenerates `perfbench/expected/<sf>.json`, the stored results that
every benchmark run checks its outputs against, so runs need no DuckDB.

For each query of the workloads, at their sf:
  - a query with a DuckDB oracle (`Q.oracle`) gets the digest of the
    oracle's rows on `perfbench/data/<sf>`, canonicalized exactly as
    `harness/Canon.scala` canonicalizes Spark's rows ("source": "oracle");
  - a rows-only query gets the schema Spark produces, and a run checks
    that schema and a non-empty result ("source": "rows-only");
  - an oracle that DuckDB cannot finish within the limits below gets the
    digest of Spark's result at the current commit instead
    ("source": "seed-pinned, not oracle").

It also runs every query once in Spark and prints each query whose
Spark digest differs from the stored one: those are the mismatches a
benchmark run will count as failures.

Needs the `duckdb` Python package. Usage:
    python3 perfbench/tools/make_expected.py
"""
import datetime
import hashlib
import json
import math
import shutil
import sys
import threading
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ORACLE_TIMEOUT_S = 120
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def num(x):
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0:
        return "0"
    return format(Decimal(x), "f")


def text(s):
    return (s.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r"))


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, Decimal):
        return num(float(v))
    if isinstance(v, str):
        return text(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return text(str(v))


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(sha256("\t".join(value(r[i]) for i in order)) for r in rows)
    return sha256(",".join(columns[i] for i in order) + "\n" + "\n".join(hashes))


def oracle_digest(con, sql):
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        rows = cur.fetchall()
        return len(rows), digest([d[0] for d in cur.description], rows)
    finally:
        timer.cancel()


def main():
    import duckdb
    workloads = json.loads((HERE / "workloads.json").read_text())
    (sf,) = {w["sf"] for w in workloads.values()}
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    data = HERE / "data" / sf
    engine = build.build()
    scratch = build.build_dir() / "expected-work"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    try:
        oracles = build.jvm(engine, "oracles", ["--queries", ",".join(names)],
                            scratch / "oracles", scratch / "oracles.log")
        spark = build.jvm(engine, "pin", ["--queries", ",".join(names), "--data", str(data)],
                          scratch / "pin", scratch / "pin.log")
        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{scratch / 'duckdb'}'")
        con.execute("SET max_temp_directory_size='4GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected = {}
        for n in names:
            s = spark[n]
            if n not in oracles:
                expected[n] = {"check": "schema", "source": "rows-only",
                               "schema": s.get("schema"), "rows": s.get("rows")}
                continue
            try:
                rows, h = oracle_digest(con, oracles[n])
                expected[n] = {"check": "hash", "source": "oracle", "rows": rows, "sha256": h}
            except Exception as e:  # DuckDB gave up: pin Spark's result instead
                print(f"{n}: oracle failed ({e}); seed-pinned", file=sys.stderr)
                expected[n] = {"check": "hash", "source": "seed-pinned, not oracle",
                               "rows": s.get("rows"), "sha256": s.get("sha256")}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for n in names:
        e, s = expected[n], spark[n]
        if "error" in s:
            print(f"MISMATCH {n}: Spark failed: {s['error'][:200]}")
        elif e["check"] == "hash" and e["sha256"] != s["sha256"]:
            print(f"MISMATCH {n}: spark {s['rows']} rows, expected {e['rows']}")
    (HERE / "expected" / f"{sf}.json").write_text(
        json.dumps({"sf": sf, "queries": expected}, indent=1, sort_keys=True) + "\n")
    print(f"{sf}: {len(expected)} expected results written")


if __name__ == "__main__":
    main()
