#!/usr/bin/env python3
"""Writes perfbench/expected.json, the reference results of the query keys.

    python3 perfbench/make_expected.py

For each key of the iterative and analytics workloads, at each scale factor a
workload or the self-test reads, DuckDB runs the key's oracle SQL
(graft.SparkEntry.oracleSql) on the fixture parquet, and the result's row count
and digest are recorded. The digest follows Canon.scala: columns in name order,
cells rendered as text, numbers as exact decimals (integral ones below 1e15
whole, the rest rounded to 10 significant digits), and the sum mod 2^64 of the
first 8 bytes of each row's SHA-256.
"""
import datetime
import hashlib
import json
import math
import os
import subprocess
import sys
from decimal import Decimal, Context, ROUND_HALF_EVEN
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# scale factor -> the workloads whose keys read it (tiny = the self-test)
SCALES = {"sf0.001": ("iterative", "analytics"), "sf0.01": ("iterative",),
          "sf0.1": ("analytics",)}
TENS15 = Decimal(10) ** 15
CTX = Context(prec=10, rounding=ROUND_HALF_EVEN)


def num(d):
    if d == 0:
        return "0"
    if d == d.to_integral_value() and abs(d) < TENS15:
        return str(int(d))
    return format(CTX.plus(d).normalize(CTX), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return num(Decimal(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return num(Decimal(v))
    if isinstance(v, Decimal):
        return num(v)
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        text = "\t".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")
    return len(rows), f"{total % (1 << 64):016x}"


def main():
    data = Path(os.environ.get("GRAFT_TESTDATA") or Path.home() / "testdata")
    run.build(run.tree_digest())
    work = run.ROOT / ".bench_work" / "oracle"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    dump = work / "oracle.json"
    subprocess.run(run.java_cmd(["--dump-oracle", str(dump)], work), check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    dumped = json.loads(dump.read_text())
    oracle, keys = dumped["sql"], dumped["keys"]
    out = {}
    for sf, workloads in SCALES.items():
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data / sf / t}.parquet'")
        out[sf] = {}
        for w in workloads:
            for k in keys[w]:
                rel = con.sql(oracle[k])
                n, d = digest(rel.columns, rel.fetchall())
                out[sf][k] = {"rows": n, "digest": d}
                print(sf, k, n, d)
    (run.BENCH / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
