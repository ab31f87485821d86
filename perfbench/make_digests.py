#!/usr/bin/env python3
"""Derive perfbench/digests.json from the DuckDB oracle.

Usage, from the root of a checkout:  python3 perfbench/make_digests.py

Asks the harness for the oracle SQL of every registry op the workloads run
(`SparkEntry.oracleSql`), runs it in DuckDB over the fixture tables in
perfbench/data/sf0.01, and stores one digest per query. The digest rules
are those of `Digest.scala`: columns by name, rows as a set, floats by
their float64 bit pattern — the canonical form `tools/check_oracle.py`
compares. Run it again only when a workload's query list or the fixture
changes; the benchmark itself never calls DuckDB.
"""
import datetime
import decimal
import hashlib
import json
import math
import struct
import sys
from pathlib import Path

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def bits(f: float) -> str:
    if math.isnan(f):
        f = float("nan")
    elif f == 0.0:
        f = 0.0
    return struct.pack(">d", f).hex()


def cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return bits(v)
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(tbl) -> str:
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = sorted(sha("\t".join(cell(c[i]) for c in cols)) for i in range(tbl.num_rows))
    return sha("\n".join([",".join(names)] + rows))


def main():
    run.build()
    sql_file = run.WORK / "oracle_sql.json"
    run.harness(["--oracle-sql", str(sql_file)], "oracle.log")
    oracle = json.loads(sql_file.read_text())
    data = run.BENCH / "data" / "sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
    out = {}
    for name, sql in sorted(oracle.items()):
        out[name] = digest(con.execute(sql).arrow())
        print(f"{name}: {out[name]}", file=sys.stderr)
    (run.BENCH / "digests.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
