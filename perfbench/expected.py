#!/usr/bin/env python3
"""Derive the batch workloads' expected results from the DuckDB oracle.

Usage: expected.py <oracle_sql.json> <sf dir> <out.tsv>

<oracle_sql.json> is graft's `SparkEntry.oracleSql`, as written by
`graftbench.Main --dump-oracle <file>`. Each oracle query runs in DuckDB
over the parquet tables of <sf dir> (the same views as
tools/check_oracle.py). One line per query: name, row count, and the
order-independent content hash that `Canon.hash` computes on the Spark
side ("-" where only the row count is checked).
"""
import calendar
import datetime
import decimal
import hashlib
import json
import os
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Queries with approximate answers: the oracle checks their row count only.
ROWS_ONLY = {"a1_approx_agg": "SELECT DISTINCT event_type FROM events"}


def dbl(d):
    if d != d:
        return "nan"
    if d not in (float("inf"), float("-inf")) and d == int(d) and abs(d) < 9.2e18:
        return str(int(d))
    return str(struct.unpack(">q", struct.pack(">d", d))[0])


def value(v):
    """Mirror of Canon.value in the harness."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v.is_finite() and v == v.to_integral_value() and abs(v) < 2 ** 63:
            return str(int(v))
        return dbl(float(v))
    if isinstance(v, float):
        return dbl(v)
    if isinstance(v, str):
        return f"{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return f"?{type(v).__name__}:{v}"


def content_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        line = "\u0001".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    head = ",".join(cols[i] for i in order) + "|" + str(total % 2 ** 64)
    return hashlib.sha256(head.encode()).digest()[:8].hex()


def main():
    oracle_path, sf, out = sys.argv[1:4]
    oracles = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    lines = [f"# name\trows\thash  (DuckDB oracle over {os.path.basename(sf.rstrip('/'))})"]
    for name in sorted(set(oracles) | set(ROWS_ONLY)):
        sql = ROWS_ONLY.get(name, oracles.get(name))
        try:
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            rows = cur.fetchall()
        except Exception as e:  # an oracle that DuckDB cannot run is left out
            print(f"{name}: oracle error {e}", file=sys.stderr)
            continue
        h = "-" if name in ROWS_ONLY else content_hash(cols, rows)
        lines.append(f"{name}\t{len(rows)}\t{h}")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
