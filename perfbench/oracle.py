"""Result fingerprints: each query's DuckDB oracle, run over the same
generated parquet files, against the Spark rows of ``fn().collect()``.

A fingerprint is a SHA-256 over the sorted multiset of canonical row
strings (columns in name order), so the comparison is order-insensitive
and exact: doubles compare by their shortest round-trip ``repr``.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """(row count, digest) of a result given its column names and rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "|".join(columns[i] for i in order)
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(header.encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def oracle_fingerprints(data_dir: str, tables, queries, threads: int
                        ) -> dict[str, tuple[int, str]]:
    """Run every query's oracle SQL in DuckDB over ``data_dir``."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        for name in tables:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        out = {}
        for q in queries:
            rel = con.sql(q.oracle)
            out[q.name] = fingerprint(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()
