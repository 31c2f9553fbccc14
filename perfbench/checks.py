"""Output checks: row count plus an order-insensitive digest.

A result is reduced to ``(rows, sha256)`` where the digest covers the
sorted, canonicalized rows with columns in name order, so two engines
agree exactly when they return the same multiset of rows.  DuckDB runs
the registry's oracle SQL over the same parquet files the engine read.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import duckdb


def _canon(v):
    """One cell in a form whose repr is equal exactly when the values
    compare equal across the two engines (an int-valued float or
    decimal reads as the int, any other decimal as its float)."""
    if v is None:
        return None
    if isinstance(v, (bool, int)):
        return int(v)
    if isinstance(v, (float, Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if math.isfinite(v) and v == int(v):
            return int(v)
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """``(row count, order-insensitive sha256)`` of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, type(x).__name__, repr(x)) for x in t),
    )
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return len(canon), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    return digest(df.columns, [tuple(r) for r in df.collect()])


def duck(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table under
    ``sf_dir``."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())
