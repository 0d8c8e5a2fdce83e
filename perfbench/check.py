"""Output checks: a canonical, order-insensitive hash of a query
result, and the DuckDB oracle it must equal.

Columns are sorted by name and rows by value; floats are rounded to six
decimals (the engine rounds order-dependent sums to two), and integers
and floats hash alike, so Spark's and DuckDB's type choices do not
matter.  When two hashes differ, ``same_rows`` decides with a small
float tolerance, which absorbs a sum landing on the other side of a
rounding boundary.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import numpy as np

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _canon(v):
    if v is None or isinstance(v, (str, bool)):
        return v
    if isinstance(v, (float, np.floating, Decimal)):
        v = float(v)
        if math.isnan(v):
            return "nan"
        return round(v, 6) + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (int, np.integer)):
        return float(v) if abs(v) < 2**53 else int(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a Spark struct Row
        return _canon(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return str(v)


def canonical(columns, rows) -> tuple[tuple[str, ...], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return tuple(columns[i] for i in order), out


def digest(columns, rows) -> str:
    cols, canon = canonical(columns, rows)
    return hashlib.sha256(repr((cols, canon)).encode()).hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-5 + 1e-9 * abs(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def _coarse(v):
    if isinstance(v, float):
        return round(v, 3)
    if isinstance(v, tuple):
        return tuple(_coarse(x) for x in v)
    return v


def same_rows(got, want) -> bool:
    """Tolerant comparison of two results given as ``(columns, rows)``."""
    (gc, g), (wc, w) = canonical(*got), canonical(*want)
    if gc != wc or len(g) != len(w):
        return False
    g = sorted(g, key=lambda r: repr(_coarse(r)))
    w = sorted(w, key=lambda r: repr(_coarse(r)))
    return all(map(_close, g, w))


def oracle(sf_dir: str):
    """DuckDB connection with every input table as a view; ``run(sql)``
    returns ``(columns, rows)``."""
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )

    def run(sql: str):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()

    return con, run
