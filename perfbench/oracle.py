"""Answer checks against DuckDB over the same parquet files.

Rows are compared as multisets (both sides sorted after normalisation).
Non-float cells must be equal. Doubles must agree to ``REL_TOL`` relative
(or ``ABS_TOL`` absolute, near zero) — partial-aggregation order makes the
last digits of a double SUM differ between two engines. A column named in
``Query.within`` may differ by up to the given absolute distance (the
histogram percentile's bin width).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-6


def connect(root: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per source table under ``root``.
    A table stored as a directory of parquet files reads all of them."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(root, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"create or replace view {t} as select * from read_parquet('{path}')")
    return con


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep="T")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    return v


def _sort_key(row):
    # None and NaN sort first; mixed int/float compare as numbers
    return tuple(
        (0, 0) if c is None or (isinstance(c, float) and math.isnan(c)) else (1, c)
        for c in row
    )


def normalise(rows) -> list[tuple]:
    return sorted((tuple(_cell(c) for c in r) for r in rows), key=_sort_key)


def _close(a, b, tol: float | None) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        if tol is not None:
            return abs(a - b) <= tol
        if isinstance(a, float) or isinstance(b, float):
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def diff(columns: list[str], got, want, within: dict | None = None) -> str | None:
    """None when ``got`` matches ``want``; otherwise a one-line reason."""
    got, want = normalise(got), normalise(want)
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    tols = [(within or {}).get(c) for c in columns]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: width {len(g)} != oracle {len(w)}"
        for c, a, b, tol in zip(columns, g, w, tols):
            if not _close(a, b, tol):
                return f"row {i} column {c}: {a!r} != oracle {b!r}"
    return None

