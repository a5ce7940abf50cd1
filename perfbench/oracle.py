"""Result comparison against DuckDB, run outside the timed region."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd


def duckdb_over(paths: dict[str, str]):
    """An in-memory DuckDB with one view per parquet file."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.abspath(path)}')")
    return con


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (pd.Timestamp, np.datetime64)) or hasattr(v, "isoformat"):
        ts = pd.Timestamp(v)
        return None if pd.isna(ts) else ts.tz_localize(None) if ts.tzinfo else ts
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def rows(df: pd.DataFrame) -> list[tuple]:
    cols = [df[c].tolist() for c in df.columns]
    return [tuple(_cell(v) for v in r) for r in zip(*cols)]


def _same(a, b, atol: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y, atol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= atol + 1e-9 * abs(float(b))
    return a == b


def _sort_key(row):
    return tuple((v is None, repr(round(v, 2)) if isinstance(v, float) else repr(v)) for v in row)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, atol: float) -> bool:
    """Column-positional comparison; row order as returned first, then
    as a multiset (ties in an ORDER BY may come back in either order)."""
    if got.shape != want.shape:
        return False
    a, b = rows(got), rows(want)
    if all(_same(x, y, atol) for x, y in zip(a, b)):
        return True
    a.sort(key=_sort_key)
    b.sort(key=_sort_key)
    return all(_same(x, y, atol) for x, y in zip(a, b))
