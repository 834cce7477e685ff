"""Order-insensitive result hashes, the same for Spark and DuckDB results.

Both sides go through pandas (Spark via ``toPandas()``, DuckDB via
``.df()``): columns are sorted by name, rows are sorted over all columns,
and the hash is taken over a per-cell rendering that maps the two
engines' date and timestamp types to one ISO form.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pandas as pd


def _cell(v) -> str:
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat() + "T00:00:00"
    if v is None or (isinstance(v, float) and v != v):
        return "<NA>"
    return repr(v)


def result_hash(df: pd.DataFrame) -> str:
    """md5 over the canonical rendering: column names, then sorted rows."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    h = hashlib.md5(",".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(b"\n")
        h.update(",".join(_cell(v) for v in row).encode())
    return h.hexdigest()
