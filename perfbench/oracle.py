"""Bit-exact comparison of Spark results against DuckDB oracle SQL.

Cells compare by ``repr`` (floats bit for bit, so ``-0.0`` differs from
``0.0``), rows as sorted multisets, columns by name.
"""

from __future__ import annotations

import math
import os

import duckdb


def connect(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per parquet table of ``sf_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v) -> str:
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def canonical(columns, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows projected to that order, as sorted
    tuples of cell strings."""
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    return cols, sorted(tuple(_cell(r[i]) for i in idx) for r in rows)


def mismatch(columns, rows, con, sql: str) -> str | None:
    """None when ``rows`` (with ``columns``) equal the oracle's result,
    else a one-line description of the first difference."""
    res = con.execute(sql)
    d_cols, d_rows = canonical([d[0] for d in res.description], res.fetchall())
    s_cols, s_rows = canonical(columns, rows)
    if s_cols != d_cols:
        return f"columns differ: spark={s_cols} oracle={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count differs: spark={len(s_rows)} oracle={len(d_rows)}"
    for sr, dr in zip(s_rows, d_rows):
        if sr != dr:
            col = next(c for c, a, b in zip(s_cols, sr, dr) if a != b)
            return f"first differing row, column {col}: spark={sr} oracle={dr}"
    return None
