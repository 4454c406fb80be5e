"""Correctness checks: engine output against the replay oracle and
against DuckDB."""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np

#: the query mix's source tables, registered as DuckDB views
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events")


def frame_matches(pdf, expected: dict, key_cols: list[str]) -> bool:
    """``pdf`` (a pandas frame of payload columns) holds exactly the
    ``expected`` rows (columns in key order, as ``Replay.rows`` gives
    them), compared value by value."""
    n = len(next(iter(expected.values())))
    if len(pdf) != n:
        return False
    pdf = pdf.sort_values(key_cols, kind="stable").reset_index(drop=True)
    for col, want in expected.items():
        got = pdf[col].to_numpy()
        if np.issubdtype(want.dtype, np.datetime64):
            got = got.astype("datetime64[us]")
        elif want.dtype.kind == "U":
            got = got.astype(str)
        if not np.array_equal(got, want):
            return False
    return True


def _norm_cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat()
    return v


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def matches_oracle(rows, sf_dir: str, sql: str) -> tuple[bool, str]:
    """Spark result ``rows`` equal DuckDB's answer to ``sql`` over the
    same parquet files, as an order-insensitive multiset of rows with
    columns compared by name."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(sql)
        d_cols = [c[0] for c in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    s_cols = list(rows[0].__fields__) if rows else d_cols
    if sorted(s_cols) != sorted(d_cols):
        return False, f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return False, f"{len(rows)} rows != {len(d_rows)}"
    if not d_rows:
        return False, "oracle result is empty"

    def norm(rs, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rs),
                      key=lambda t: tuple((x is None, str(x)) for x in t))

    for a, b in zip(norm(rows, s_cols), norm(d_rows, d_cols)):
        if len(a) != len(b) or not all(_cells_equal(x, y) for x, y in zip(a, b)):
            return False, f"first differing row {a} != {b}"
    return True, "ok"
