"""Result checks against DuckDB.

A result is reduced to a sorted list of row strings over its sorted column
names, with the equivalences of the engine's oracle check: integers and
floats stay distinct, floats are compared at 9 decimals, NaN equals NULL,
and a midnight timestamp equals the date.  Array cells cannot be compared
and fail the check.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import numpy as np
import pandas as pd

#: registered queries whose oracle relies on sketches staying in exact mode,
#: which holds at sf0.001 and sf0.01 only; above that they are checked by
#: row count
SKETCH_EXACT_ONLY = frozenset(
    {
        "events_distinct_users_rollup",
        "events_audience_overlap",
        "orders_customer_join_estimate",
        "events_value_quantiles_rollup_exactmode",
    }
)
SKETCH_EXACT_MAX_SF = 0.01


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "null" if math.isnan(f) else repr(round(f, 9))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        raise TypeError("array-valued cells are not comparable")
    return repr(v)


def _column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_float_dtype(s.dtype):
        r = s.astype("float64").round(9)
        return r.map(lambda f: repr(float(f))).where(r.notna(), "null")
    if pd.api.types.is_integer_dtype(s.dtype) and not s.hasnans:
        return s.astype("int64").astype(str)
    if pd.api.types.is_bool_dtype(s.dtype) and not s.hasnans:
        return s.map(lambda b: repr(bool(b)))
    return s.map(_cell)


def canonical(pdf: pd.DataFrame) -> list[str]:
    """Order-insensitive canonical form of a result frame."""
    cols = sorted(pdf.columns)
    if not len(pdf):
        return []
    parts = [_column(pdf[c]) for c in cols]
    rows = parts[0].astype(str)
    for p in parts[1:]:
        rows = rows + "\x1f" + p.astype(str)
    return sorted(rows.tolist())


class Expected:
    """What one op's result must equal: a canonical row list (oracle) or,
    without an oracle, a row count."""

    def __init__(self, columns: list[str] | None, rows: list[str] | None, n_rows: int):
        self.columns, self.rows, self.n_rows = columns, rows, n_rows

    def check(self, pdf: pd.DataFrame) -> str | None:
        """``None`` when ``pdf`` matches, else the reason it does not."""
        if len(pdf) != self.n_rows:
            return f"rows {len(pdf)} != {self.n_rows}"
        if self.columns is None:
            return None
        if sorted(pdf.columns) != self.columns:
            return f"columns {sorted(pdf.columns)} != {self.columns}"
        try:
            got = canonical(pdf)
        except TypeError as e:
            return str(e)
        if got != self.rows:
            bad = next((a, b) for a, b in zip(got, self.rows) if a != b)
            return f"values differ, first {bad}"
        return None


def duckdb_over(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expected_from_sql(con, sql: str) -> Expected:
    pdf = con.execute(sql).df()
    return Expected(sorted(pdf.columns), canonical(pdf), len(pdf))
