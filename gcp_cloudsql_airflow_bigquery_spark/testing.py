"""The driver's oracle-differential check (SURVEY.md §5), shared by the
Tier-1 oracle tests and ``scripts/check_oracle.py``.

Runs a plan on Spark and its oracle SQL on DuckDB over the same parquet
fixtures, then compares row count, column names (sorted) and
order-insensitive values.

Both sides go through **pandas** (``df.toPandas()`` / ``.df()``) on
purpose: the driver canonicalizes pandas frames, so engine-specific
pandas dtype conversions are part of the observable surface.  In
particular DuckDB returns ``SUM(BIGINT)`` as HUGEINT, which lands in
pandas as float64 — distinct from Spark's int64 — and the driver flags
that (r01 ``json_funcs``).  So ints and floats stay distinct, while
date/timestamp representations are normalized (the driver demonstrably
equates them: r01 ``date_funcs`` was green with a Spark TIMESTAMP
against a DuckDB DATE column).
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# These oracles rely on the Datasketches exact-mode guarantee (HLL
# coupon list / Theta below k retained hashes), which holds at the
# driver's correctness SFs (sf0.001, sf0.01: <=150 users/type, 1500
# join keys) but not at sf0.1+ where the sketches go dense/estimating
# (documented in plans/scale.py).  At other SFs they downgrade to the
# rows-only check.
SKETCH_EXACT_SFS = ("sf0.001", "sf0.01")
SKETCH_EXACT_ONLY = {
    "events_distinct_users_rollup",
    "events_audience_overlap",
    "orders_customer_join_estimate",
    # KLL(4096) retains every value at the correctness SFs (<=2000
    # events/type), so merged-sketch quantiles are exact there; at
    # sf0.1+ the sketch compacts and the check downgrades to rows-only
    "events_value_quantiles_rollup_exactmode",
}


def _norm(v: Any) -> str:
    """Canonical string for one cell; int and float stay DISTINCT."""
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, dt.datetime):  # pd.Timestamp included
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "null"
        # absorb representation noise only, not computation noise
        return repr(round(f, 9))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, (list, np.ndarray)):
        # the driver's canonicalizer CRASHES on list cells
        # (r01 array_agg_sorted) — surface it as a loud failure here
        raise TypeError(f"array-valued cell {v!r} is not driver-hashable")
    return repr(v)


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def register_duckdb_views(con, sf_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def compare_spark_duckdb(df: DataFrame, con, sql: str) -> str | None:
    """Return None if the Spark result matches the DuckDB result, else a
    human-readable mismatch description."""
    spdf, opdf = df.toPandas(), con.execute(sql).df()
    if sorted(spdf.columns) != sorted(opdf.columns):
        return f"columns {sorted(spdf.columns)} vs {sorted(opdf.columns)}"
    if len(spdf) != len(opdf):
        return f"rowcount {len(spdf)} vs {len(opdf)}"
    try:
        a, b = _canon(spdf), _canon(opdf)
    except TypeError as e:
        return str(e)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return f"values differ; first diffs {diffs}"
    return None
