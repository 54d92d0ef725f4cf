"""Local replica of the driver's oracle-differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column
names (sorted), and order-insensitive values.

Both sides go through **pandas** (``df.toPandas()`` / ``cur.df()``) on
purpose: the driver canonicalizes pandas frames, so engine-specific
pandas dtype conversions are part of the observable surface.  In
particular DuckDB returns ``SUM(BIGINT)`` as HUGEINT which lands in
pandas as float64 — distinct from Spark's int64 — and the driver flags
that (r01 ``json_funcs``).  This replica therefore keeps int-vs-float
distinct while normalizing date/timestamp representations (which the
driver demonstrably equates: r01 ``date_funcs`` was green with a Spark
TIMESTAMP vs DuckDB DATE column).

Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from gcp_cloudsql_airflow_bigquery_spark.catalog import TABLES
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark

# These oracles rely on the Datasketches exact-mode guarantee (HLL
# coupon list / Theta below k retained hashes), which holds at the
# driver's correctness SFs (sf0.001, sf0.01: <=150 users/type, 1500
# join keys) but not at sf0.1+ where the sketches go dense/estimating
# (documented in plans/scale.py).  At other SFs they downgrade to the
# rows-only check here.
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


def _norm(v):
    """Canonical string for one cell; int and float stay DISTINCT."""
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if (v.hour, v.minute, v.second, getattr(v, "microsecond", 0)) == (
            0,
            0,
            0,
            0,
        ):
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
    if isinstance(v, bytes):
        return repr(v)
    if isinstance(v, (list, np.ndarray)):
        # the driver's canonicalizer CRASHES on list cells
        # (r01 array_agg_sorted) — surface it as a loud failure here
        raise TypeError("array-valued column is not driver-hashable")
    return repr(v)


def _canon_pdf(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles or (
            name in SKETCH_EXACT_ONLY
            and not any(s in sf_dir for s in SKETCH_EXACT_SFS)
        ):
            print(f"OK?  {name}: rows-only ({len(spdf)} rows)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if sorted(spdf.columns) != sorted(opdf.columns):
            print(
                f"FAIL {name}: columns {sorted(spdf.columns)}"
                f" vs {sorted(opdf.columns)}"
            )
            failed.append(name)
            continue
        if len(spdf) != len(opdf):
            print(f"FAIL {name}: rowcount {len(spdf)} vs {len(opdf)}")
            failed.append(name)
            continue
        try:
            a, b = _canon_pdf(spdf), _canon_pdf(opdf)
        except TypeError as e:
            print(f"FAIL {name}: {e}")
            failed.append(name)
            continue
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ; first diffs {diffs}")
            failed.append(name)
            continue
        print(f"ok   {name} ({len(spdf)} rows)")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall green")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
