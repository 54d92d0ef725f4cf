"""Command-line run of the driver's oracle-differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, compared by
``testing.compare_spark_duckdb`` — the comparison the Tier-1 oracle
tests use (``tests/test_oracle.py::oracle_test``, one test per plans
family).  Entries without an oracle, and the ``SKETCH_EXACT_ONLY``
oracles outside their exact-mode SFs, only have to run.

Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from gcp_cloudsql_airflow_bigquery_spark.catalog import TABLES
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark
from gcp_cloudsql_airflow_bigquery_spark.testing import (
    SKETCH_EXACT_ONLY,
    SKETCH_EXACT_SFS,
    compare_spark_duckdb,
    register_duckdb_views,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir, TABLES)
    oracles = entrymod.oracle_sql()
    exact_sf = any(s in sf_dir for s in SKETCH_EXACT_SFS)
    failed = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            if name not in oracles or (name in SKETCH_EXACT_ONLY and not exact_sf):
                print(f"OK?  {name}: rows-only ({len(df.toPandas())} rows)")
                continue
            mismatch = compare_spark_duckdb(df, con, oracles[name])
        except Exception as e:  # noqa: BLE001
            mismatch = f"error {type(e).__name__}: {e}"
        if mismatch:
            print(f"FAIL {name}: {mismatch}")
            failed.append(name)
        else:
            print(f"ok   {name}")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall green")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
