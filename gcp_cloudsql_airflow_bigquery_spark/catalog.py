"""Table registry over the parquet fixture directories.

The reference's "catalog" is GCS object names keyed on
``{table}_{ds_nodash}`` (reference ``dags/cloudsql_to_bigquery.py:109,226``);
ours is a thin loader that registers each parquet table as both a
DataFrame and a temp view so ``spark.sql`` (the ``stage_final_query``
surface, reference ``dags/cloudsql_to_bigquery.py:11,70``) works
immediately.

Tables are read through :func:`sources.files.read_parquet`, the
package's one parquet reader: the schema comes from one footer read on
the driver, so loading a table runs no Spark job, and all part files of
a table are assumed to share that schema (Spark's non-merge rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.files import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to ``timestamp``.

    ``events.ts`` may be written as either a plain parquet timestamp
    (current fixtures: TIMESTAMP(MICROS)) or as raw int64 nanoseconds
    (older fixtures wrote TIMESTAMP(NANOS), which surfaces as ``bigint``
    under ``spark.sql.legacy.parquet.nanosAsLong``). Only a column that
    actually arrived as int64 is converted — both encodings yield
    ``ts: timestamp`` with microsecond precision, JVM-side, no Python
    data pass.  Works on batch and streaming frames alike.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (``events`` through :func:`events_ts`).
    Parquet scan → column pruning and predicate pushdown are free once
    downstream ops are declarative."""
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return events_ts(df) if name == "events" else df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load every fixture table and register it as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
