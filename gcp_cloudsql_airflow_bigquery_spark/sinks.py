"""BigQuery-shaped sink seam (ops F/H).

The reference loads staged extracts through the BigQuery load API with
an explicit write disposition — ``WRITE_TRUNCATE`` in v2 (reference
``dags/copy_cloudsql_to_bigquery_v2.py:108``) and ``bq load --replace``
in v1 (reference ``dags/cloudsql_to_bigquery.py:220-228``), the same
truncate-then-load contract.  Live GCP is out of scope (SURVEY.md), so
this seam maps disposition semantics onto pluggable Spark writers: the
spark-bigquery connector (``format("bigquery")``) when its jar is on
the classpath, the local parquet warehouse otherwise.  Pipelines
exercise identical disposition behavior either way, with zero cloud
dependency — swapping in the real sink is a jar on the classpath, not
a code change.

The local ``WRITE_TRUNCATE`` replaces the table through the pipeline's
one table commit (``pipeline._write_versioned``), so a failed load keeps
the old table, as BigQuery's does; ``WRITE_APPEND`` and ``WRITE_EMPTY``
add files under Spark's own job commit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .pipeline import _settle, _write_versioned

#: BigQuery writeDisposition → Spark save mode.  WRITE_EMPTY succeeds
#: only when the target does not already hold data, which is exactly
#: parquet's ``errorifexists`` on a path (and the connector enforces
#: the table-level contract server-side).
DISPOSITION_MODES = {
    "WRITE_TRUNCATE": "overwrite",
    "WRITE_APPEND": "append",
    "WRITE_EMPTY": "errorifexists",
}

_CONNECTOR_CLASS = "com.google.cloud.spark.bigquery.BigQueryRelationProvider"


def bigquery_connector_available(spark: SparkSession) -> bool:
    """True when the spark-bigquery connector jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_CONNECTOR_CLASS)
        return True
    except Exception:  # noqa: BLE001 — Py4J raises a wrapped CNFE
        return False


@dataclass
class BigQuerySink:
    """Disposition-faithful sink behind one interface.

    ``warehouse`` is any object with a ``path(table) -> str`` method
    (:class:`~gcp_cloudsql_airflow_bigquery_spark.pipeline.Warehouse`);
    it is the fallback target when the connector jar is absent, and the
    ``dataset`` maps to the BigQuery dataset when it is present.
    """

    dataset: str
    warehouse: object
    temp_gcs_bucket: str | None = None

    def write(
        self, df: DataFrame, table: str, disposition: str = "WRITE_TRUNCATE"
    ) -> str:
        if disposition not in DISPOSITION_MODES:
            raise ValueError(
                f"unknown writeDisposition {disposition!r}; "
                f"expected one of {sorted(DISPOSITION_MODES)}"
            )
        spark = df.sparkSession
        if bigquery_connector_available(spark):
            return self._write_bigquery(df, table, disposition)
        out = self.warehouse.path(table)
        if disposition == "WRITE_TRUNCATE":
            _write_versioned(spark, df, out)
            return out
        _settle(spark, out)
        if disposition == "WRITE_APPEND":
            df.write.mode("append").parquet(out)
        else:
            df.write.mode("errorifexists").parquet(out)
        return out

    def _write_bigquery(
        self, df: DataFrame, table: str, disposition: str
    ) -> str:
        """The connector write: BigQuery commits each load job
        atomically on its managed storage, so the save mode is passed
        through as the disposition's."""
        target = f"{self.dataset}.{table}"
        w = (
            df.write.format("bigquery")
            .mode(DISPOSITION_MODES[disposition])
            .option("writeDisposition", disposition)
        )
        if self.temp_gcs_bucket:
            w = w.option("temporaryGcsBucket", self.temp_gcs_bucket)
        w.save(target)
        return target

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        if bigquery_connector_available(spark):
            return (
                spark.read.format("bigquery").load(f"{self.dataset}.{table}")
            )
        return spark.read.parquet(self.warehouse.path(table))
