"""JDBC extract (ops A and G, reference
``dags/cloudsql_to_bigquery.py:100-127`` and
``dags/copy_cloudsql_to_bigquery_v2.py:82-95``).

Where the reference serializes one ``gcloud sql export`` at a time
(reference ``:284-287``), Spark parallelizes a single table extract with
``partitionColumn``/bounds — N concurrent range-partitioned queries —
and the schema arrives from JDBC ``ResultSetMetaData`` for free (op B's
INFORMATION_SCHEMA scan becomes unnecessary).

MySQL (3306), PostgreSQL (5432) and MSSQL — the three engines the
reference proxies (``yaml/sql_proxy_mysql_deployment.yaml:48``,
``yaml/sql_proxy_postgresql_deployment_with_sa.yaml:57``,
``dags/mssql_to_bigquery.py:2``) — are all plain JDBC URLs here.

No MySQL/PostgreSQL/MSSQL driver jars ship in this container; at deploy
time add the driver jar to ``spark.jars``.  The extract path itself IS
live-tested against the embedded Derby engine Spark already carries
(``tests/test_quality_ops.py``): real JDBC roundtrip, query pushdown,
and range-partitioned parallel extract.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..config import SourceSpec
from .dialects import dialect_for_url, validate_ident


def jdbc_reader_options(
    spec: SourceSpec,
    query: str | None = None,
    table: str | None = None,
    timeout_s: float | None = None,
) -> dict[str, str]:
    """Assemble the option dict for ``spark.read.format("jdbc")``.

    ``query`` ships the whole export_query to the source engine —
    full pushdown, exactly the reference's delegation model.  With a
    ``partition_column`` we use ``dbtable`` (a subquery alias) instead,
    because Spark's JDBC partitioning requires it.

    ``timeout_s`` bounds every statement (``queryTimeout``, which also
    covers the schema lookup ``load()`` runs on the driver) and, for
    the networked dialects, connecting and each blocking socket read,
    so a hung source or proxy fails the read instead of stalling it.
    ``spec.properties`` override these.
    """
    if spec.url is None:
        raise ValueError("jdbc source requires url")
    opts: dict[str, str] = {"url": spec.url}
    if spec.driver:
        opts["driver"] = spec.driver
    if timeout_s:
        opts["queryTimeout"] = str(math.ceil(timeout_s))
        d = dialect_for_url(spec.url)
        if d is not None:
            opts.update(d.timeout_properties(timeout_s))
    opts.update(spec.properties)
    if spec.partition_column:
        subq = f"({query}) AS t" if query else (table or "")
        opts["dbtable"] = subq
        opts["partitionColumn"] = spec.partition_column
        opts["lowerBound"] = str(spec.lower_bound)
        opts["upperBound"] = str(spec.upper_bound)
        opts["numPartitions"] = str(max(1, spec.num_partitions))
    elif query:
        opts["query"] = query
    else:
        opts["dbtable"] = table or ""
    return opts


def read_jdbc(
    spark: SparkSession,
    spec: SourceSpec,
    query: str | None = None,
    table: str | None = None,
    timeout_s: float | None = None,
) -> DataFrame:
    reader = spark.read.format("jdbc")
    opts = jdbc_reader_options(spec, query=query, table=table, timeout_s=timeout_s)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def scan_schema(
    spark: SparkSession,
    spec: SourceSpec,
    table: str,
    information_schema_query: str | None = None,
) -> DataFrame:
    """Op B literal: the reference exports ``(COLUMN_NAME, DATA_TYPE)``
    from INFORMATION_SCHEMA ordered by position (reference
    ``dags/cloudsql_to_bigquery.py:141``) to drive its type mapper.

    With Spark this is usually unnecessary — a JDBC read carries the
    schema via ResultSetMetaData — but the scan is kept for parity and
    for engines whose catalogs disagree with their drivers.  The query
    comes from the engine's dialect (``sources.dialects``, inferred
    from the URL), which validates the table identifier and applies the
    reference's database/schema predicate
    (``spec.database``/``spec.db_schema``) so same-named tables in
    other schemas never bleed in.  A custom
    ``information_schema_query`` overrides everything."""
    if information_schema_query is None:
        validate_ident(table)
        d = dialect_for_url(spec.url or "")
        if d is None:
            raise ValueError(
                f"cannot infer JDBC dialect from url {spec.url!r}; "
                "pass information_schema_query explicitly"
            )
        information_schema_query = d.schema_query(
            table, database=spec.database, schema=spec.db_schema
        )
    return read_jdbc(spark, spec, query=information_schema_query)
