"""File sources: the reference's GCS interchange formats as Spark reads.

- CSV (v1 export format, reference ``dags/cloudsql_to_bigquery.py:108-110``)
  with ``nullValue`` handling replacing the sed NULL hack at parse time.
- NDJSON (v2, ``source_format="NEWLINE_DELIMITED_JSON"``, reference
  ``dags/copy_cloudsql_to_bigquery_v2.py:109``); v2's chunked
  ``filename_{}`` wildcard load (``:102-103``) is Spark's native
  directory read — one file per partition.
- Parquet: the engine's staging format of choice, and
  :func:`read_parquet` the package's one parquet reader (every table
  read goes through it; ``readStream`` sources are the only other
  parquet reads).  It takes the schema from ONE footer, read on the
  driver: the first data file Spark's own non-merge inference would
  read.  So every part file of a table is assumed to share one schema,
  which is Spark's non-merge rule (``mergeSchema`` is used nowhere in
  the package).  No Spark job runs to build the frame, and nothing is
  cached between calls.
- ORC: Spark-native columnar alternative for interchange with
  Hive/Trino-era warehouses (built into the distribution, same
  predicate-pushdown + column-pruning story as parquet).
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = False,
    null_value: str | None = '"N',
    options: dict[str, str] | None = None,
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if null_value is not None:
        # parse-time replacement for the reference's sed NULL hack
        reader = reader.option("nullValue", null_value)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    reader = spark.read
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def _is_hidden(path: str) -> bool:
    """Spark's listing rule for names it skips: ``_`` (unless a
    ``k=v`` partition name) or ``.`` prefixes, ``._COPYING_`` files.
    The summary files it keeps (``_metadata``, ``_common_metadata``)
    are skipped too: nothing here writes them."""
    name = path.rsplit("/", 1)[-1]
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(fs, statuses):
    """The ``FileStatus`` of the data file Spark's non-merge schema
    inference reads: the least path string among the non-hidden leaf
    files under ``statuses`` (``ParquetUtils.splitFiles`` sorts by
    path).  A depth-first walk finds it listing only the directories on
    its way: ordered by path plus ``/`` for a directory, no path under a
    later entry sorts before one under an earlier entry.  ``None`` when
    there is no data file; a hidden root is skipped too, which only
    sends the caller to Spark's plain read."""
    entries = []
    for status in statuses or ():
        path = status.getPath().toString()
        if not _is_hidden(path):
            entries.append((path + "/" * status.isDirectory(), status))
    for key, status in sorted(entries, key=lambda e: e[0]):
        if not key.endswith("/"):
            return status
        found = _first_data_file(fs, fs.listStatus(status.getPath()))
        if found is not None:
            return found
    return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    The schema is read on the driver from one footer, of the file and
    through the conversion that Spark's inference job uses
    (``ParquetFooterReader.readFooter`` with ``SKIP_ROW_GROUPS``, then
    ``ParquetFileFormat.readSchemaFromFooter`` under the session's
    ``ParquetToSparkSchemaConverter``), and handed to the reader, which
    still lists the files and appends the partition columns.  With no
    data file under ``path`` (missing, empty, only hidden files) the
    plain read runs, so Spark raises its own error.  Classes are named
    in full (``JavaClass``): walking ``spark._jvm`` costs one py4j round
    trip per package segment."""
    client = spark._jvm._gateway_client

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, client)

    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = jclass("org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(conf)
    first = _first_data_file(fs, fs.globStatus(root))
    if first is None:
        return spark.read.parquet(path)
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    footer = jclass(parquet + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(
            first, conf
        ),
        jclass(
            "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
    )
    schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(first.getPath(), footer),
        jclass(parquet + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    schema = StructType.fromJson(json.loads(schema.json()))
    return spark.read.schema(schema).parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_ndjson(
    df: DataFrame,
    path: str,
    chunk_rows: int | None = None,
    mode: str = "overwrite",
) -> None:
    """NDJSON export (op G).  ``chunk_rows`` caps rows per output file —
    the Spark-native form of v2's ``filename_{}`` counter-suffixed chunk
    convention (reference ``dags/copy_cloudsql_to_bigquery_v2.py:88``):
    the Airflow operator cuts a new chunk file every N rows; here
    ``maxRecordsPerFile`` makes each task roll to a new part file at the
    same bound, and the directory read (``read_ndjson``) is the wildcard
    reload (``:102-103``).  Unlike a fixed chunk count, the bound holds
    at any scale — 1000 executors each roll their own files with zero
    coordination."""
    writer = df.write.mode(mode)
    if chunk_rows is not None:
        if chunk_rows <= 0:
            raise ValueError("chunk_rows must be positive")
        writer = writer.option("maxRecordsPerFile", str(chunk_rows))
    writer.json(path)
