"""The reference's end-to-end pipeline as one in-process Spark dataflow
(SURVEY.md §3 "Spark engine lifecycle").

Reference lifecycle (EP1/EP2): extract → (schema translate) → repair →
load stage → finalize — every hop through GCS object names.  Here it is
``extract() → transform() → stage view → finalize() → write()``, one
Catalyst plan per table, with op K's retry loop around the whole run
(reference retries=2/60 s, ``dags/cloudsql_to_bigquery.py:29-30``).

Write modes:
- ``overwrite`` — ops F/H (``bq load --replace`` /
  ``WRITE_TRUNCATE``, reference ``:225-227`` and
  ``dags/copy_cloudsql_to_bigquery_v2.py:108``), idempotent.
- ``snapshot`` — v1's ``{table}_{ds_nodash}`` date-suffixed snapshot
  (reference ``:226-227``) as a ``snapshot_date`` partition with dynamic
  partition overwrite: re-running a day replaces only that day.
- ``append``.
- ``merge`` — op I (declared-but-never-wired ``stage_final_query`` join
  merge, reference ``:11``) pinned down as key-based upsert: new rows
  replace old on ``merge_keys``, others survive.

At scale: the staged write is partitioned parquet; dynamic partition
overwrite touches one date partition, never the table.  The merge is a
full-outer-free anti-join + union — shuffle on merge keys only.

One table commit.  BigQuery's ``WRITE_TRUNCATE`` replaces a table in one
step; here every write that replaces a table's contents — an
``overwrite`` load, ``finalize``, merge, compaction, purge, the sink's
local ``WRITE_TRUNCATE`` and the streaming upserts — goes through
:func:`_write_versioned`.  It writes the new contents ONCE to the
sibling ``<table>__v<version>``; :func:`_swap_into_place` then renames
the live table to ``<table>__old<version>``, renames the version into
place and deletes the old directory.  A first write is the version
write plus one rename.
- A failed version write deletes its directory and re-raises: the table
  keeps its old rows.
- A crash between the two renames leaves no table and an ``__old``
  sibling.  :func:`_settle` runs before every read-modify-write and
  every commit, and :func:`run_pipelines` runs it on every table of its
  run first: it renames that sibling back and deletes leftovers.
- ``append`` and ``snapshot`` only add files and keep Spark's own job
  commit (a failed job leaves the table's rows as they were); they
  settle the table first.
- Between the two renames a concurrent reader finds no table, and all
  of this assumes one writer per table.

Attempts (v1's submit-then-wait contract, ``gcloud beta sql operations
wait --timeout=3600``, reference ``dags/cloudsql_to_bigquery.py:117``):
each attempt runs on the caller's thread under its own Spark job group.
``spec.timeout_s`` after it starts, the group and every job it submits
later are cancelled, so no Spark job of an attempt runs on into its
retry.  An attempt that raises after that deadline raises
``TimeoutError`` (retryable, chained to Spark's cancellation error); one
that still returns, because its tail ran no Spark job, is returned — its
write has landed.  The caller's job group is restored afterwards.

What the deadline does not cover:
- Work on the driver outside a Spark job runs to its end: the JDBC
  schema lookup in ``read_jdbc``'s ``load()``, the Hadoop renames and
  deletes of the commit and of :func:`_settle`, a sink connector's
  driver calls.  A version write cancelled by the deadline is deleted
  like any failed one, so the table keeps its old rows.  JDBC, the
  reference's main source, is bounded separately: ``extract`` passes
  ``timeout_s`` to the reader as its statement, connect and socket
  timeouts (``sources.jdbc.jdbc_reader_options``), so a hung source or
  proxy fails the attempt about ``timeout_s`` after the call starts.
- Retrying is not idempotent for ``append``: an attempt whose write has
  landed but whose later ``finalize`` or row count fails — by the
  deadline too — is retried and appends the same rows again.
"""

from __future__ import annotations

import logging
import os
import re
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineSpec
from .functions.repair import repair_csv_columns
from .functions.sanitize import sanitize_columns
from .functions.typemap import map_types
from .sources.files import read_csv, read_ndjson, read_parquet
from .sources.jdbc import read_jdbc

log = logging.getLogger(__name__)

#: The name a table commit gives the siblings it stages beside
#: ``<table>``: ``__v<version>`` (the new contents) and
#: ``__old<version>`` (the replaced contents, mid-swap), where a version
#: is ``uuid.uuid4().hex``.  Matched against the end of a directory name.
_SIBLING = re.compile(r"__(v|old)[0-9a-f]{32}$")


@dataclass
class PipelineResult:
    spec: PipelineSpec
    rows_written: int
    attempts: int
    output_path: str


@dataclass
class Warehouse:
    """Minimal parquet warehouse root (stands in for the BigQuery sink)."""

    root: str

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"


def extract(spark: SparkSession, spec: PipelineSpec) -> DataFrame:
    src = spec.source
    if src.kind == "jdbc":
        return read_jdbc(spark, src, query=spec.export_query, timeout_s=spec.timeout_s)
    if src.kind == "csv":
        df = read_csv(spark, src.path, options=src.csv_options, header=True)
    elif src.kind == "json":
        df = read_ndjson(spark, src.path)
    else:
        df = read_parquet(spark, src.path)
    # file sources can't push export_query to a remote engine; run it
    # through Spark SQL over a temp view for identical semantics
    if spec.export_query and spec.export_query != f"SELECT * FROM {spec.export_table}":
        df.createOrReplaceTempView(spec.export_table)
        df = spark.sql(spec.export_query)
    return df


def transform(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    if spec.repair:
        df = repair_csv_columns(df)
    if spec.source_types:
        df = map_types(df, spec.source_types, mode=spec.type_mode)
    return sanitize_columns(df)


def _write_snapshot(df: DataFrame, spec: PipelineSpec, out: str) -> None:
    snap = spec.snapshot_date or time.strftime("%Y%m%d")
    (
        df.withColumn("snapshot_date", F.lit(snap))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot_date")
        .parquet(out)
    )


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _settle(spark: SparkSession, path: str) -> bool:
    """Finish whatever an interrupted commit left beside ``path``, then
    return whether the table exists.

    A crash between :func:`_swap_into_place`'s two renames leaves no
    ``path`` and a ``path__old<version>`` sibling: it is renamed back,
    which rolls the table back to its old state.  Every other
    ``path__v…``/``path__old…`` sibling is a version that never went in
    or a replaced table that was not yet deleted, and is deleted.

    Assumes one writer per table: a version another writer is still
    writing would be deleted as a leftover.  An existing table that
    cannot be read is reported as existing, so callers raise on the
    read rather than overwrite it."""
    p, fs = _hadoop_path(spark, path)
    parent, name = p.getParent(), p.getName()
    exists = bool(fs.exists(p))
    for st in fs.listStatus(parent) if fs.exists(parent) else []:
        sib = st.getPath()
        m = _SIBLING.match(sib.getName(), len(name))
        if not (m and sib.getName().startswith(name)):
            continue
        if not exists and m.group(1) == "old":
            exists = bool(fs.rename(sib, p))  # roll back the half swap
        else:
            fs.delete(sib, True)
    return exists


def merge_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    target_path: str,
    merge_keys: list[str],
) -> None:
    """Key-based upsert into a parquet table: incoming rows win on
    ``merge_keys``, unmatched existing rows survive.  Anti-join
    existing←incoming on keys, union — the only shuffle is on the merge
    keys.  A first merge writes ``incoming`` as the table.

    The merged result is written ONCE through the table commit
    (:func:`_write_versioned`: a versioned sibling directory swapped
    into place with filesystem renames — metadata-only pointer moves,
    never a second copy of the data).  (Parquet can't overwrite a path
    it is still reading from, and a stage-then-rewrite answer costs 2×
    the table's I/O per merge — untenable when the table is the 100 TB
    side.)  On a store without native rename (S3) the same structure
    maps to a catalog/view pointer swap or a Delta/Iceberg ``MERGE``."""
    merged = incoming
    if _settle(spark, target_path):
        existing = read_parquet(spark, target_path)
        keys = list(merge_keys)
        survivors = existing.join(
            incoming.select(*keys).distinct(), on=keys, how="left_anti"
        )
        merged = survivors.unionByName(incoming.select(*existing.columns))
    _write_versioned(spark, merged, target_path)  # the ONE data write


def _write_versioned(spark: SparkSession, df: DataFrame, path: str) -> None:
    """The one table commit (module docstring): settle ``path``, write
    ``df`` to ``<path>__v<version>`` and swap it over ``path``.  A
    failed write deletes its version directory and re-raises."""
    _settle(spark, path)
    version = uuid.uuid4().hex
    vdir = f"{path}__v{version}"
    try:
        df.write.mode("overwrite").parquet(vdir)
    except BaseException:
        p_new, fs = _hadoop_path(spark, vdir)
        fs.delete(p_new, True)
        raise
    _swap_into_place(spark, path, vdir, version)


def _swap_into_place(
    spark: SparkSession, target_path: str, vdir: str, version: str
) -> None:
    """Swap a freshly written versioned directory over ``target_path``
    with metadata-only renames: the live table (if any) aside to
    ``__old<version>``, the version into place, the old one deleted.
    If the second rename fails the old table is renamed back; a crash
    between the renames is rolled back by the next :func:`_settle`."""
    p_out, fs = _hadoop_path(spark, target_path)
    p_new, _ = _hadoop_path(spark, vdir)
    p_old, _ = _hadoop_path(spark, f"{target_path}__old{version}")
    had_table = fs.exists(p_out)
    if had_table and not fs.rename(p_out, p_old):
        raise RuntimeError(f"swap: could not move {target_path} aside")
    if not fs.rename(p_new, p_out):
        if had_table:
            fs.rename(p_old, p_out)  # restore the previous table state
        raise RuntimeError(f"swap: could not move {vdir} into place")
    fs.delete(p_old, True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files and swap the result
    into place through the table commit (:func:`_write_versioned`).
    Returns the file count after compaction.

    Incremental loads (streaming ``foreachBatch`` sinks, frequent
    appends, per-partition chunked extracts) accrete files far smaller
    than a scan-efficient split — at 100 TB a 10⁶-file table turns
    every scan's planning and open() overhead into the bottleneck, so
    compaction is maintenance the engine must own (the reference
    delegates storage to BigQuery, which runs the same rewrite
    invisibly).

    Sizing reads only the file-listing metadata, never the data.
    ``coalesce`` merges read-splits with NO shuffle (each output task
    concatenates neighboring input files).  Partitioned tables: compact each
    partition directory independently (this keeps the operation
    trivially parallel and lets a scheduler compact only partitions
    whose file count drifted)."""
    _settle(spark, path)
    p, fs = _hadoop_path(spark, path)
    total = 0
    n_before = 0
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith("_"):
            total += st.getLen()
            n_before += 1
    n_files = max(1, -(-total // target_file_bytes))
    if n_before <= n_files:
        return n_before  # already compact: don't rewrite the table
    _write_versioned(spark, read_parquet(spark, path).coalesce(n_files), path)
    p, fs = _hadoop_path(spark, path)
    return sum(
        1
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith("_")
    )


#: write_mode → BigQuery writeDisposition for the sink seam (ops F/H);
#: snapshot/merge have no disposition analogue and always stage locally.
_MODE_DISPOSITIONS = {"overwrite": "WRITE_TRUNCATE", "append": "WRITE_APPEND"}


def load(
    spark: SparkSession,
    df: DataFrame,
    spec: PipelineSpec,
    warehouse: Warehouse,
    sink=None,
) -> str:
    """Stage ``df`` per ``spec.write_mode``.  With ``sink=`` (a
    :class:`~gcp_cloudsql_airflow_bigquery_spark.sinks.BigQuerySink`),
    overwrite/append route through the disposition seam —
    ``WRITE_TRUNCATE``/``WRITE_APPEND`` exactly as the reference's load
    step (``dags/copy_cloudsql_to_bigquery_v2.py:108``).  Locally,
    overwrite and merge replace the table through the table commit;
    append and snapshot settle it and add files (module docstring)."""
    if sink is not None and spec.write_mode in _MODE_DISPOSITIONS:
        return sink.write(
            df, spec.stage_table, _MODE_DISPOSITIONS[spec.write_mode]
        )
    out = warehouse.path(spec.stage_table)
    if spec.write_mode == "overwrite":
        _write_versioned(spark, df, out)
    elif spec.write_mode == "merge":
        merge_parquet(spark, df, out, list(spec.merge_keys))
    else:
        _settle(spark, out)
        if spec.write_mode == "snapshot":
            _write_snapshot(df, spec, out)
        else:
            df.write.mode("append").parquet(out)
    return out


def finalize(
    spark: SparkSession, spec: PipelineSpec, warehouse: Warehouse
) -> str | None:
    """Op I made real: run ``stage_final_query`` over the staged tables
    (registered as ``<table>_stage`` views) and write ``final_table``.

    EVERY table already staged in the warehouse is registered, not just
    this spec's own — the reference's declared intent is a query that
    "joins the stage table with the existing table" (reference
    ``dags/cloudsql_to_bigquery.py:11``), i.e. finalize sees the whole
    staged star schema (fact ⋈ dims), not one table in isolation.  The
    final table is replaced through the table commit
    (:func:`_write_versioned`)."""
    if not spec.stage_final_query:
        return None
    final_names = {
        s for s in (spec.final_table, f"{spec.stage_table}_final") if s
    }
    for entry in sorted(os.listdir(warehouse.root)) if os.path.isdir(
        warehouse.root
    ) else []:
        # skip transient commit/stream artifacts and previously written
        # *_final outputs — a finalize query must see stage tables, not
        # its own (or a sibling's) prior results
        if entry.endswith("__stream_stage") or _SIBLING.search(entry):
            continue
        if entry in final_names or entry.endswith("_final"):
            continue
        try:
            read_parquet(spark, warehouse.path(entry)).createOrReplaceTempView(
                f"{entry}_stage"
            )
        except Exception:  # noqa: BLE001
            if entry == spec.stage_table:
                # the spec's own stage table MUST register; swallowing
                # this defers failure to an opaque "table not found"
                raise
            log.warning("finalize: skipping unreadable %s", entry)
            continue
    final_df = spark.sql(spec.stage_final_query)
    out = warehouse.path(spec.final_table or f"{spec.stage_table}_final")
    _write_versioned(spark, final_df, out)
    return out


#: the local properties ``setJobGroup`` sets, restored after an attempt
_JOB_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _attempt_with_timeout(spark: SparkSession, fn, timeout_s: float | None):
    """Run ``fn`` as one attempt under the contract in the module
    docstring; ``timeout_s=None`` sets no deadline."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS]
    group = f"pipeline-attempt-{uuid.uuid4().hex[:12]}"
    expired = threading.Event()

    def expire() -> None:
        expired.set()
        sc._jsc.sc().cancelJobGroupAndFutureJobs(group)

    timer = threading.Timer(timeout_s, expire) if timeout_s else None
    sc.setJobGroup(group, "bounded pipeline attempt", interruptOnCancel=True)
    try:
        if timer:
            timer.start()
        return fn()
    except Exception as e:
        if expired.is_set():
            raise TimeoutError(f"pipeline attempt exceeded {timeout_s} s") from e
        raise
    finally:
        if timer:
            timer.cancel()
        for k, v in zip(_JOB_GROUP_KEYS, saved):
            sc.setLocalProperty(k, v)


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    warehouse: Warehouse,
    sink=None,
) -> PipelineResult:
    """One table end-to-end with op K's retry envelope."""

    def one_attempt() -> tuple[str, int]:
        df = transform(extract(spark, spec), spec)
        out = load(spark, df, spec, warehouse, sink=sink)
        finalize(spark, spec, warehouse)
        if sink is not None and spec.write_mode in _MODE_DISPOSITIONS:
            n = sink.read(spark, spec.stage_table).count()
        else:
            n = read_parquet(spark, out).count()
        return out, n

    last_err: Exception | None = None
    for attempt in range(1, spec.retries + 2):
        try:
            out, n = _attempt_with_timeout(spark, one_attempt, spec.timeout_s)
            return PipelineResult(spec, n, attempt, out)
        except Exception as e:  # noqa: BLE001
            last_err = e
            log.warning("pipeline %s attempt %d failed: %s", spec.export_table, attempt, e)
            if attempt <= spec.retries:
                time.sleep(spec.retry_delay_s)
    raise RuntimeError(f"pipeline {spec.export_table} failed") from last_err


def run_pipelines(
    spark: SparkSession,
    specs: list[PipelineSpec],
    warehouse: Warehouse,
    sink=None,
) -> list[PipelineResult]:
    """The DAG loop of op K (reference ``:273-287``).  The reference
    serializes exports only because of a Cloud SQL admin-API limit; in
    Spark the per-table jobs pipeline naturally.

    The run owns every spec's stage table, so it settles each one
    (:func:`_settle`) before the first spec runs: a finalize that joins
    another spec's table then sees it even if an interrupted commit
    left it half-swapped, rolled back to its old rows."""
    for s in specs:
        _settle(spark, warehouse.path(s.stage_table))
    return [run_pipeline(spark, s, warehouse, sink=sink) for s in specs]


def drop_managed_table(spark, table: str) -> None:
    """DROP TABLE + clear its managed warehouse location.  A
    dropped-from-catalog table can leave its directory behind (fresh
    metastore over an old warehouse dir), which fails the next
    ``saveAsTable`` with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    jvm = spark._jvm
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = jvm.org.apache.hadoop.fs.Path(warehouse, table.lower())
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    n_buckets: int = 32,
    *,
    sort_keys: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    Bucketing is the pre-shuffle: both sides of a recurring equi-join
    written with the same keys and bucket count join with ZERO Exchange
    (verified in tests/test_pipeline.py) — at 100 TB this turns the
    nightly fact⋈dim refresh from a full shuffle into a local merge.
    Spark only honors bucketing through the session catalog
    (``saveAsTable``), not path-based parquet.
    """
    spark = df.sparkSession
    drop_managed_table(spark, table)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_keys)
    writer = writer.sortBy(*(sort_keys or bucket_keys))
    writer.format("parquet").saveAsTable(table)


def scd2_apply(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    *,
    effective: str = "effective_date",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: version history for the
    reference's full-refresh dim sync. ``existing`` carries
    ``valid_from``/``valid_to`` (NULL = open); ``incoming`` carries the
    key + attributes + an ``effective`` date. Changed rows close the
    open version at ``effective`` and open a new one; unchanged rows
    pass through; unseen keys insert as new open versions. One shuffle:
    a single full-outer join on the business key (change detection is
    null-safe column comparison, no re-scan)."""
    attrs = [
        c for c in existing.columns if c not in [*keys, valid_from, valid_to]
    ]
    comp = compare_cols or attrs
    open_e = existing.filter(F.col(valid_to).isNull())
    closed_e = existing.filter(F.col(valid_to).isNotNull())

    j = open_e.alias("e").join(incoming.alias("i"), on=list(keys), how="full")
    has_open = F.col(f"e.{valid_from}").isNotNull()
    has_inc = F.col(f"i.{effective}").isNotNull()
    differs = None
    for c in comp:
        d = ~F.col(f"e.{c}").eqNullSafe(F.col(f"i.{c}"))
        differs = d if differs is None else (differs | d)

    closed_now = j.filter(has_open & has_inc & differs).select(
        *keys,
        *[F.col(f"e.{c}").alias(c) for c in attrs],
        F.col(f"e.{valid_from}").alias(valid_from),
        F.col(f"i.{effective}").alias(valid_to),
    )
    still_open = j.filter(has_open & (~has_inc | ~differs)).select(
        *keys,
        *[F.col(f"e.{c}").alias(c) for c in attrs],
        F.col(f"e.{valid_from}").alias(valid_from),
        F.lit(None).cast(existing.schema[valid_to].dataType).alias(valid_to),
    )
    new_open = j.filter(has_inc & (~has_open | differs)).select(
        *keys,
        *[F.col(f"i.{c}").alias(c) for c in attrs],
        F.col(f"i.{effective}").alias(valid_from),
        F.lit(None).cast(existing.schema[valid_to].dataType).alias(valid_to),
    )
    return closed_e.unionByName(closed_now).unionByName(still_open).unionByName(
        new_open
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC between two full-table snapshots: one row per changed key
    with ``change_type`` in {insert, update, delete} plus the new-side
    attributes (old-side for deletes).

    This is the incremental upgrade of the reference's sync model —
    "Each sync is a full table copy" (reference ``README.md:8``):
    diffing today's extract against yesterday's turns full refresh into
    a merge/CDC feed.  One shuffle: a single full-outer join on the
    business key; change detection is null-safe column comparison on the
    joined row (no second scan, no hashing pass).  At 100 TB both sides
    bucket/partition on the key so the join co-locates.
    """
    attrs = [c for c in new.columns if c not in keys]
    comp = compare_cols or attrs
    j = (
        old.withColumn("_present_o", F.lit(1))
        .alias("o")
        .join(
            new.withColumn("_present_n", F.lit(1)).alias("n"),
            on=list(keys),
            how="full",
        )
    )
    has_old = F.col("o._present_o").isNotNull()
    has_new = F.col("n._present_n").isNotNull()
    differs = F.lit(False)
    for c in comp:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(~has_old, F.lit("insert"))
        .when(~has_new, F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[
                F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c)
                for c in attrs
            ],
        )
    )


def incremental_rollup_merge(
    existing: DataFrame,
    delta_rollup: DataFrame,
    keys: list[str],
    *,
    sum_cols: list[str] | None = None,
    count_col: str | None = "n",
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Maintain a materialized aggregate table incrementally: merge a
    pre-aggregated DELTA rollup into the existing rollup without
    touching raw history — ``merge(rollup(base), rollup(delta)) ==
    rollup(base ∪ delta)`` for the decomposable aggregates (sum, count,
    min, max; avg = merged sum/count).  The exact-arithmetic
    counterpart of the sketch rollups in ``operators/frequency`` /
    ``operators/sketches``: at 100 TB the nightly refresh aggregates
    ONLY the day's partition (map-side combined), then joins two
    rollup-sized frames — the raw fact table is never rescanned.

    Both inputs must already be at (keys) grain; the merge is one
    full-outer join on the keys with per-column combination.
    """
    from pyspark.sql import functions as F

    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    # alias-qualified references: both rollups often derive from the
    # same base frame, and bare column objects are ambiguous then
    e = existing.alias("_ex")
    d = delta_rollup.alias("_dl")

    def ec(c: str):
        return F.col(f"_ex.{c}")

    def dc(c: str):
        return F.col(f"_dl.{c}")

    cond = [ec(k).eqNullSafe(dc(k)) for k in keys]
    out_cols = [F.coalesce(ec(k), dc(k)).alias(k) for k in keys]
    for c in sum_cols:
        out_cols.append(
            (F.coalesce(ec(c), F.lit(0)) + F.coalesce(dc(c), F.lit(0))).alias(c)
        )
    if count_col:
        out_cols.append(
            (
                F.coalesce(ec(count_col), F.lit(0))
                + F.coalesce(dc(count_col), F.lit(0))
            ).alias(count_col)
        )
    for c in min_cols:
        out_cols.append(F.least(ec(c), dc(c)).alias(c))  # least skips NULL
    for c in max_cols:
        out_cols.append(F.greatest(ec(c), dc(c)).alias(c))
    return e.join(d, cond, "full_outer").select(*out_cols)


def purge_keys(
    spark: SparkSession,
    targets: dict[str, str],
    forget: DataFrame,
    key_col: str = "key",
) -> dict[str, int]:
    """Right-to-be-forgotten propagation: delete every row carrying a
    forgotten key from each target parquet table.  ``targets`` maps
    table path → its key column; ``forget`` holds the keys (one column,
    ``key_col``).

    Scale shape: the forget set is person-sized (thousands against a
    100 TB lake), so each table is ONE scan with a broadcast LEFT ANTI
    join — no shuffle of the table — replaced through the table commit
    (:func:`_write_versioned`, module docstring).  Returns rows deleted
    per path; a path whose count is 0 was still rewritten (the audit
    trail that the purge ran is part of the contract).  On partitioned
    tables, pair with a key→partition index to rewrite only affected
    partitions.
    """
    fk = forget.select(F.col(key_col).alias("__forget_key")).distinct()
    deleted: dict[str, int] = {}
    for path, col in targets.items():
        _settle(spark, path)
        df = read_parquet(spark, path)
        before = df.count()
        kept = df.join(
            F.broadcast(fk), df[col] == F.col("__forget_key"), "left_anti"
        )
        _write_versioned(spark, kept, path)
        deleted[path] = before - read_parquet(spark, path).count()
    return deleted


def read_snapshot(
    spark: SparkSession, path: str, snapshot_date: str
) -> DataFrame:
    """Time-travel read of one snapshot from a snapshot-mode table:
    the ``snapshot_date=...`` partition, reached via a partition filter
    so the scan PRUNES to that day's directory (plan-asserted in
    tests) — the v1 ``{table}_{ds_nodash}`` table-per-day lookup as a
    partition lookup."""
    return read_parquet(spark, path).filter(
        F.col("snapshot_date") == snapshot_date
    )


def backfill(
    spark: SparkSession,
    spec: PipelineSpec,
    warehouse: Warehouse,
    dates: list[str],
    sink=None,
) -> list[PipelineResult]:
    """Date-ranged re-run of a snapshot pipeline (the Airflow backfill
    the reference relies on for history repair): one snapshot run per
    ``yyyyMMdd`` date, each overwriting ONLY its own partition
    (dynamic partition overwrite), so re-running any subrange is
    idempotent and never touches the other days.  Serial by design —
    matching op K's one-export-at-a-time constraint and keeping the
    per-day audit trail ordered; days are independent, so a scheduler
    may fan them out."""
    from dataclasses import replace

    out = []
    for d in dates:
        day_spec = replace(spec, write_mode="snapshot", snapshot_date=d)
        out.append(run_pipeline(spark, day_spec, warehouse, sink=sink))
    return out


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    *,
    benchmark: DataFrame | None = None,
    target: DataFrame | None = None,
    select_k: int | None = None,
    pack_budget: int | None = None,
    leakage_safe_splits: bool = False,
) -> dict[str, int]:
    """The LLM training-corpus pipeline, EXECUTED (the counterpart of
    the ``corpus_funnel`` audit query, which only reports): quality
    gate → exact dedup (canonical per content hash) → benchmark
    decontamination → optional DSIR target-domain selection → split
    assignment → optional sequence packing → curated corpus written to
    ``out_path`` partitioned by split.

    Every stage reuses the individually-verified operator modules —
    this function only sequences them, so the composition inherits
    each stage's scale shape (no corpus self-joins, broadcast
    benchmark/model sides, hash-local dedup shuffle).  Returns the
    per-stage surviving-doc counts as the run's audit record.

    With ``leakage_safe_splits`` the split hash is keyed on the
    near-dup CLUSTER representative (MinHash-LSH → exact verify →
    connected components, the ``doc_leakage_safe_splits`` semantics)
    instead of the document id, so surviving near-duplicates can never
    straddle train and eval — the split-time complement of the
    decontamination stage."""
    from pyspark.sql import Window

    from .operators import curation as cur
    from .operators.textstats import (
        detect_lang,
        fingerprint_md5,
        quality_score,
        token_count,
    )

    audit: dict[str, int] = {"raw": docs.count()}
    t = F.col("text")
    gated = docs.filter(
        (detect_lang(t) == "en")
        & (quality_score(t) >= 0.5)
        & token_count(t).between(5, 5000)
    )
    audit["quality_gate"] = gated.count()

    w = F.row_number().over(
        Window.partitionBy(fingerprint_md5(t)).orderBy("doc_id")
    )
    deduped = gated.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")
    audit["exact_dedup"] = deduped.count()

    if benchmark is not None:
        contaminated = cur.decontaminate(deduped, benchmark, n=8).select("doc_id")
        deduped = deduped.join(contaminated, "doc_id", "left_anti")
        audit["decontaminated"] = deduped.count()

    if target is not None and select_k:
        deduped = cur.dsir_resample(deduped, target, k=select_k).drop(
            "logw", "priority"
        )
        audit["dsir_selected"] = deduped.count()

    if leakage_safe_splits:
        from .operators.dedup import minhash_near_dups
        from .operators.graph import connected_components

        pairs = minhash_near_dups(
            deduped, threshold=0.5, num_hashes=32, bands=16
        )
        labels = connected_components(pairs, "id_a", "id_b")
        keyed = (
            deduped.join(
                labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
            )
            .withColumn(
                "_split_key", F.coalesce("label", F.col("doc_id"))
            )
            .drop("label")
        )
        curated = cur.assign_splits(keyed, id_col="_split_key").drop(
            "_split_key"
        )
    else:
        curated = cur.assign_splits(deduped)
    if pack_budget:
        curated = cur.pack_bins(curated, budget=pack_budget)
    curated.write.mode("overwrite").partitionBy("split").parquet(out_path)
    audit["written"] = read_parquet(spark, out_path).count()
    return audit
