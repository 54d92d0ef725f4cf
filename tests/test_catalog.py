"""Fixture-drift guard for the events loader, and the one parquet
reader every table read goes through.

Round 2/3 regression: the driver regenerated ``events.parquet`` with
``ts`` as plain TIMESTAMP(MICROS) while ``catalog.load_table`` still
assumed legacy int64-nanos, turning every events query red with no
localized signal.  These tests construct BOTH encodings in-test and
assert the loader normalizes each to ``ts: timestamp`` — so a future
fixture re-encode fails here first, with an exact message.

``sources.files.read_parquet`` takes its schema from one footer read on
the driver; the tests below hold it to ``spark.read.parquet`` (schema,
rows and errors) on every table shape the package writes, and hold the
package to reading parquet through it.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gcp_cloudsql_airflow_bigquery_spark.catalog import TABLES, load_table
from gcp_cloudsql_airflow_bigquery_spark.sources.files import read_parquet

_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0),
    datetime.datetime(2024, 1, 1, 0, 5, 30, 123456),
    datetime.datetime(2024, 1, 2, 12, 0, 0, 999999),
]
_US = [int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) for t in _TS]


def _write_events(path, ts_array):
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 10, 20], pa.int64()),
            "event_type": pa.array(["click", "view", "purchase"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"a":1}', '{"a":2}', '{"a":3}']),
        }
    )
    pq.write_table(tbl, str(path))


@pytest.fixture()
def micros_dir(tmp_path):
    d = tmp_path / "micros"
    d.mkdir()
    _write_events(d / "events.parquet", pa.array(_TS, pa.timestamp("us")))
    return str(d)


@pytest.fixture()
def nanos_dir(tmp_path):
    d = tmp_path / "nanos"
    d.mkdir()
    # Legacy encoding: raw int64 epoch-nanoseconds, the shape Spark sees
    # for TIMESTAMP(NANOS) parquet under nanosAsLong.
    _write_events(d / "events.parquet", pa.array([u * 1000 for u in _US], pa.int64()))
    return str(d)


def test_loader_micros_encoding(spark, micros_dir):
    df = load_table(spark, micros_dir, "events")
    dtypes = dict(df.dtypes)
    assert dtypes["ts"].startswith("timestamp"), dtypes
    assert df.count() == 3


def test_loader_nanos_encoding(spark, nanos_dir):
    df = load_table(spark, nanos_dir, "events")
    dtypes = dict(df.dtypes)
    assert dtypes["ts"].startswith("timestamp"), dtypes
    assert df.count() == 3


def test_loader_encodings_agree(spark, micros_dir, nanos_dir):
    from pyspark.sql import functions as F

    a = load_table(spark, micros_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    b = load_table(spark, nanos_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    assert sorted(a.collect()) == sorted(b.collect())


def test_real_fixture_loads(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    assert df.count() > 0


def _assert_reads_like_spark(spark, path):
    ours, spark_own = read_parquet(spark, path), spark.read.parquet(path)
    assert ours.schema == spark_own.schema, path
    assert sorted(map(repr, ours.collect())) == sorted(
        map(repr, spark_own.collect())
    ), path


@pytest.mark.parametrize("table", TABLES)
def test_read_parquet_matches_spark_on_fixture_tables(spark, sf_dir, table):
    _assert_reads_like_spark(spark, f"{sf_dir}/{table}.parquet")


def test_read_parquet_matches_spark_on_both_events_encodings(
    spark, micros_dir, nanos_dir
):
    for d in (micros_dir, nanos_dir):
        _assert_reads_like_spark(spark, f"{d}/events.parquet")


def test_read_parquet_matches_spark_on_written_tables(spark, sf_dir, tmp_path):
    """Tables as the pipeline writes them: a commit's overwrite and
    merge, a double append, ``snapshot_date`` partitions, and a corpus
    partitioned by ``split``."""
    from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        Warehouse,
        curate_corpus,
        run_pipeline,
    )

    wh = Warehouse(str(tmp_path / "wh"))

    def run(stage, **kw):
        spec = PipelineSpec(
            export_table="customer",
            stage_table=stage,
            source=SourceSpec(kind="parquet", path=f"{sf_dir}/customer.parquet"),
            retry_delay_s=0.01,
            **kw,
        )
        run_pipeline(spark, spec, wh)
        return wh.path(stage)

    overwritten = run("overwritten")
    _assert_reads_like_spark(spark, overwritten)
    merged = run(
        "overwritten",
        write_mode="merge",
        merge_keys=("c_custkey",),
        export_query=(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1 AS c_acctbal,"
            " c_mktsegment FROM customer WHERE c_custkey < 75"
        ),
    )
    _assert_reads_like_spark(spark, merged)
    run("appended", write_mode="append")
    _assert_reads_like_spark(spark, run("appended", write_mode="append"))
    run("snapshots", write_mode="snapshot", snapshot_date="20260101")
    snapshots = run("snapshots", write_mode="snapshot", snapshot_date="20260102")
    _assert_reads_like_spark(spark, snapshots)
    assert "snapshot_date" in read_parquet(spark, snapshots).columns

    corpus = str(tmp_path / "corpus")
    curate_corpus(spark, load_table(spark, sf_dir, "documents"), corpus)
    _assert_reads_like_spark(spark, corpus)
    assert "split" in read_parquet(spark, corpus).columns


def test_read_parquet_takes_the_schema_of_the_file_spark_infers_from(
    spark, tmp_path
):
    """When part files disagree, the schema is that of the least path
    among the data files, as in Spark's non-merge inference; here that
    is ``k=a-b/`` (``-`` sorts before ``/``), which a walk ordered by
    directory name alone would pass over for ``k=a/``."""
    table = tmp_path / "t"
    for part, cols in (("k=a", {"x": [1]}), ("k=a-b", {"x": [2], "y": ["v"]})):
        (table / part).mkdir(parents=True)
        pq.write_table(pa.table(cols), str(table / part / "part-0.parquet"))
    _assert_reads_like_spark(spark, str(table))
    assert read_parquet(spark, str(table)).columns == ["x", "y", "k"]


@pytest.mark.parametrize(
    "summaries, columns",
    [
        (("_common_metadata",), ["a", "b"]),
        (("_metadata",), ["a", "b", "c"]),
        (("_common_metadata", "_metadata"), ["a", "b"]),
    ],
)
def test_read_parquet_takes_the_schema_of_a_root_summary_file(
    spark, tmp_path, summaries, columns
):
    """A root ``_common_metadata`` comes before a root ``_metadata``, and
    either before the data files, as in Spark's non-merge inference;
    here each file has a different schema."""
    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(table / "part-0.parquet"))
    schemas = {
        "_common_metadata": pa.schema([("a", pa.int64()), ("b", pa.string())]),
        "_metadata": pa.schema(
            [("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())]
        ),
    }
    for name in summaries:
        pq.write_metadata(schemas[name], str(table / name))
    _assert_reads_like_spark(spark, str(table))
    assert read_parquet(spark, str(table)).columns == columns


def test_read_parquet_raises_sparks_own_error(spark, tmp_path):
    """A path with no data file under it (missing, empty, or holding
    only hidden files) raises the error ``spark.read.parquet`` raises."""
    (tmp_path / "empty").mkdir()
    (tmp_path / "hidden").mkdir()
    (tmp_path / "hidden" / "_SUCCESS").write_text("")
    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "hidden" / ".part.parquet"))
    for name in ("missing", "empty", "hidden"):
        path = str(tmp_path / name)
        raised = []
        for read in (read_parquet, lambda s, p: s.read.parquet(p)):
            with pytest.raises(Exception) as err:
                read(spark, path)
            raised.append((type(err.value), err.value.getCondition()))
        assert raised[0] == raised[1], (name, raised)


def test_registry_query_builds_without_jobs(spark, sf_dir):
    """Building a query over five tables submits no Spark job: no
    table read runs a schema-inference job."""
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    sc = spark.sparkContext
    sc.setJobGroup("q9_build", "q9 construction")
    try:
        QUERIES["q9_product_type_profit"](spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup("q9_build")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_parquet_tables_are_read_only_through_read_parquet():
    """No module of the package reads a parquet table with
    ``<x>.read...parquet(...)`` or ``<x>.read...format("parquet")``
    except ``sources/files.py``, whose ``read_parquet`` is the one
    reader; and that one still does (its fallback).  ``readStream`` is
    another attribute, so stream sources do not match."""
    import ast
    import pathlib

    import gcp_cloudsql_airflow_bigquery_spark as pkg

    def on_reader(node) -> bool:
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    def parquet_reads(tree) -> list[int]:
        lines = []
        for node in ast.walk(tree):
            f = getattr(node, "func", None)
            if not isinstance(f, ast.Attribute) or not on_reader(f.value):
                continue
            fmt = f.attr == "format" and any(
                isinstance(a, ast.Constant) and a.value == "parquet"
                for a in node.args
            )
            if f.attr == "parquet" or fmt:
                lines.append(node.lineno)
        return lines

    root = pathlib.Path(pkg.__file__).parent
    offenders, own = [], []
    for path in sorted(root.rglob("*.py")):
        lines = parquet_reads(ast.parse(path.read_text()))
        if path == root / "sources" / "files.py":
            own = lines
        else:
            offenders += [f"{path.relative_to(root)}:{n}" for n in lines]
    assert not offenders, offenders
    assert own, "sources/files.py no longer reads parquet: the guard is stale"
