"""Pipeline-level tests: extract→transform→load→finalize with the
write-mode semantics of ops F/H (overwrite idempotence), v1 snapshots,
and op I's merge (SURVEY.md §5 "snapshot-overwrite idempotence")."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec
from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
    Warehouse,
    compact_parquet,
    run_pipeline,
    run_pipelines,
)
from gcp_cloudsql_airflow_bigquery_spark.sources.jdbc import jdbc_reader_options


@pytest.fixture()
def warehouse(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def _parquet_spec(sf_dir, table="customer", **kw):
    return PipelineSpec(
        export_table=table,
        source=SourceSpec(kind="parquet", path=f"{sf_dir}/{table}.parquet"),
        retry_delay_s=0.01,
        **kw,
    )


def test_overwrite_idempotent(spark, sf_dir, warehouse):
    spec = _parquet_spec(sf_dir)
    r1 = run_pipeline(spark, spec, warehouse)
    r2 = run_pipeline(spark, spec, warehouse)
    assert r1.rows_written == r2.rows_written == 150
    assert spark.read.parquet(r2.output_path).count() == 150


def test_export_query_pushdown(spark, sf_dir, warehouse):
    spec = _parquet_spec(
        sf_dir,
        export_query="SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0",
    )
    r = run_pipeline(spark, spec, warehouse)
    df = spark.read.parquet(r.output_path)
    assert df.columns == ["c_custkey", "c_acctbal"]
    assert df.filter(F.col("c_acctbal") <= 0).count() == 0


def test_snapshot_partitions(spark, sf_dir, warehouse):
    s1 = _parquet_spec(sf_dir, write_mode="snapshot", snapshot_date="20260101")
    s2 = _parquet_spec(sf_dir, write_mode="snapshot", snapshot_date="20260102")
    run_pipeline(spark, s1, warehouse)
    run_pipeline(spark, s2, warehouse)
    # re-run day 2: dynamic overwrite must replace only that partition
    run_pipeline(spark, s2, warehouse)
    df = spark.read.parquet(warehouse.path("customer"))
    counts = {
        # partition type inference may read yyyyMMdd back as int
        str(r.snapshot_date): r.n
        for r in df.groupBy("snapshot_date").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"20260101": 150, "20260102": 150}


def test_merge_upsert(spark, sf_dir, warehouse):
    base = _parquet_spec(sf_dir, write_mode="overwrite")
    run_pipeline(spark, base, warehouse)
    # incoming: half the customers with bumped balances
    inc = _parquet_spec(
        sf_dir,
        write_mode="merge",
        merge_keys=("c_custkey",),
        export_query=(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000 AS c_acctbal,"
            " c_mktsegment FROM customer WHERE c_custkey < 75"
        ),
    )
    run_pipeline(spark, inc, warehouse)
    df = spark.read.parquet(warehouse.path("customer"))
    assert df.count() == 150  # upsert, not append
    orig = spark.read.parquet(f"{sf_dir}/customer.parquet")
    bumped = (
        df.alias("m")
        .join(orig.alias("o"), "c_custkey")
        .filter(F.col("m.c_acctbal") != F.col("o.c_acctbal"))
        .count()
    )
    assert bumped == orig.filter("c_custkey < 75").count()


def test_merge_single_data_write(spark, sf_dir, warehouse, monkeypatch):
    """A merge must write the merged data exactly once (versioned dir +
    rename swap), not stage-then-rewrite at 2x the table's I/O."""
    import pyspark.sql.readwriter as rw

    base = _parquet_spec(sf_dir, write_mode="overwrite")
    run_pipeline(spark, base, warehouse)

    writes: list[str] = []
    orig = rw.DataFrameWriter.parquet

    def spy(self, path, **kw):
        writes.append(path)
        return orig(self, path, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", spy)
    inc = _parquet_spec(
        sf_dir,
        write_mode="merge",
        merge_keys=("c_custkey",),
        export_query=(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1 AS c_acctbal,"
            " c_mktsegment FROM customer WHERE c_custkey < 10"
        ),
    )
    run_pipeline(spark, inc, warehouse)
    merge_writes = [p for p in writes if "customer" in p]
    assert len(merge_writes) == 1, f"expected 1 data write, saw {merge_writes}"
    # the swap must leave the table at its canonical path with no
    # versioned leftovers
    df = spark.read.parquet(warehouse.path("customer"))
    assert df.count() == 150
    import os

    leftovers = [e for e in os.listdir(warehouse.root) if "__v" in e or "__old" in e]
    assert leftovers == []


def test_merge_into_unreadable_target_raises_and_keeps_it(spark, tmp_path):
    """An existing target without readable parquet is an error, not a
    first run: the merge raises and leaves the directory untouched."""
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import merge_parquet

    target = tmp_path / "target"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"not a parquet file")
    before = {p.name: p.read_bytes() for p in target.iterdir()}
    incoming = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(Exception, match="(?i)parquet"):
        merge_parquet(spark, incoming, str(target), ["k"])
    assert {p.name: p.read_bytes() for p in target.iterdir()} == before


def test_finalize_runs_stage_final_query(spark, sf_dir, warehouse):
    spec = _parquet_spec(
        sf_dir,
        stage_final_query=(
            "SELECT c_mktsegment, COUNT(*) AS n FROM customer_stage"
            " GROUP BY c_mktsegment"
        ),
        final_table="customer_by_segment",
    )
    run_pipeline(spark, spec, warehouse)
    final = spark.read.parquet(warehouse.path("customer_by_segment"))
    assert final.count() == 5
    assert set(final.columns) == {"c_mktsegment", "n"}


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/source parity: byte-exact roundtrip and the same
    pushdown story as parquet (filter visible at the ORC scan)."""
    from gcp_cloudsql_airflow_bigquery_spark.sources.files import (
        read_orc,
        write_orc,
    )

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_orc")
    write_orc(src, out)
    back = read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    assert back.schema == src.schema
    plan = (
        back.filter(F.col("n_regionkey") == 2)
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_regionkey" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def _parquet_files(path):
    import os

    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    """Compaction must collapse a fragmented table to the size-derived
    file count, preserve every row, and leave no versioned leftovers."""
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = str(tmp_path / "frag")
    src.repartition(16).write.parquet(out)
    assert len(_parquet_files(out)) == 16
    before = sorted(map(tuple, src.collect()))

    n_after = compact_parquet(spark, out, target_file_bytes=1 << 30)
    assert n_after == 1
    assert len(_parquet_files(out)) == 1
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before
    leftovers = [e for e in tmp_path.iterdir() if "__v" in e.name or "__old" in e.name]
    assert leftovers == []


def test_compact_parquet_skips_already_compact(spark, sf_dir, tmp_path):
    """An already-compact table must NOT be rewritten (idempotent
    maintenance — no 100 TB rewrite for a no-op)."""
    import os

    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = str(tmp_path / "ok")
    src.repartition(2).write.parquet(out)
    mtimes = {f: os.path.getmtime(os.path.join(out, f)) for f in _parquet_files(out)}
    n_after = compact_parquet(spark, out, target_file_bytes=1)  # wants >= 2 files
    assert n_after == 2
    assert {
        f: os.path.getmtime(os.path.join(out, f)) for f in _parquet_files(out)
    } == mtimes


def test_ndjson_chunked_export(spark, sf_dir, tmp_path):
    """Op G chunk parity: chunk_rows bounds rows per NDJSON file, so
    file count scales with the bound (reference v2's filename_{} chunk
    counter, dags/copy_cloudsql_to_bigquery_v2.py:88)."""
    import glob

    from gcp_cloudsql_airflow_bigquery_spark.sources.files import (
        read_ndjson,
        write_ndjson,
    )

    df = spark.read.parquet(f"{sf_dir}/customer.parquet").coalesce(1)  # 150 rows
    counts = {}
    for chunk in (50, 25):
        out = str(tmp_path / f"nd_{chunk}")
        write_ndjson(df, out, chunk_rows=chunk)
        files = glob.glob(f"{out}/part-*")
        counts[chunk] = len(files)
        assert counts[chunk] == 150 // chunk  # bound respected per task
        # wildcard reload (the v2 re-import path) sees every chunk
        assert read_ndjson(spark, out).count() == 150
    assert counts[25] == 2 * counts[50]
    with pytest.raises(ValueError, match="chunk_rows"):
        write_ndjson(df, str(tmp_path / "bad"), chunk_rows=0)


def test_retry_then_fail(spark, warehouse):
    spec = PipelineSpec(
        export_table="missing",
        source=SourceSpec(kind="parquet", path="/nonexistent.parquet"),
        retries=1,
        retry_delay_s=0.01,
    )
    with pytest.raises(RuntimeError, match="pipeline missing failed"):
        run_pipeline(spark, spec, warehouse)


def test_run_pipelines_multi_table(spark, sf_dir, warehouse):
    specs = [_parquet_spec(sf_dir, t) for t in ("region", "nation", "supplier")]
    results = run_pipelines(spark, specs, warehouse)
    assert [r.rows_written for r in results] == [5, 25, 10]


def test_jdbc_option_assembly():
    src = SourceSpec(
        kind="jdbc",
        url="jdbc:mysql://proxy:3306/db",
        driver="com.mysql.cj.jdbc.Driver",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=8,
    )
    opts = jdbc_reader_options(src, query="SELECT * FROM t WHERE x > 1")
    assert opts["dbtable"] == "(SELECT * FROM t WHERE x > 1) AS t"
    assert opts["numPartitions"] == "8"
    plain = jdbc_reader_options(
        SourceSpec(kind="jdbc", url="jdbc:postgresql://proxy:5432/db"),
        query="SELECT 1",
    )
    assert plain["query"] == "SELECT 1"
    assert "queryTimeout" not in plain


def test_jdbc_options_carry_the_attempt_timeout():
    """``timeout_s`` becomes the statement timeout (which bounds the
    driver-side schema lookup) plus the driver's connect and socket
    timeouts in its own units; explicit properties win."""
    mysql = jdbc_reader_options(
        SourceSpec(kind="jdbc", url="jdbc:mysql://proxy:3306/db"),
        query="SELECT 1",
        timeout_s=90.5,
    )
    assert mysql["queryTimeout"] == "91"
    assert mysql["connectTimeout"] == mysql["socketTimeout"] == "90500"
    pg = jdbc_reader_options(
        SourceSpec(
            kind="jdbc",
            url="jdbc:postgresql://proxy:5432/db",
            properties={"socketTimeout": "0"},
        ),
        query="SELECT 1",
        timeout_s=30,
    )
    assert pg["queryTimeout"] == pg["connectTimeout"] == "30"
    assert pg["socketTimeout"] == "0"
    derby = jdbc_reader_options(
        SourceSpec(kind="jdbc", url="jdbc:derby:memory:x"), table="T", timeout_s=5
    )
    assert derby == {"url": "jdbc:derby:memory:x", "queryTimeout": "5", "dbtable": "T"}


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key must join without Exchange."""
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import write_bucketed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o, "b_orders", ["o_orderkey"], 8)
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8)
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    # at test scale the planner would broadcast the small side (itself
    # shuffle-free); disable it to prove the sort-merge path reads the
    # bucket layout instead of shuffling
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_quantity"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # sanity: same join over raw (unbucketed) parquet does shuffle
        raw = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_quantity"
        )
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
        assert joined.count() == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_scd2_new_key_and_unchanged(spark):
    """SCD2 branches: changed key closes+reopens, unchanged stays open
    untouched, brand-new key inserts open, already-closed history rows
    pass through."""
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import scd2_apply

    existing = spark.createDataFrame(
        [
            (1, "a", "2020-01-01", "2022-01-01"),  # closed history
            (1, "b", "2022-01-01", None),  # open, will change
            (2, "x", "2020-01-01", None),  # open, unchanged
        ],
        "k int, attr string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "attr", "CAST(valid_from AS DATE) valid_from", "CAST(valid_to AS DATE) valid_to"
    )
    incoming = spark.createDataFrame(
        [(1, "c", "2024-06-01"), (2, "x", "2024-06-01"), (3, "new", "2024-06-01")],
        "k int, attr string, effective_date string",
    ).selectExpr("k", "attr", "CAST(effective_date AS DATE) effective_date")
    out = scd2_apply(existing, incoming, ["k"])
    rows = {(r.k, r.attr, str(r.valid_from), str(r.valid_to)) for r in out.collect()}
    assert rows == {
        (1, "a", "2020-01-01", "2022-01-01"),
        (1, "b", "2022-01-01", "2024-06-01"),
        (1, "c", "2024-06-01", "None"),
        (2, "x", "2020-01-01", "None"),
        (3, "new", "2024-06-01", "None"),
    }


def test_snapshot_diff_classifies_and_skips_unchanged(spark):
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, None), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (3, None, None), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    out = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    # unchanged rows (incl. the all-NULL-attribute row 3) are absent
    assert set(out) == {2, 4, 5}
    assert out[2].change_type == "update" and out[2].v == 25.0
    assert out[4].change_type == "delete" and out[4].v == 40.0
    assert out[5].change_type == "insert" and out[5].v == 50.0


def test_snapshot_diff_all_null_row_insert_delete(spark):
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k int, v string")
    new = spark.createDataFrame([(2, None)], "k int, v string")
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "delete", 2: "insert"}


def test_sink_seam_write_truncate(spark, sf_dir, warehouse):
    # WRITE_TRUNCATE (the reference's v2 disposition,
    # dags/copy_cloudsql_to_bigquery_v2.py:108): re-running replaces,
    # never accretes. Connector jar absent in-sandbox -> the seam must
    # route to the local warehouse with identical semantics.
    from gcp_cloudsql_airflow_bigquery_spark.sinks import (
        BigQuerySink,
        bigquery_connector_available,
    )

    assert not bigquery_connector_available(spark)
    sink = BigQuerySink(dataset="analytics", warehouse=warehouse)
    spec = _parquet_spec(sf_dir)  # write_mode=overwrite -> WRITE_TRUNCATE
    r1 = run_pipeline(spark, spec, warehouse, sink=sink)
    r2 = run_pipeline(spark, spec, warehouse, sink=sink)
    assert r1.rows_written == r2.rows_written == 150
    assert sink.read(spark, "customer").count() == 150


def test_sink_seam_write_append(spark, sf_dir, warehouse):
    from gcp_cloudsql_airflow_bigquery_spark.sinks import BigQuerySink

    sink = BigQuerySink(dataset="analytics", warehouse=warehouse)
    spec = _parquet_spec(sf_dir, write_mode="append")  # -> WRITE_APPEND
    run_pipeline(spark, spec, warehouse, sink=sink)
    r2 = run_pipeline(spark, spec, warehouse, sink=sink)
    assert r2.rows_written == 300  # two loads accrete
    assert sink.read(spark, "customer").count() == 300


def test_sink_seam_write_empty_and_bad_disposition(spark, sf_dir, warehouse):
    from gcp_cloudsql_airflow_bigquery_spark.sinks import BigQuerySink

    sink = BigQuerySink(dataset="analytics", warehouse=warehouse)
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    assert sink.write(df, "region", "WRITE_EMPTY").endswith("region")
    with pytest.raises(Exception):  # WRITE_EMPTY on non-empty target fails
        sink.write(df, "region", "WRITE_EMPTY")
    with pytest.raises(ValueError, match="writeDisposition"):
        sink.write(df, "region", "WRITE_NEVER")


def test_attempt_timeout_cancels_running_job(spark):
    # v1 parity: the reference bounds each export at 3600 s (gcloud sql
    # operations wait --timeout, dags/cloudsql_to_bigquery.py:117); our
    # analogue cancels the attempt's Spark job group on expiry.
    import time

    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        _attempt_with_timeout,
    )

    def slow():
        spark.range(8).repartition(8).foreachPartition(
            lambda it: time.sleep(60)
        )

    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="exceeded"):
        _attempt_with_timeout(spark, slow, 2.0)
    assert time.monotonic() - t0 < 30  # cancelled, not run to completion


def test_run_pipeline_timeout_is_retryable(spark, sf_dir, warehouse, monkeypatch):
    """The first attempt's Spark job outlives the deadline and is
    cancelled; the retry succeeds."""
    import time

    import gcp_cloudsql_airflow_bigquery_spark.pipeline as P

    real, calls = P.transform, {"n": 0}

    def slow_first(df, spec):
        calls["n"] += 1
        if calls["n"] == 1:
            spark.range(1).foreachPartition(lambda it: time.sleep(60))
        return real(df, spec)

    monkeypatch.setattr(P, "transform", slow_first)
    spec = _parquet_spec(sf_dir, timeout_s=4.0)
    r = P.run_pipeline(spark, spec, warehouse)
    assert r.attempts == 2  # first attempt timed out, second succeeded
    assert r.rows_written == 150


def test_attempt_job_started_after_deadline_fails_at_submission(spark, tmp_path):
    """A job the attempt starts after its deadline never runs: the
    attempt raises TimeoutError when it submits the job."""
    import os
    import time

    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        _attempt_with_timeout,
    )

    flag = str(tmp_path / "flag")

    def late_job():
        time.sleep(1.0)
        spark.range(1).foreach(lambda _: open(flag, "w").close())

    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="exceeded"):
        _attempt_with_timeout(spark, late_job, 0.5)
    assert time.monotonic() - t0 < 5
    time.sleep(1.0)
    assert not os.path.exists(flag)


def test_run_pipeline_runs_on_caller_thread_and_keeps_its_job_group(
    spark, sf_dir, warehouse, monkeypatch
):
    import threading

    import gcp_cloudsql_airflow_bigquery_spark.pipeline as P

    sc = spark.sparkContext
    real, seen = P.transform, {}

    def recording(df, spec):
        seen["thread"] = threading.get_ident()
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return real(df, spec)

    monkeypatch.setattr(P, "transform", recording)
    sc.setJobGroup("caller_group", "caller's job group")
    try:
        r = P.run_pipeline(spark, _parquet_spec(sf_dir), warehouse)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller_group"
        assert sc.getLocalProperty("spark.job.description") == "caller's job group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert r.rows_written == 150
    assert seen["thread"] == threading.get_ident()
    assert seen["group"].startswith("pipeline-attempt-")


@pytest.mark.parametrize(
    "build",
    [
        lambda: PipelineSpec(export_table="t", write_mode="bogus"),
        lambda: PipelineSpec(export_table="t", write_mode="merge"),
        lambda: SourceSpec(kind="bogus"),
    ],
    ids=["write_mode", "merge_keys", "source_kind"],
)
def test_spec_errors_raise_when_the_spec_is_built(build):
    with pytest.raises(ValueError):
        build()


def test_incremental_rollup_merge_equals_full_rollup(spark, sf_dir):
    """merge(rollup(base), rollup(delta)) == rollup(base ∪ delta) for
    sum/count/min/max — the exact-arithmetic refresh that never rescans
    the fact table."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        incremental_rollup_merge,
    )

    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 5 != 0)
    delta = o.filter(F.col("o_orderkey") % 5 == 0)

    def rollup(df):
        return df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
            F.count("*").alias("n"),
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )

    merged = incremental_rollup_merge(
        rollup(base),
        rollup(delta),
        ["o_orderstatus", "o_orderpriority"],
        sum_cols=["total"],
        count_col="n",
        min_cols=["first_d"],
        max_cols=["last_d"],
    )
    want = rollup(o)
    assert merged.exceptAll(want).count() == 0
    assert want.exceptAll(merged).count() == 0


def test_incremental_rollup_merge_handles_new_and_missing_keys(spark):
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        incremental_rollup_merge,
    )

    e = spark.createDataFrame(
        [("a", 10, 2, 1, 5), ("b", 7, 1, 3, 3)], "k string, s long, n long, mn long, mx long"
    )
    d = spark.createDataFrame(
        [("b", 3, 1, 0, 9), ("c", 4, 1, 2, 2)], "k string, s long, n long, mn long, mx long"
    )
    got = {
        r.k: (r.s, r.n, r.mn, r.mx)
        for r in incremental_rollup_merge(
            e, d, ["k"], sum_cols=["s"], count_col="n",
            min_cols=["mn"], max_cols=["mx"],
        ).collect()
    }
    assert got == {
        "a": (10, 2, 1, 5),   # untouched key survives
        "b": (10, 2, 0, 9),   # combined
        "c": (4, 1, 2, 2),    # new key appears
    }


def test_purge_keys_deletes_across_tables(spark, tmp_path):
    """Right-to-be-forgotten: keys disappear from every target table,
    other rows survive byte-for-byte, and per-table delete counts are
    reported."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.pipeline import purge_keys

    orders_p = str(tmp_path / "p_orders")
    events_p = str(tmp_path / "p_events")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "cust long, amt long, x string"
    ).write.parquet(orders_p)
    spark.createDataFrame(
        [(1, "click"), (1, "view"), (4, "click")], "user long, et string"
    ).write.parquet(events_p)

    forget = spark.createDataFrame([(1,), (3,)], "key long")
    deleted = purge_keys(
        spark, {orders_p: "cust", events_p: "user"}, forget
    )
    assert deleted == {orders_p: 2, events_p: 2}
    left_o = {tuple(r) for r in spark.read.parquet(orders_p).collect()}
    assert left_o == {(2, 20, "b")}
    left_e = {tuple(r) for r in spark.read.parquet(events_p).collect()}
    assert left_e == {(4, "click")}
    # idempotent: second purge deletes nothing but still succeeds
    deleted2 = purge_keys(spark, {orders_p: "cust"}, forget)
    assert deleted2 == {orders_p: 0}


def test_failed_purge_swap_leaves_nothing_finalize_registers(
    spark, tmp_path, monkeypatch
):
    """A purge whose rename swap fails leaves its written version
    directory behind; finalize must not register that leftover as a
    ``*_stage`` view next to the real stage table."""
    from gcp_cloudsql_airflow_bigquery_spark import pipeline

    wh = Warehouse(str(tmp_path / "wh"))
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(
        wh.path("purged_t")
    )

    def failing_swap(*_args):
        raise RuntimeError("injected swap failure")

    monkeypatch.setattr(pipeline, "_swap_into_place", failing_swap)
    forget = spark.createDataFrame([(1,)], "key long")
    with pytest.raises(RuntimeError, match="injected"):
        pipeline.purge_keys(spark, {wh.path("purged_t"): "k"}, forget)
    monkeypatch.undo()  # finalize commits its own table through the swap
    assert _siblings(wh.path("purged_t"))  # the purge's version is left

    spec = PipelineSpec(
        export_table="purged_t",
        source=SourceSpec(kind="parquet", path=wh.path("purged_t")),
        stage_final_query="SELECT COUNT(*) AS n FROM purged_t_stage",
    )
    pipeline.finalize(spark, spec, wh)
    views = {
        t.name for t in spark.catalog.listTables() if t.name.startswith("purged_t")
    }
    assert views == {"purged_t_stage"}
    assert spark.read.parquet(wh.path("purged_t")).count() == 2


def test_backfill_writes_idempotent_day_partitions(spark, tmp_path):
    """Each backfilled day lands in its own partition; re-running one
    day replaces only that day; snapshot reads prune to one partition."""
    from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        Warehouse,
        backfill,
        read_snapshot,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, payload string"
    ).write.parquet(src)
    wh = Warehouse(str(tmp_path / "wh"))
    spec = PipelineSpec(
        export_table="t",
        source=SourceSpec(kind="parquet", path=src),
        retries=0,
        retry_delay_s=0.0,
    )
    days = ["20240101", "20240102", "20240103"]
    results = backfill(spark, spec, wh, days)
    assert [r.attempts for r in results] == [1, 1, 1]
    table = spark.read.parquet(wh.path("t"))
    per_day = {
        # partition values read back type-inferred (int here)
        str(r.snapshot_date): r.n
        for r in table.groupBy("snapshot_date").count().withColumnRenamed("count", "n").collect()
    }
    assert per_day == {d: 30 for d in days}

    # re-run the middle day only: other days untouched, no duplication
    backfill(spark, spec, wh, ["20240102"])
    table2 = spark.read.parquet(wh.path("t"))
    assert table2.count() == 90

    snap = read_snapshot(spark, wh.path("t"), "20240102")
    assert snap.count() == 30
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "snapshot_date" in plan.split(
        "PartitionFilters"
    )[1][:120], plan


# --- one table commit: every replacement goes through the versioned swap

_OLD = [(k, f"old{k}") for k in range(100)]
_NEW = [(k, f"new{k}") for k in range(90, 110)]


def _frame(spark, rows, *, fail=False, schema="k long, v string"):
    """``rows`` as a frame; with ``fail`` one more row whose evaluation
    fails the Spark job that writes it."""
    df = spark.createDataFrame(rows, schema)
    if fail:
        boom = F.raise_error(F.lit("injected job failure"))
        df = df.unionByName(
            spark.range(1).select(
                *[boom.cast(f.dataType).alias(f.name) for f in df.schema]
            )
        )
    return df


def _table(spark, path):
    """A table's rows as sorted string tuples over its sorted columns."""
    df = spark.read.parquet(path)
    return sorted(tuple(map(str, r)) for r in df.select(sorted(df.columns)).collect())


def _as_table(rows, day=None):
    return sorted(
        (str(k), day, v) if day else (str(k), v) for k, v in rows
    )


def _siblings(path):
    """Commit leftovers beside ``path``: ``__v…`` and ``__old…`` dirs."""
    import os

    parent, name = os.path.split(path)
    return [
        e for e in os.listdir(parent)
        if e.startswith(f"{name}__v") or e.startswith(f"{name}__old")
    ]


def _seed(spark, wh, op):
    """Write table ``t`` for ``op``; return its rows before and after
    one successful ``_commit(op)``."""
    old = _frame(spark, _OLD).repartition(4)
    if op == "snapshot":
        old.withColumn("snapshot_date", F.lit("20260101")).write.partitionBy(
            "snapshot_date"
        ).parquet(wh.path("t"))
        return _as_table(_OLD, "20260101"), sorted(
            _as_table(_OLD, "20260101") + _as_table(_NEW, "20260102")
        )
    old.write.parquet(wh.path("t"))
    if op == "finalize":
        _frame(spark, _NEW).write.parquet(wh.path("src"))
    after = {
        "append": _OLD + _NEW,
        "merge": [r for r in _OLD if r[0] < 90] + _NEW,
        "compact": _OLD,
        "purge": [r for r in _OLD if r[0] >= 10],
    }.get(op, _NEW)
    return _as_table(_OLD), _as_table(after)


def _commit(op, spark, wh, *, fail=False):
    """Replace or extend table ``t`` the way ``op`` does; with ``fail``
    the commit's Spark job fails."""
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import (
        finalize,
        load,
        purge_keys,
    )
    from gcp_cloudsql_airflow_bigquery_spark.sinks import BigQuerySink

    path = wh.path("t")
    if op in ("overwrite", "append", "snapshot", "merge"):
        spec = PipelineSpec(
            export_table="t",
            write_mode=op,
            snapshot_date="20260102",
            merge_keys=("k",) if op == "merge" else (),
        )
        load(spark, _frame(spark, _NEW, fail=fail), spec, wh)
    elif op == "sink":
        BigQuerySink("analytics", wh).write(
            _frame(spark, _NEW, fail=fail), "t", "WRITE_TRUNCATE"
        )
    elif op == "finalize":
        query = "SELECT k, v FROM src_stage"
        if fail:
            query += (
                " UNION ALL SELECT CAST(raise_error('injected job failure')"
                " AS BIGINT), 'x'"
            )
        spec = PipelineSpec(
            export_table="src", stage_final_query=query, final_table="t"
        )
        finalize(spark, spec, wh)
    elif op == "compact":
        with pytest.MonkeyPatch.context() as mp:
            if fail:  # the compaction job fails while it rewrites the table
                frame_cls = type(spark.range(1))
                coalesce = frame_cls.coalesce
                mp.setattr(
                    frame_cls,
                    "coalesce",
                    lambda df, n: coalesce(
                        _frame(spark, [], fail=True).unionByName(df), n
                    ),
                )
            compact_parquet(spark, path, target_file_bytes=1 << 30)
    else:  # purge
        forget = _frame(
            spark, [(k,) for k in range(10)], fail=fail, schema="key long"
        )
        purge_keys(spark, {path: "k"}, forget)


_COMMIT_OPS = [
    "overwrite", "append", "snapshot", "merge", "compact", "purge", "finalize",
    "sink",
]


@pytest.mark.parametrize("op", _COMMIT_OPS)
def test_failed_job_keeps_the_old_table_and_leaves_no_debris(
    spark, tmp_path, op
):
    """A commit whose Spark job fails leaves the table's old rows
    readable and nothing beside it; the next commit lands in full."""
    wh = Warehouse(str(tmp_path / "wh"))
    old, new = _seed(spark, wh, op)
    with pytest.raises(Exception, match="injected job failure"):
        _commit(op, spark, wh, fail=True)
    assert _table(spark, wh.path("t")) == old
    assert _siblings(wh.path("t")) == []
    _commit(op, spark, wh)
    assert _table(spark, wh.path("t")) == new
    assert _siblings(wh.path("t")) == []


@pytest.mark.parametrize("op", _COMMIT_OPS)
def test_crash_between_swap_renames_rolls_back_on_the_next_commit(
    spark, tmp_path, op, crash_mid_swap
):
    """A commit killed between the swap's two renames leaves no table
    and an ``__old`` sibling; the next commit of any kind settles the
    table back to its old rows first, so it lands on them (append and
    snapshot never swap: they follow a crashed overwrite)."""
    wh = Warehouse(str(tmp_path / "wh"))
    _, new = _seed(spark, wh, op)
    with crash_mid_swap(), pytest.raises(RuntimeError, match="injected crash"):
        _commit(op if op not in ("append", "snapshot") else "overwrite", spark, wh)
    _commit(op, spark, wh)
    assert _table(spark, wh.path("t")) == new
    assert _siblings(wh.path("t")) == []


def test_crash_between_swap_renames_then_merge_keeps_every_row(
    spark, tmp_path, crash_mid_swap
):
    """A merge killed between the swap's renames, then a 2-row merge:
    the 100 old rows survive next to the 2 merged ones, and no
    ``__v``/``__old`` sibling is left."""
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import merge_parquet

    target = str(tmp_path / "m")
    _frame(spark, _OLD).write.parquet(target)
    with crash_mid_swap(), pytest.raises(RuntimeError, match="injected crash"):
        merge_parquet(spark, _frame(spark, [(0, "x")]), target, ["k"])
    two = [(200, "a"), (201, "b")]
    merge_parquet(spark, _frame(spark, two), target, ["k"])
    assert _table(spark, target) == _as_table(_OLD + two)
    assert _siblings(target) == []


def test_run_pipelines_settles_every_table_before_the_first_spec(
    spark, tmp_path, crash_mid_swap
):
    """``dim`` is left half-swapped (no ``dim``, only ``dim__old…``);
    a run whose fact spec finalizes a join with ``dim_stage`` before the
    dim spec reloads it sees the old ``dim`` rows."""
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import load

    wh = Warehouse(str(tmp_path / "wh"))
    _frame(spark, _OLD).write.parquet(wh.path("dim"))
    with crash_mid_swap(), pytest.raises(RuntimeError, match="injected crash"):
        load(spark, _frame(spark, _NEW), PipelineSpec(export_table="dim"), wh)
    for name, rows in (("fact", [(k, str(k)) for k in range(95, 100)]), ("dim", _NEW)):
        _frame(spark, rows).write.parquet(str(tmp_path / f"{name}.parquet"))
    specs = [
        _parquet_spec(
            str(tmp_path),
            "fact",
            retries=0,
            stage_final_query="SELECT f.k, d.v FROM fact_stage f"
            " JOIN dim_stage d ON f.k = d.k",
            final_table="fact_dim",
        ),
        _parquet_spec(str(tmp_path), "dim", retries=0),
    ]
    assert [r.rows_written for r in run_pipelines(spark, specs, wh)] == [5, 20]
    assert _table(spark, wh.path("fact_dim")) == _as_table(_OLD[95:])
    assert _table(spark, wh.path("dim")) == _as_table(_NEW)


def test_failed_version_write_leaves_no_debris(spark, tmp_path):
    """A version write that fails deletes its ``__v`` directory and
    re-raises the job's own error; the table is untouched."""
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import _write_versioned

    target = str(tmp_path / "t2")
    _frame(spark, _OLD).write.parquet(target)
    with pytest.raises(Exception, match="injected job failure"):
        _write_versioned(spark, _frame(spark, _NEW, fail=True), target)
    assert _siblings(target) == []
    assert _table(spark, target) == _as_table(_OLD)


def test_settle_touches_only_its_own_table(spark, tmp_path):
    """Settling ``t`` leaves alone a table whose name merely starts with
    ``t`` and that table's own commit leftovers."""
    import os
    import uuid

    from gcp_cloudsql_airflow_bigquery_spark.pipeline import _settle

    t2_version = f"t2__v{uuid.uuid4().hex}"
    for name in ("t", "t2", t2_version, f"t__v{uuid.uuid4().hex}"):
        os.makedirs(tmp_path / name)
    assert _settle(spark, str(tmp_path / "t"))
    assert sorted(os.listdir(tmp_path)) == sorted(["t", "t2", t2_version])
    assert not _settle(spark, str(tmp_path / "absent"))


#: (file, function) that may write a table in place with
#: ``.mode("overwrite")`` or a computed ``.mode(...)``, and why
_IN_PLACE_WRITE_ALLOWLIST = {
    ("pipeline.py", "_write_versioned"),  # the version directory itself
    ("pipeline.py", "_write_snapshot"),  # dynamic overwrite of one partition
    ("pipeline.py", "write_bucketed"),  # managed saveAsTable
    ("pipeline.py", "curate_corpus"),  # partitioned corpus export
    ("sinks.py", "_write_bigquery"),  # BigQuery commits the load job itself
    ("streams.py", "events_upsert_streamed"),  # seed into its own mkdtemp
}


def test_table_overwrites_go_through_the_commit():
    """Every write that replaces a table in ``pipeline.py``, ``sinks.py``
    and ``streaming/streams.py`` goes through the one table commit:
    ``.mode("overwrite")`` and ``.mode(<computed>)`` appear only in the
    allowlisted functions, and an allowlisted function that no longer
    writes that way fails the test."""
    import ast
    import pathlib

    import gcp_cloudsql_airflow_bigquery_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders, writing = [], set()

    def visit(node, path, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        f = getattr(node, "func", None)
        if isinstance(f, ast.Attribute) and f.attr == "mode" and node.args:
            arg = node.args[0]
            literal = isinstance(arg, ast.Constant) and isinstance(arg.value, str)
            if not literal or arg.value == "overwrite":
                writing.add((path.name, fn))
                if (path.name, fn) not in _IN_PLACE_WRITE_ALLOWLIST:
                    offenders.append(f"{path.name}:{node.lineno} {fn}")
        for child in ast.iter_child_nodes(node):
            visit(child, path, fn)

    for path in (
        root / "pipeline.py", root / "sinks.py", root / "streaming" / "streams.py"
    ):
        visit(ast.parse(path.read_text()), path, None)
    assert not offenders, offenders
    stale = _IN_PLACE_WRITE_ALLOWLIST - writing
    assert not stale, f"allowlisted but writing nowhere: {sorted(stale)}"
