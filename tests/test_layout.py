"""Z-order layout operator: bucket/interleave arithmetic vs a pure
Python reference, the multi-dimension locality claim vs a
single-column-sorted layout, and the no-UDF/no-shuffle plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.operators.layout import (
    range_bucket,
    zorder_layout,
    zorder_value,
)


def _py_bucket(v: int, vmin: int, vmax: int, nb: int) -> int:
    v = max(min(v, vmax), vmin)
    return ((v - vmin) * nb) // (vmax - vmin + 1)


def _py_zvalue(bs: list[int], bits: int) -> int:
    z = 0
    n = len(bs)
    for b in range(bits):
        for i, v in enumerate(bs):
            z |= ((v >> b) & 1) << (b * n + i)
    return z


def test_range_bucket_matches_reference_and_clamps(spark):
    vals = [-5, 0, 1, 7, 63, 64, 99, 100, 105]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {
        r.v: r.b
        for r in df.select(
            "v", range_bucket(F.col("v"), 0, 99, 16).alias("b")
        ).collect()
    }
    for v in vals:
        assert got[v] == _py_bucket(v, 0, 99, 16), v
    # boundary buckets: min -> 0, max -> nb-1, out-of-range clamps in
    assert got[0] == 0 and got[99] == 15
    assert got[-5] == 0 and got[105] == 15


def test_zorder_value_interleaves_bits(spark):
    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255), (170, 85)]
    df = spark.createDataFrame(cases, ["a", "b"])
    got = df.select(
        "a",
        "b",
        zorder_value([F.col("a"), F.col("b")], 8).alias("z"),
    ).collect()
    for r in got:
        assert r.z == _py_zvalue([r.a, r.b], 8), (r.a, r.b)
    # adjacency: one step in either dim flips low-order bits only
    assert _py_zvalue([1, 0], 8) == 1 and _py_zvalue([0, 1], 8) == 2


def test_zorder_layout_beats_single_column_sort_on_second_dim(spark):
    # 64x64 grid: x-sorted files have full-range y spans; z-ordered
    # files must be narrow in BOTH dims
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, ["x", "y"])
    laid = zorder_layout(
        df, [(F.col("x"), 0, 63), (F.col("y"), 0, 63)], bits=6, n_files=16
    )
    z_spans = (
        laid.groupBy("file_id")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert len(z_spans) == 16
    avg_y_z = sum(r.ys for r in z_spans) / len(z_spans)
    # the x-sorted strawman: 16 files of 4 consecutive x values each
    # => every file's y span is the full 63
    assert avg_y_z < 63 / 2, avg_y_z
    # and x stays bounded too (each dim span <= domain/sqrt(files)*2)
    assert max(r.xs for r in z_spans) <= 32
    assert max(r.ys for r in z_spans) <= 32
    # file assignment is a total partition of the rows
    assert laid.count() == 64 * 64


def test_zorder_plan_is_codegen_no_shuffle_no_udf(spark):
    df = spark.range(1000).select(
        (F.col("id") % 100).alias("a"), (F.col("id") % 37).alias("b")
    )
    laid = zorder_layout(
        df, [(F.col("a"), 0, 99), (F.col("b"), 0, 36)], bits=8, n_files=64
    )
    plan = laid._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow per-row arithmetic
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    # "*(n)" prefixes mark whole-stage-codegen'd operators
    assert "*(" in plan
