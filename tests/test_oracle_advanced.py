"""Oracle-differential tests for the extended SQL-surface plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.plans import advanced

from test_oracle import oracle_test, rows_only_test, test_registry_keys_align  # noqa: F401

test_advanced_matches_oracle = oracle_test("advanced")
test_advanced_rows_only_runs = rows_only_test("advanced")


def test_approx_sketch_accuracy(spark, duck, sf_dir):
    """Sketches are engine-specific, so no hash oracle — but estimates
    must land within tolerance of the exact values."""
    got = {
        r.l_returnflag: r
        for r in advanced.agg_approx_sketch(spark, sf_dir).collect()
    }
    li = advanced._t(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_orderkey").alias("n"),
            F.percentile("l_extendedprice", 0.5).alias("med"),
        )
        .collect()
    }
    for flag, e in exact.items():
        g = got[flag]
        assert abs(g.approx_orders - e.n) / e.n < 0.05, flag
        # percentile_approx returns an actual data value near the median
        assert abs(g.approx_median - e.med) / e.med < 0.05, flag
