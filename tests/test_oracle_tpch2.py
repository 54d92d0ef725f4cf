"""Oracle-differential tests for the TPC-H completion suite
(Q8/Q9/Q11/Q12/Q16/Q17/Q20/Q22 shapes)."""

from __future__ import annotations

from gcp_cloudsql_airflow_bigquery_spark.plans import tpch2

from test_oracle import oracle_test, test_registry_keys_align  # noqa: F401

test_tpch2_matches_oracle = oracle_test("tpch2")


def test_q22_nonempty(spark, sf_dir):
    # guard against the anti-join degenerating to an empty (vacuously
    # matching) result on fixture data
    assert tpch2.q22_global_sales_opportunity(spark, sf_dir).count() > 0
