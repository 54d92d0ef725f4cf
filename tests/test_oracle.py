"""Oracle-differential tests over the one query registry.

Every ``ORACLE`` pair runs Spark against DuckDB on the sf0.001 fixture
through the driver's comparison (``testing.compare_spark_duckdb``, which
``scripts/check_oracle.py`` runs too), and every rows-only entry at
least runs.  Both also hold each query to scalar columns: the driver's
canonicalizer crashes on array/map/struct cells (r4:
``embedding_pca_projected`` TypeError: unhashable type 'list'), killing
even the rows-only count for that entry.  The pairs are grouped by the
plans module that registers them: each family's test lives beside that
family's other tests (``test_<family>_matches_oracle``), built here by
``oracle_test``.  dq has no other tests, so its family runs here."""

from __future__ import annotations

import importlib

import pytest

from gcp_cloudsql_airflow_bigquery_spark.plans import ORACLE, QUERIES
from gcp_cloudsql_airflow_bigquery_spark.testing import compare_spark_duckdb

# the entries with no oracle: engine-specific hashes and sketches,
# Python-side media features, driver-side eigh
ROWS_ONLY = {
    "agg_approx_sketch",
    "doc_dedup_minhash",
    "embedding_pca_projected",
    "events_value_quantiles_rollup",
    "media_codec_features",
    "media_features",
    "media_resized",
}

# the test module that runs each family's oracle pairs
FAMILY_TESTS = {
    "tpch": "test_oracle_tpch",
    "tpch2": "test_oracle_tpch2",
    "temporal": "test_temporal",
    "quality": "test_oracle_quality",
    "curation": "test_curation",
    "dq": "test_oracle",
    "search": "test_oracle_search",
    "scale": "test_scale",
    "llmdata": "test_oracle_llmdata",
    "events": "test_oracle_events",
    "relational": "test_oracle_relational",
    "advanced": "test_oracle_advanced",
}


def family(name: str) -> str:
    """The plans module that registers ``name`` (events registers the
    streams of ``streaming/streams.py``)."""
    module = QUERIES[name].__module__.rsplit(".", 1)[-1]
    return "events" if module == "streams" else module


def _built(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    complex_cols = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if f.dataType.simpleString().startswith(("array", "map", "struct"))
    ]
    assert not complex_cols, f"{name}: {complex_cols}"
    return df


def oracle_test(fam: str):
    @pytest.mark.parametrize("name", sorted(n for n in ORACLE if family(n) == fam))
    def test(spark, duck, sf_dir, name):
        mismatch = compare_spark_duckdb(_built(spark, sf_dir, name), duck, ORACLE[name])
        assert mismatch is None, f"{name}: {mismatch}"

    return test


def rows_only_test(fam: str):
    @pytest.mark.parametrize("name", sorted(n for n in ROWS_ONLY if family(n) == fam))
    def test(spark, sf_dir, name):
        assert _built(spark, sf_dir, name).count() > 0

    return test


test_dq_matches_oracle = oracle_test("dq")


def test_registry_keys_align():
    assert set(ORACLE) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLE) == ROWS_ONLY


def test_every_oracle_pair_has_a_test():
    assert {family(n) for n in ORACLE} == set(FAMILY_TESTS)
    for fam, module in FAMILY_TESTS.items():
        assert hasattr(importlib.import_module(module), f"test_{fam}_matches_oracle")
    for fam in {family(n) for n in ROWS_ONLY}:
        module = importlib.import_module(FAMILY_TESTS[fam])
        assert hasattr(module, f"test_{fam}_rows_only_runs"), fam


@pytest.mark.parametrize(
    "spark_sql, duck_sql, expected",
    [
        # DuckDB's SUM(BIGINT) is a HUGEINT, a float64 in pandas
        (
            "SELECT CAST(5 AS BIGINT) AS s",
            "SELECT SUM(x) AS s FROM (VALUES (2::BIGINT), (3::BIGINT)) t(x)",
            "values differ",
        ),
        ("SELECT TIMESTAMP '2024-01-02 00:00:00' AS d", "SELECT DATE '2024-01-02' AS d", None),
        ("SELECT CAST('NaN' AS DOUBLE) AS v", "SELECT CAST(NULL AS DOUBLE) AS v", None),
        ("SELECT array(1, 2) AS a", "SELECT [1, 2] AS a", "array-valued cell"),
    ],
    ids=["int_vs_hugeint", "midnight_ts_vs_date", "nan_vs_null", "array"],
)
def test_comparator_follows_the_driver(spark, duck, spark_sql, duck_sql, expected):
    mismatch = compare_spark_duckdb(spark.sql(spark_sql), duck, duck_sql)
    if expected is None:
        assert mismatch is None, mismatch
    else:
        assert mismatch is not None and expected in mismatch, mismatch
