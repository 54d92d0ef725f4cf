"""Focused tests for the r11 optimization waves (round log:
OPTIMIZATION_r11.md).

- Wave 1: streaming state-store sizing — the derived partition count
  follows ceil(bytes/target) and the session conf is restored.
- Wave 2: SQL-string iterative rounds (pagerank / HITS) — the frames
  passed to the per-round spark.sql statements leave no temp view
  behind (a leaked view would pin the checkpointed frames alive for
  the session).
Value semantics of both waves are pinned elsewhere: every touched
query is oracle-paired (tests/test_oracle_*), and pagerank vs numpy
power iteration is asserted in tests/test_quality_ops.py.
"""

from __future__ import annotations

import math
import os

from gcp_cloudsql_airflow_bigquery_spark.streaming import streams
from gcp_cloudsql_airflow_bigquery_spark.streaming.streams import (
    scaled_state_partitions,
)

SF_DIR = "/root/testdata/sf0.001"


def test_scaled_state_partitions_derives_and_restores(spark, monkeypatch):
    path = os.path.join(SF_DIR, "events.parquet")
    nbytes = os.path.getsize(path)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scaled_state_partitions(spark, path) as n:
        assert n == max(1, math.ceil(nbytes / (128 * 1024 * 1024)))
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # tiny target -> one partition per KB of input
    monkeypatch.setattr(streams, "_STATE_TARGET_BYTES", 1024)
    with scaled_state_partitions(spark, path) as n:
        assert n == math.ceil(nbytes / 1024)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scaled_state_partitions_restores_on_error(spark):
    path = os.path.join(SF_DIR, "events.parquet")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with scaled_state_partitions(spark, path):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _temp_views(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


def test_pagerank_sql_rounds_drop_temp_views(spark):
    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        event_type_pagerank,
    )

    before = _temp_views(spark)
    df = event_type_pagerank(spark, SF_DIR)
    assert df.count() > 0
    assert _temp_views(spark) == before


def test_hits_sql_rounds_drop_temp_views(spark):
    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        event_type_hits,
    )

    before = _temp_views(spark)
    df = event_type_hits(spark, SF_DIR)
    assert df.count() > 0
    assert _temp_views(spark) == before
