"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gcp_cloudsql_airflow_bigquery_spark.plans import (
    advanced,
    curation,
    dq,
    events,
    llmdata,
    quality,
    relational,
    scale,
    search,
    temporal,
    tpch,
    tpch2,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship star-join (the reference's declared-but-never-wired
    ``stage_final_query`` join-merge step, reference
    ``dags/cloudsql_to_bigquery.py:11``) on /root/testdata/sf0.001."""
    return relational.flagship_revenue_by_region_nation(
        spark, "/root/testdata/sf0.001"
    )


_MODULES = (
    tpch,
    tpch2,
    temporal,
    quality,
    curation,
    dq,
    search,
    scale,
    llmdata,
    events,
    relational,
    advanced,
)

# The driver hard-verifies the FIRST 50 queries() entries in dict
# insertion order.  Rounds 1-3 spent the window on relational+advanced;
# round 4 on events+llmdata; round 5 on the TPC-H shape suite,
# temporal, quality, curation, dq, search, and scale (50/50
# hash-green, CORRECTNESS_r05.json).
#
# ROUND 6 rotation: the 45 oracle-paired queries never present in any
# CORRECTNESS_r0{1..5}.json (they take the slots — zero driver signal
# of any kind so far), plus 5 of the 9 round-5 oracle conversions
# whose only driver signal was r4 rows-only
# (knn_lsh/knn_ivf/doc_dedup_simhash/doc_topic_clusters/
# event_type_pagerank).  After this window every registered query has
# had SOME driver signal, and every oracle-paired query has had hash
# signal EXCEPT the four r5 conversions that did not fit (doc_bpe_vocab,
# doc_bpe_tokens, doc_winnow_candidates, embedding_semantic_dedup —
# r4 rows-only, hash-green in the local sf0.01 replica) and the
# round-6 additions below.
#
# ROUND 7 window (this round): burn the hash slots on (a) the 12
# oracle-paired queries with no driver hash signal yet — the four r5
# conversions, the seven r6 additions, and json_funcs (the only
# historical hash-fail, r1 DuckDB HUGEINT dtype; fixed, replica-green,
# never driver-re-recorded) — (b) the new r7 query
# embedding_knn_label_eval_ivf (persisted-IVF-index label eval, VERDICT
# r6 #2/#7), (c) re-confirmation of the four queries whose shared
# prefix-sum helper changed this round (per-partition offsets:
# create_map literal → broadcast-joined offsets frame, ADVICE r6) plus
# hybrid_search_rrf whose candidate-depth asymmetry fix changed its
# results, (d) the six never-driver-green rows-only residue slots, and
# (e) a 27-query regression sample of the r1–r3 hash-green
# relational/tpch slots that have not been driver-re-checked since r3
# while their shared helpers (catalog dtype guard, session defaults)
# kept evolving (VERDICT r6 #5).
#
# ROUND 8 window (this round): (a) all 45 r7-wave queries that landed
# after the r7 window froze — the only oracle-paired queries with zero
# driver signal (VERDICT r7 task 1; every one judge-replica-green at
# sf0.01) — plus (b) the first 5 of the stale r1–r3 rotation
# (dedup_exact, join_left, set_intersect, agg_cube,
# sql_exists_subquery).  After this window every oracle-paired query
# in the registry has driver hash signal.
#
# ROUND 9 window (this round, burned exactly as the r8 plan wrote it):
# (a) the 21 remaining r1-r3-stale slots (last driver-checked r3 while
# catalog/session/shared helpers kept evolving), (b) the 16 r8-wave
# additions that landed after the r8 window froze (their first driver
# signal; every one judge-replica-green at sf0.01 per VERDICT r8), and
# (c) 13 r4-filler slots oldest-signal-first from the r4 doc_* family
# (skipping rows-only doc_dedup_minhash so _WINDOW_ROWS_ONLY stays
# empty), deliberately including the two bench-watch queries
# doc_bloom_incremental_new and doc_dedup_prefix_jaccard.
#
# ROUND 10 window (this round, burned exactly as the r9 plan wrote
# it): (a) the 18 r9-wave additions that landed after the r9 window
# froze (their first driver signal; every one oracle-paired and both
# judge- and builder-replica-green at sf0.01) — streams #2–#5, the
# two new media oracle pairs, and the 12 analytics — then (b) the 24
# remaining r4-stale oracle-paired slots (last driver signal r4 while
# catalog/session/shared helpers kept evolving; skipping rows-only
# doc_dedup_minhash so _WINDOW_ROWS_ONLY stays empty; doc_quality
# already re-greened in the r9 window), then (c) the first 8 of the
# r5 rotation oldest-first (CORRECTNESS_r05.json insertion order).
#
# ROUND 11 PLAN: (a) the r10-wave additions (zero driver signal —
# every one oracle-paired and builder-replica-green at sf0.01 this
# round): customer_l_diversity, window_percent_rank_cume,
# events_upsert_streamed (stream #6), doc_heaps_law,
# customer_rfm_segments, embedding_knn_graph,
# events_session_entry_exit, part_graph_assortativity,
# orders_trimmed_mean_price, events_brown_trend_daily,
# media_image_channel_stats, events_welch_ttest,
# events_cuped_adjusted, events_anova_value_by_type, event_type_hits,
# part_clustering_coefficient, part_item_cf_recs,
# brand_price_elasticity, events_enriched_streamed (stream #7),
# events_attribution_position, brand_als_factors, customer_hazard_na,
# event_state_modularity, doc_chunk_dedup, part_skyline_price_size,
# array_zip_funcs, customer_logrank_test, nation_weekly_spearman,
# events_mann_whitney, event_type_reachability,
# events_interarrival_burstiness, events_heavy_hitters_streamed
# (stream #8), orders_cmh_returns, lateral_topk_orders,
# events_kruskal_wallis, events_user_cms, events_wasserstein_drift,
# embedding_cluster_separation, doc_source_diversity,
# events_dp_noisy_counts, events_value_hill_tail,
# events_runs_test_daily, events_time_to_convert,
# nation_weekly_kendall, events_holt_winters_daily,
# events_diff_in_diff, events_conversion_paths, groupby_all_revenue,
# events_ljung_box, events_markov_prediction_eval,
# lineitem_two_way_anova, events_late_arrival_audit,
# orders_calendar_dim_join, part_mode_size_by_brand,
# events_distinct_users_streamed (stream #9), doc_dup_quality_report,
# doc_label_source_alignment, part_substitutes,
# events_growth_accounting, events_periodogram_daily,
# window_nth_ignore_nulls, events_quarantine_streamed (stream #10),
# events_user_feature_matrix, part_abc_xyz — then (b) the remaining
# 40
# r5-stale slots oldest-first (CORRECTNESS_r05.json order, continuing
# after q9_product_type_profit: q11_important_stock,
# q12_shipping_priority_class, q16_parts_supplier_relationship,
# q17_small_quantity_revenue, q19_discounted_revenue,
# q20_potential_promotion, q22_global_sales_opportunity,
# salted_join_nation, salted_agg_hot_keys, topk_per_group_salted,
# table_profile, dq_orders_report, dq_lineitem_report, then the
# temporal/curation/search r5 slots), then (c) r6 rotation
# oldest-first if slots remain.
# ROUND 11 window (burned exactly as the r10 plan wrote it): the
# first 50 of the ROUND 11 PLAN's (a) list — the r10-wave additions
# with ZERO driver signal, landing order (every one oracle-paired and
# builder-replica-green at sf0.01 during r10; the r10 optimizer
# re-verified the three it repaired).  The 15 remaining (a) names
# (lineitem_two_way_anova … part_abc_xyz) plus plan items (b)/(c)
# carry to a future window unchanged.
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

_WINDOW_ROWS_ONLY: frozenset[str] = frozenset()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    allq: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        allq.update(mod.QUERIES)
    out = {name: allq[name] for name in _WINDOW}
    out.update(allq)
    return out


def oracle_sql() -> dict[str, str]:
    allo: dict[str, str] = {}
    for mod in _MODULES:
        allo.update(mod.ORACLE)
    out = {name: allo[name] for name in _WINDOW if name in allo}
    out.update(allo)
    return out
