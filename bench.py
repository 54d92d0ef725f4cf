"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its full plan into the noop sink (no driver-side
collect skew); per-query wall time is reported, plus the total.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark

HEADLINE = (
    "flagship_revenue_by_region_nation",
    "pricing_summary",
    "join_broadcast",
    "agg_count_distinct",
    "topk_per_group",
    "window_running",
    "dedup_exact",
    "events_session",
    "events_asof_purchase",
    "salted_agg_hot_keys",
    "doc_dedup_minhash",
    "knn_bruteforce",
    "doc_token_stats",
    "doc_tfidf_top_term",
    "doc_repetition",
    "doc_decontaminated",
    "doc_mix_resampled",
    "doc_packed_bins",
    "corpus_funnel",
    "q9_product_type_profit",
    "large_volume_orders",  # Q18 shape
    "lone_late_supplier",  # Q21 shape
    "doc_dup_clusters",
    "events_multires_rollup",
    "events_session_error_overlap",
    "doc_bloom_incremental_new",
    "event_heavy_hitters",
    "doc_duplicate_passages",
    "doc_passage_redacted",
    "doc_dedup_prefix_jaccard",
    "topk_per_group_salted",
    "customer_sorted_neighborhood",
    "embedding_covariance_matrix",
    "doc_weighted_sample",
    "doc_bm25_search",
    "doc_dsir_resample",
    "doc_decontaminated_fuzzy",
    "events_anomaly_zscore",
    "events_funnel_windowed",
    "events_session_capped",
    "doc_gopher_report",
    "part_affinity_pmi",
    "event_type_pagerank",
    "doc_quality_classifier",
    "events_distinct_users_rollup_exact",
    "doc_perplexity_bigram",
    "hybrid_search_rrf",
    "embedding_knn_label_eval",
    "dq_documents_report",
    "events_value_quantiles_rollup_exactmode",
    "dq_events_report",
    "embedding_knn_label_eval_ivf",
    "embedding_semantic_dedup_indexed",
    "events_zorder_layout",
    "doc_containment_pairs",
    "doc_tfidf_knn",
    "event_state_communities",
    "map_struct_funcs",
    "doc_source_token_drift",
    "embedding_ann_recall_eval",
    "part_cooccurrence_kcore",
    "doc_leakage_safe_splits",
    "events_attribution_linear",
    "events_hourly_autocorr",
    "events_seasonal_anomaly",
    "part_association_rules",
    "events_user_rfm_segments",
    "nation_revenue_trend",
    "events_ab_significance",
    "orders_open_backlog",
    "events_changepoint_cusum",
    "events_frequent_sequences",
    "events_sliding_distinct_users",
    "customer_survival_km",
    "doc_quality_auc_eval",
    "customer_linkage_scores",
    "events_forecast_eval",
    "doc_ngram_novelty",
    "orders_benford_screen",
    "customer_revenue_gini",
    "doc_readability",
    "embedding_outlier_score",
    "doc_zipf_fit",
    "customer_k_anonymity",
    "events_bot_regularity",
    "doc_source_psi_drift",
    "embedding_pq_codes",
    "embedding_mmr_diverse",
    "events_prequential_zscore",
    "knn_pq_adc",
    "doc_backoff_lm_eval",
    "events_duplicate_purchases",
    "search_ndcg_eval",
    "embedding_kcenter_coreset",
    "knn_ivfpq",
    "doc_tokenizer_fertility",
    "doc_rake_keyphrases",
    "events_transition_conformance",
    "doc_textrank_sentence",
    "nation_revenue_theilsen",
    "events_weekly_counts_streamed",
    "part_adamic_adar",
    "events_decay_value",
    "doc_quality_calibration",
    "search_prf_expansion",
    "events_ks_drift",
    "doc_collocations_llr",
    "customer_t_closeness",
    "media_image_ahash",
    "customer_scd2_history",
    "nation_mann_kendall",
    "doc_lang_confusion",
    "events_mad_outliers",
    "events_weekday_chi2",
    "nation_weighted_median_price",
    "part_price_index",
    "events_dedup_streamed",
    "media_audio_stats",
    "events_attribution_streamed",
    "events_user_entropy",
    "brand_price_qty_corr",
    "events_ewma_daily",
    "events_stratified_sample",
    "embedding_cluster_balance",
    "events_markov_stationary",
    "brand_monthly_rank_moves",
    "events_daily_decomposition",
    "nation_supplier_hhi",
    "doc_context_fit_report",
    "events_power_users_pareto",
    "events_filesink_pipeline",
    "embedding_quantization_error",
    "events_sessions_streamed",
    "media_resized_hex",
    "events_upsert_streamed",
    "doc_heaps_law",
    "customer_rfm_segments",
    "embedding_knn_graph",
    "events_session_entry_exit",
    "part_graph_assortativity",
    "orders_trimmed_mean_price",
    "events_brown_trend_daily",
    "media_image_channel_stats",
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
    "events_kruskal_wallis",
    "events_user_cms",
    "events_wasserstein_drift",
    "lateral_topk_orders",
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
    "lineitem_two_way_anova",
    "events_late_arrival_audit",
    "orders_calendar_dim_join",
    "part_mode_size_by_brand",
    "events_distinct_users_streamed",
    "doc_dup_quality_report",
    "doc_label_source_alignment",
    "part_substitutes",
    "events_growth_accounting",
    "events_periodogram_daily",
    "window_nth_ignore_nulls",
    "events_quarantine_streamed",
    "events_user_feature_matrix",
    "part_abc_xyz",
)

# Headline inclusion rule (BASELINE.md "Bench headline selection
# policy"): every registered query whose sf0.1 cost is dominated by
# DISTRIBUTED work (shuffles, stateful streams, iterative joins, UDF
# kernels) is in HEADLINE; excluded are (a) sub-0.3 s single-shape
# relational/scalar-function slots whose timing is pure JVM overhead
# at this SF and (b) oracle-only portability twins of benched queries.
# So no registered query stays bench-blind forever, each round times a
# small ROTATION_SAMPLE of unbenched registry slots once (single run,
# after the same warmup; reported separately, no baseline gate).
ROTATION_SAMPLE = (
    "agg_rollup",
    "join_full",
    "window_range_frame",
    "doc_topic_clusters",
    "knn_ivf",
    "events_value_quantiles_rollup",
    "media_codec_features",
    "scd2_customer_history",
)

# fail at import, not 12 minutes into a timed run, if a name is wrong
for _name in HEADLINE + ROTATION_SAMPLE:
    if _name not in QUERIES:
        raise KeyError(f"bench list references unregistered query {_name!r}")


def env_info() -> dict:
    """Machine-load snapshot recorded alongside every bench run
    (VERDICT r6 #6): three rounds in a row the headline moved ±20%
    with untouched files, so adjudications need a mechanical way to
    separate ambient load from plan drift.  loadavg is sampled at
    bench start by ``main`` and again at the end; cgroup throttling
    counters are included when the container exposes them."""
    info: dict = {"cpu_count": os.cpu_count()}
    try:
        la = os.getloadavg()
        info["loadavg"] = [round(x, 2) for x in la]
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(("MemAvailable:", "MemTotal:")):
                    k, v = line.split(":")
                    info[k.strip().lower() + "_kb"] = int(v.split()[0])
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/cpu.stat",):
        try:
            with open(path) as f:
                for line in f:
                    k, _, v = line.partition(" ")
                    if k in ("nr_throttled", "throttled_usec", "nr_periods"):
                        info[f"cgroup_{k}"] = int(v)
        except OSError:
            pass
    return info


def scale_probe(spark, sf_dir: str) -> dict:
    """100×-shape probe (VERDICT r3 #8): the sessionization shuffle is
    the operator whose behavior degrades first at scale — per-user event
    skew concentrates whole users onto single tasks.  Measure the actual
    key distribution the shuffle sees and the AQE decisions taken on
    this run, so the "designed for 100 TB" claim accumulates numbers
    round over round instead of adjectives.

    Reported:
    - ``events_rows`` / ``session_keys``: shuffle input and key count
    - ``key_skew``: max/mean events per user — the factor by which the
      hottest task exceeds the average if AQE did nothing
    - ``aqe_coalesced``: whether AQE shrank the shuffle to match the
      actual data volume (the runtime re-plan that keeps the same code
      efficient from sf0.001 to 100 TB)
    - ``session_rows_per_sec``: end-to-end sessionization throughput
    """
    import time as _t

    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    per_key = ev.groupBy("user_id").count()
    ks = per_key.agg(
        F.count("*").alias("keys"),
        F.max("count").alias("mx"),
        F.avg("count").alias("mean"),
    ).first()

    df = QUERIES["events_session"](spark, sf_dir)
    t0 = _t.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = _t.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()

    # bloom-dedup prune ratio: fraction of the delta the bitmap lets
    # skip the corpus join entirely (certain-new).  At 100 TB this is
    # the fraction of ingest rows that never pay a shuffle.
    from gcp_cloudsql_airflow_bigquery_spark.operators import dedup
    from gcp_cloudsql_airflow_bigquery_spark.operators.textstats import (
        fingerprint_md5,
    )

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bloom = dedup.build_digest_bloom(corpus)
    probed = (
        delta.withColumn("d", fingerprint_md5(F.col("text")))
        .crossJoin(F.broadcast(bloom))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                dedup.bloom_might_contain(F.col("words"), F.col("d")).cast("long")
            ).alias("maybe"),
        )
        .first()
    )
    bloom_pruned_frac = round(1.0 - probed["maybe"] / max(probed["n"], 1), 4)

    # 10× self-scaling probe: union ten user-id-shifted copies of the
    # events frame and sessionize — rows/sec holding near the 1× figure
    # is direct evidence the plan scales with data, not with luck.
    from gcp_cloudsql_airflow_bigquery_spark.streaming import windows as swin

    tenx = ev
    for i in range(1, 10):
        tenx = tenx.unionByName(
            ev.withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        )
    t1 = _t.perf_counter()
    swin.session_stats(tenx, "5 minutes").write.format("noop").mode(
        "overwrite"
    ).save()
    dt10 = _t.perf_counter() - t1

    return {
        "bloom_delta_rows": int(probed["n"]),
        "bloom_pruned_frac": bloom_pruned_frac,
        "session_rows_per_sec_10x": int(10 * n_events / dt10) if dt10 > 0 else -1,
        "events_rows": n_events,
        "session_keys": int(ks["keys"]),
        "key_skew": round(float(ks["mx"]) / max(float(ks["mean"]), 1e-9), 2),
        "max_events_per_key": int(ks["mx"]),
        "aqe_coalesced": "AQEShuffleRead coalesced" in plan,
        "aqe_skew_handled": "skewJoin" in plan or "REBALANCE" in plan,
        "session_sec": round(dt, 3),
        "session_rows_per_sec": int(n_events / dt) if dt > 0 else -1,
    }


def iterative_scale_probe(spark, sf_dir: str) -> dict:
    """10× self-scaling curves for the two heavy ITERATIVE queries
    (VERDICT r5 #7), same protocol as the sessionization 10× probe:
    union ten id-shifted copies of the input and re-run, so rows/sec
    holding near the 1× figure is measured evidence that per-round cost
    scales with data (PageRank: one edge join + one agg per round;
    classifier: d²-per-Arrow-batch partials), not with luck.

    PageRank's 10× copy also shifts event_type, so the GRAPH (nodes and
    edges) grows 10× along with the event stream — otherwise ten copies
    would collapse onto the same |types|² edge list and measure nothing.
    """
    import time as _t

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import graph, textstats
    from gcp_cloudsql_airflow_bigquery_spark.operators.linalg import (
        logistic_fit,
        logistic_score,
    )

    out: dict = {}

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    for mult in (1, 10):
        e = ev
        for i in range(1, mult):
            e = e.unionByName(
                ev.withColumn(
                    "user_id", F.col("user_id") + F.lit(i * 1_000_000)
                ).withColumn(
                    "event_type",
                    F.concat(F.col("event_type"), F.lit(f"_{i}")),
                )
            )
        w = Window.partitionBy("user_id").orderBy(
            F.date_trunc("millisecond", F.col("ts")), F.col("event_id")
        )
        edges = (
            e.withColumn("next_type", F.lead("event_type").over(w))
            .filter(F.col("next_type").isNotNull())
            .groupBy(
                F.col("event_type").alias("from_type"),
                F.col("next_type").alias("to_type"),
            )
            .agg(F.count("*").alias("n"))
        )
        t0 = _t.perf_counter()
        graph.pagerank(
            edges, src="from_type", dst="to_type", weight="n", max_iter=20,
        ).write.format("noop").mode("overwrite").save()
        dt = _t.perf_counter() - t0
        out[f"pagerank_sec_{mult}x"] = round(dt, 3)
        out[f"pagerank_rows_per_sec_{mult}x"] = (
            int(mult * n_events / dt) if dt > 0 else -1
        )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    for mult in (1, 10):
        d = docs
        for i in range(1, mult):
            d = d.unionByName(
                docs.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
                )
            )
        t = F.col("text")
        feats = d.select(
            "doc_id",
            textstats.stopword_ratio(t).alias("stop_ratio"),
            textstats.punct_ratio(t).alias("punct_ratio"),
            (
                F.length(t) / F.greatest(textstats.token_count(t), F.lit(1))
            ).alias("mean_tok_len"),
            (textstats.detect_lang(t) == "en").cast("double").alias("is_en"),
        )
        t0 = _t.perf_counter()
        beta = logistic_fit(
            feats,
            ["stop_ratio", "punct_ratio", "mean_tok_len"],
            "is_en",
            n_iter=8,
        )
        logistic_score(
            feats, ["stop_ratio", "punct_ratio", "mean_tok_len"], beta
        ).write.format("noop").mode("overwrite").save()
        dt = _t.perf_counter() - t0
        out[f"classifier_sec_{mult}x"] = round(dt, 3)
        out[f"classifier_rows_per_sec_{mult}x"] = (
            int(mult * n_docs / dt) if dt > 0 else -1
        )
    return out


def aqe_probe(spark) -> dict:
    """Demonstrate AQE actually engaging (VERDICT r4 #5).

    The per-SF flags in ``scale_probe`` report whether AQE touched the
    *headline* session query — at sf0.1 with the 256 KB floor it has
    nothing to do, so those flags are structurally false at small SF.
    This probe plants conditions where AQE *must* act and records the
    decision, separating "not needed at this scale" from
    "misconfigured":

    - ``skew``: a 2M-row fact with 80% of rows on one key, sort-merge
      joined (broadcast disabled) with skew thresholds scaled to the
      probe's data volume — AQE must split the hot partition
      (``skew=true`` on the join node).
    - ``coalesce``: a 1000-group agg run at 256 initial shuffle
      partitions with a 64 MB advisory target — AQE must coalesce the
      post-shuffle reads (``coalesced`` on the AQEShuffleRead node).

    All touched confs are restored afterwards.
    """
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    out: dict = {}
    try:
        # --- skew-split demonstration ---
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        fact = (
            spark.range(2_000_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 5 < 4, F.lit(0)).otherwise(
                    F.col("id") % 997
                ),
            )
            .withColumn("pad", F.md5(F.col("id").cast("string")))
        )
        dim = spark.range(997).withColumnRenamed("id", "k").withColumn(
            "dv", F.col("k") * 2
        )
        j = fact.join(dim, "k").select(
            F.sum(F.length("pad")).alias("b"), F.sum("dv").alias("s")
        )
        # collect (1 row), NOT a noop write: the write path builds its
        # own QueryExecution, so this DataFrame's plan would stay
        # isFinalPlan=false and never show the AQE decisions.
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        out["skew_join_split"] = "skew=true" in plan
        out["skewed_partition_splits"] = plan.count("skew=true")

        # --- coalesce demonstration ---
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"
        )
        agg = (
            spark.range(1_000_000)
            .withColumn("g", F.col("id") % 1000)
            .groupBy("g")
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        )
        agg.collect()
        cplan = agg._jdf.queryExecution().executedPlan().toString()
        out["coalesce_engaged"] = "coalesced" in cplan
        out["coalesced_reads"] = cplan.count("coalesced")
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # The iterative 10x probes (PageRank / classifier fits) add four
    # heavy runs per invocation; they stay ON by default so the
    # per-round driver record keeps the scaling curves (VERDICT r6
    # "keep the probe in the bench"), but local regression iteration
    # can skip them (ADVICE r6) with --no-iterative-probe.
    run_iter_probe = "--no-iterative-probe" not in sys.argv[1:]
    env_start = env_info()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up: run every headline plan shape once on the
    # smallest fixture (not timed) so the timed sf runs measure
    # data-proportional work, not Janino compilation.
    for name in HEADLINE:
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # best-of-2: report the steady-state run, not scheduler/GC noise
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)

    # once-per-round visibility for unbenched registry slots: single
    # timed run each (after the same sf0.001 warmup), reported
    # separately — not part of the headline total or the regression
    # gate (no standing baselines)
    rotation: dict[str, float] = {}
    for name in ROTATION_SAMPLE:
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        rotation[name] = round(time.perf_counter() - t0, 3)

    # mechanical regression gate vs the standing per-query baseline
    # (bench_baseline.json, established r5 from min-of-4 runs): flag
    # anything 1.5x AND 0.3s over its baseline so regressions surface
    # in the bench record itself, not only in round-over-round diffing.
    regressions: dict[str, list[float]] = {}
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_baseline.json")
    if os.path.exists(base_path) and sf == 0.1:
        with open(base_path) as f:
            base = json.load(f)["queries"]
        for q, t in timings.items():
            b = base.get(q)
            if b is not None and t > 1.5 * b and t - b > 0.3:
                regressions[q] = [t, b]

    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "regressions_vs_baseline": regressions,
                "rotation_sample": rotation,
                "scale_probe": scale_probe(spark, sf_dir),
                "iterative_scale_probe": (
                    iterative_scale_probe(spark, sf_dir)
                    if run_iter_probe
                    else "skipped (--no-iterative-probe)"
                ),
                "aqe_probe": aqe_probe(spark),
                "env": {"start": env_start, "end": env_info()},
            }
        )
    )


if __name__ == "__main__":
    main()
