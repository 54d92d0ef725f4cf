"""Plan-shape regression guards: the scale properties SCALE.md claims
(broadcast star joins, single-shuffle aggs, partial aggregation, pushed
filters) are asserted against the actual physical plans so a refactor
can't silently regress them."""

from __future__ import annotations

import pytest

from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES


def _plan(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_star_join_broadcasts_all_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "flagship_revenue_by_region_nation")
    assert p.count("BroadcastHashJoin") == 4, p
    assert p.count("SortMergeJoin") == 0, p
    # exactly one data shuffle: the final aggregation
    assert p.count("Exchange hashpartitioning") == 1, p


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    p = _plan(spark, sf_dir, "pricing_summary")
    # map-side combine before the single exchange
    assert "HashAggregate" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_incremental_filter_pushed_to_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "filter_incremental")
    assert "PushedFilters: [" in p
    # no shuffle at all for a pushed filter + projection
    assert "Exchange hashpartitioning" not in p, p


def test_scan_prunes_columns(spark, sf_dir):
    p = _plan(spark, sf_dir, "pricing_summary")
    # lineitem has 11 columns; the Q1 scan must read only the 7 used
    scan = p.split("ReadSchema: ")[1].splitlines()[0]
    n_cols = scan.count(":")
    assert n_cols <= 7, scan


@pytest.mark.parametrize(
    "name", ["join_broadcast", "topk_per_group", "dedup_exact"]
)
def test_no_cartesian_anywhere(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_partition_pruning_static_and_dynamic(spark, sf_dir, tmp_path_factory):
    """Date-partitioned layout (the engine's snapshot/partition story):
    a literal filter prunes at plan time (PartitionFilters), and a join
    against a filtered dim prunes at runtime (dynamic partition
    pruning) — both asserted on the physical plan."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table

    out = str(tmp_path_factory.mktemp("orders_by_year"))
    o = load_table(spark, sf_dir, "orders")
    o.withColumn("yr", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
        "yr"
    ).parquet(out)
    po = spark.read.parquet(out)

    static = po.filter(F.col("yr") == 1997)
    splan = static._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(yr" in splan and "(yr" in splan, splan

    dim = spark.createDataFrame(
        [(1997, "keep"), (1999, "drop")], "yr int, tag string"
    ).filter(F.col("tag") == "keep")
    joined = po.join(F.broadcast(dim), "yr").select("o_orderkey", "tag")
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in jplan.lower(), jplan
    assert joined.count() == po.filter(F.col("yr") == 1997).count()


def test_repetition_stats_is_fully_narrow(spark, sf_dir):
    # the per-doc quality signals must never pay a corpus exchange
    # (the explode/groupBy formulation was ~20× slower at sf0.1)
    df = QUERIES["doc_repetition"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p


def test_decontaminate_probes_broadcast_benchmark(spark, sf_dir):
    # corpus side must stay a map-side broadcast-hash probe; the only
    # hash exchanges are the tiny bench-side distinct + final count
    df = QUERIES["doc_decontaminated"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_mix_resample_broadcasts_rates(spark, sf_dir):
    # the corpus pass of the resampler is a narrow filter/explode over a
    # broadcast rate table — no corpus shuffle at any temperature
    df = QUERIES["doc_mix_resampled"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_tfidf_vocab_not_hint_broadcast_by_default(spark, sf_dir):
    # the term->df side must NOT carry a broadcast hint at default
    # settings: an open vocabulary at corpus scale can exceed broadcast
    # limits, so Catalyst must stay free to pick a shuffle join on the
    # uniform `term` key. The only sanctioned hint is the 1-row corpus
    # count.
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators.textstats import (
        tfidf_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents")

    def n_hints(df):
        lp = df._jdf.queryExecution().analyzed().toString()
        return lp.count("UnresolvedHint broadcast") + lp.count("ResolvedHint")

    assert n_hints(tfidf_top_terms(docs)) == 1  # just the 1-row n_docs


def test_multires_rollup_single_scan(spark, sf_dir):
    """GROUPING SETS must materialize all three resolutions from ONE
    events scan (the 1×-vs-3× I/O claim in SCALE.md) with a single
    aggregation exchange over the expanded buckets."""
    df = QUERIES["events_multires_rollup"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan parquet") == 1, p
    assert "Expand" in p, p


def test_overlap_join_no_theta_join(spark, sf_dir):
    """The interval-overlap join must plan as an equi-join on
    (user, bucket) — never a BroadcastNestedLoopJoin/CartesianProduct —
    and need no distinct exchange for pair dedup."""
    df = QUERIES["events_session_error_overlap"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "HashAggregate(keys=[user_id" not in p.split("Join")[0], (
        "no distinct pass should follow the join"
    )


def test_bloom_new_docs_broadcasts_bitmap_not_corpus(spark, sf_dir):
    """The bloom probe must broadcast the one-row bitmap; the corpus
    digest side of the verify join must NOT be hint-broadcast (it grows
    with the corpus — the bitmap is the only corpus-size-free summary)."""
    df = QUERIES["doc_bloom_incremental_new"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    # bitmap probe: nested-loop broadcast of a single row is expected
    assert "BroadcastNestedLoopJoin" in p, p
    # gap-fill/verify side: anti join present on the digest key
    assert "LeftAnti" in p, p


def test_runtime_bloom_filter_reduces_shuffle_join(spark, sf_dir):
    """Catalyst's runtime row-level filtering: when a selective dim
    side feeds a shuffle join, the optimizer injects a bloom filter on
    the fact side so non-matching rows die before the exchange — the
    semi-join reduction that matters at 100 TB (thresholds lowered
    here because the fixture is far below the production defaults)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "mightcontain" in plan.lower(), plan
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_analyze_table_feeds_cost_based_optimizer(spark, sf_dir):
    """Catalog statistics: ANALYZE TABLE collects row counts + column
    stats into the metastore and the optimizer reads them (CBO's input
    at 100 TB — stats-driven join ordering/broadcast decisions instead
    of file-size guesses)."""
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import drop_managed_table

    drop_managed_table(spark, "t_stats_nation")
    load_table(spark, sf_dir, "nation").write.saveAsTable("t_stats_nation")
    spark.sql(
        "ANALYZE TABLE t_stats_nation COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_name"
    )
    desc = {
        r.info_name: r.info_value
        for r in spark.sql("DESCRIBE TABLE EXTENDED t_stats_nation").selectExpr(
            "col_name AS info_name", "data_type AS info_value"
        ).collect()
    }
    assert "Statistics" in desc and "rows" in desc["Statistics"], desc
    col = spark.sql("DESCRIBE EXTENDED t_stats_nation n_nationkey").collect()
    kv = {r.info_name: r.info_value for r in col}
    assert kv.get("distinct_count") not in (None, "NULL"), kv
    # the optimizer consumes them: with CBO on, the plan's statistics
    # reflect the analyzed row count
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        stats = (
            spark.table("t_stats_nation")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .toString()
        )
        assert "rowCount=25" in stats.replace(" ", ""), stats
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        drop_managed_table(spark, "t_stats_nation")


# Post-aggregation frames whose unpartitioned window input is already
# reduced to a tiny grain (week / hour / language), so a global window
# is harmless there — NOT corpus-sized inputs:
#   weekly_revenue_growth  — week-grain revenue (plans/advanced.py)
#   events_error_rate_sli  — hour-grain SLI (plans/events.py)
#   doc_mix_rates / doc_mix_resampled — language-grain mix weights
#   customer_survival_km   — week-BIN grain KM pass, bounded by
#                            max-duration/7 rows (plans/advanced.py)
#   doc_quality_auc_eval   — score-group grain rank pass, bounded by
#                            the 1e-6 score quantization (plans/quality.py)
#   doc_heaps_law          — cumulative token/vocab window over the
#                            post-aggregation 10-row decile-bucket
#                            frame (plans/llmdata.py, r10)
_GLOBAL_WINDOW_ALLOWLIST = {
    "weekly_revenue_growth",
    "events_error_rate_sli",
    "doc_mix_rates",
    "doc_mix_resampled",
    "customer_survival_km",
    "doc_quality_auc_eval",
    "doc_heaps_law",
    # customer_hazard_na — same bin-grain frame as customer_survival_km
    "customer_hazard_na",
    # r10 wave 8-16 additions whose ordered windows run over frames
    # BOUNDED BY CONSTRUCTION, never the corpus: the fixed 256-bin
    # value grid (mann_whitney, kruskal_wallis), the calendar-bounded
    # day/week-bin grain (runs_test, ljung_box, periodogram,
    # time_to_convert, logrank — the survival_km precedent)
    "events_mann_whitney",
    "events_kruskal_wallis",
    "events_runs_test_daily",
    "events_time_to_convert",
    "events_ljung_box",
    "events_periodogram_daily",
    "customer_logrank_test",
    # event_type_hits — each half-step's L1 norm, SUM(raw) OVER (), a
    # fused round total (graph.iterate): the window input is a
    # post-aggregation frame over the bounded event-type vocabulary
    # (~8 nodes at any SF), never the corpus
    "event_type_hits",
}


def _unpartitioned_windows(df):
    """Window/WindowGroupLimit nodes with an empty partitionSpec in the
    optimized logical plan (the shape Spark itself warns about:
    'WindowExec: No Partition Defined ... serious performance
    degradation'), including subquery plans."""
    bad, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
        subs = n.subqueriesAll()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
        if n.nodeName() in ("Window", "WindowGroupLimit"):
            if n.partitionSpec().isEmpty():
                bad.append(n.nodeName())
    return bad


# the registry chunked by the module that defines each query
_CHUNKS: dict[str, dict] = {}
for _name, _fn in QUERIES.items():
    _CHUNKS.setdefault(_fn.__module__.rsplit(".", 1)[-1], {})[_name] = _fn


@pytest.mark.parametrize("chunk", list(_CHUNKS))
def test_no_unpartitioned_window_over_corpus_inputs(spark, sf_dir, chunk):
    """Registry-wide guard closing the class of bug behind the old
    global-ntile plans (doc_curriculum_buckets / window_ntile, fixed
    via operators.curation.exact_ntile): no query may plan a
    Window with an empty partitionSpec unless its window input is a
    post-aggregation tiny-grain frame (allowlist above).  Also bans
    CartesianProduct registry-wide (BroadcastNestedLoopJoin is left to
    the targeted tests: broadcast 1-row scalar crossJoins legitimately
    plan as BNLJ).

    Chunked by defining module (the registered streams are their own
    chunk): the chunks together are the whole registry, but a run that
    hits its time budget mid-suite still reports every finished chunk,
    and offenders within one chunk still surface together."""
    offenders = {}
    for name, fn in _CHUNKS[chunk].items():
        df = fn(spark, sf_dir)
        bad = _unpartitioned_windows(df)
        if bad and name not in _GLOBAL_WINDOW_ALLOWLIST:
            offenders[name] = bad
        phys = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in phys:
            offenders[name] = offenders.get(name, []) + ["CartesianProduct"]
    assert not offenders, f"bad plan shapes: {offenders}"


# --- broadcast policy (VERDICT r8 #1) -------------------------------

# Local variable names conventionally bound to SF-scaling inputs inside
# plans/ modules.  An explicit F.broadcast() hint bypasses
# autoBroadcastJoinThreshold at ANY size, so hinting one of these forces
# a driver-side collect that breaks at 100x scale (Spark's 8 GB
# broadcast hard limit) — the hint must come off and AQE decides.
_SF_SCALING_NAMES = {
    "c", "customer", "cust",
    "s", "supplier", "supp",
    "p", "part",
    "li", "lineitem",
    "o", "orders",
    "ev", "events",
    "docs", "documents",
    "emb", "embeddings",
    # SF-scaling derived frames (per-supplier / per-part aggregates)
    "bad_supp", "movers", "item",
}

# The one deliberate exception: the registered explicit-hint surface
# demo (see its docstring).
_FORCED_BROADCAST_ALLOWLIST = {("relational.py", "join_broadcast")}


def _forced_broadcast_offenders():
    import ast
    import pathlib

    import gcp_cloudsql_airflow_bigquery_spark.plans as plans_pkg

    plans_dir = pathlib.Path(plans_pkg.__file__).parent
    offenders = []
    for path in sorted(plans_dir.glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            for call in [n for n in ast.walk(fn) if isinstance(n, ast.Call)]:
                f = call.func
                if not (isinstance(f, ast.Attribute) and f.attr == "broadcast"):
                    continue
                if not call.args:
                    continue
                root = call.args[0]
                while isinstance(root, (ast.Attribute, ast.Call)):
                    root = root.func if isinstance(root, ast.Call) else root.value
                    if isinstance(root, ast.Attribute):
                        continue
                if isinstance(root, ast.Name) and root.id in _SF_SCALING_NAMES:
                    if (path.name, fn.name) in _FORCED_BROADCAST_ALLOWLIST:
                        continue
                    offenders.append(f"{path.name}:{call.lineno} {fn.name} broadcast({root.id})")
    return offenders


def test_no_forced_broadcast_of_sf_scaling_tables():
    """No registered plan force-broadcasts an SF-scaling input (customer,
    supplier, part, facts, or per-part/per-supplier derived frames).
    Hints stay only on genuinely bounded frames: nation (25 rows),
    region (5), 1-row scalars, and bounded-key aggregates."""
    offenders = _forced_broadcast_offenders()
    assert not offenders, offenders


def test_dehinted_dims_still_autobroadcast_at_test_sf(spark, sf_dir):
    """De-hinting must not change the bench-scale strategy: customer /
    supplier / part are all under autoBroadcastJoinThreshold at test SF,
    so Catalyst still picks BroadcastHashJoin without the hint."""
    p3 = QUERIES["q3_shipping_priority"](spark, sf_dir)
    plan3 = p3._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan3, plan3
    assert "SortMergeJoin" not in plan3, plan3

    p5 = QUERIES["q5_local_supplier_volume"](spark, sf_dir)
    plan5 = p5._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan5, plan5


# Call sites in plans/ allowed to OPT IN to a node-sized broadcast via
# an operator's broadcast_* keyword: each one is a bounded node set
# (the ~8-value event-type vocabulary), documented at the call site.
_BROADCAST_OPTIN_ALLOWLIST = {
    ("events.py", "event_type_pagerank", "broadcast_ranks"),
    ("events.py", "event_state_communities", "broadcast_labels"),
    # same |states|-bounded event-state graph as event_state_communities
    ("events.py", "event_state_modularity", "broadcast_labels"),
}


def _iter_module_functions(directory):
    import ast

    for path in sorted(directory.glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            yield path, fn


def test_operator_broadcast_knobs_default_off():
    """VERDICT r9 #1 closure, part 1: no operator-library function may
    DEFAULT a ``broadcast_*`` knob to True.  A node-sized broadcast
    hint reached through a library default bypasses
    ``autoBroadcastJoinThreshold`` invisibly at every call site, so
    the policy (SCALE.md: no forced broadcast of SF-scaling frames)
    must be closed under composition: broadcast knobs are opt-in,
    bounded-set callers pass True explicitly."""
    import ast
    import pathlib

    import gcp_cloudsql_airflow_bigquery_spark.operators as ops_pkg

    ops_dir = pathlib.Path(ops_pkg.__file__).parent
    offenders = []
    for path, fn in _iter_module_functions(ops_dir):
        args = fn.args
        kwargs = list(args.args) + list(args.kwonlyargs)
        defaults = (
            [None] * (len(args.args) - len(args.defaults))
            + list(args.defaults)
            + list(args.kw_defaults)
        )
        for arg, default in zip(kwargs, defaults):
            if not arg.arg.startswith("broadcast_"):
                continue
            if isinstance(default, ast.Constant) and default.value is True:
                offenders.append(f"{path.name}:{fn.lineno} {fn.name}({arg.arg}=True)")
    assert not offenders, offenders


def test_broadcast_optin_callsites_are_allowlisted():
    """VERDICT r9 #1 closure, part 2: every plans/ call site passing
    ``broadcast_*=True`` into an operator must be on the bounded-set
    allowlist above — so a new opt-in requires a deliberate test edit
    stating why the node set is bounded."""
    import ast
    import pathlib

    import gcp_cloudsql_airflow_bigquery_spark.plans as plans_pkg

    plans_dir = pathlib.Path(plans_pkg.__file__).parent
    offenders = []
    for path, fn in _iter_module_functions(plans_dir):
        for call in [n for n in ast.walk(fn) if isinstance(n, ast.Call)]:
            for kw in call.keywords:
                if kw.arg and kw.arg.startswith("broadcast_") and (
                    isinstance(kw.value, ast.Constant) and kw.value.value is True
                ):
                    key = (path.name, fn.name, kw.arg)
                    if key not in _BROADCAST_OPTIN_ALLOWLIST:
                        offenders.append(f"{path.name}:{call.lineno} {fn.name} {kw.arg}=True")
    assert not offenders, offenders


# Operator functions whose QUERY/PROBE side can be an SF-scaling frame
# at a registered call site (embedding_knn_graph passes the full corpus
# as ivf_topk's queries), so their joins must stay threshold-driven —
# no F.broadcast() hint anywhere in the body (r10 de-hint; the plans/
# name scan above cannot see hints reached through operator bodies).
_HINT_FREE_OPERATORS = {
    ("similarity.py", "ivf_topk"),
    ("similarity.py", "ivf_topk_from_index"),
    # open-vocab word→tokens map: the distinct-word table grows with
    # the corpus (Heaps' law), so the encode join must stay
    # threshold-driven like the repo's other open-vocab joins
    ("tokenizer.py", "bpe_encode"),
}


# r11 guard inversion (ADVICE r10 #2): instead of enumerating known
# SF-scaling operators, scan EVERY operators/ function body for
# broadcast hints (attribute form ``*.broadcast(...)`` and bare-name
# ``broadcast(...)``) and require each hinting function to be on this
# audited-bounded allowlist.  Every entry's hinted frame is bounded
# independently of corpus SF:
#   - 1-row aggregates riding a crossJoin (pagerank dangling mass,
#     doc-count/total/cutoff frames, vocab-size counts);
#   - the per-shuffle-partition offset frame (numPartitions rows) of
#     curation._prefix_scan, the one scan behind the global-order ops;
#   - top-k / limit-capped / sketch-sized frames (heavy-hitter
#     candidates, ``limit(vocab_size)`` vocab grids, benchmark shingle
#     sets, CMS tables, PQ/IVF codebook tables — model-sized by
#     construction);
#   - probe/query batches bounded by the operator's documented
#     contract (brute-force/LSH/PQ top-k take bounded query sets; the
#     corpus-sized-probe operators are exactly _HINT_FREE_OPERATORS);
#   - opt-in ``broadcast_*`` knob branches (label_propagation)
#     — default-off is enforced by
#     test_operator_broadcast_knobs_default_off and every plans/
#     opt-in site is allowlisted as bounded above.
# A NEW broadcast hint anywhere in operators/ fails this test until
# its (file, function) is audited and added here.
_BROADCAST_HINT_ALLOWLIST = {
    ("curation.py", "_prefix_scan"),
    ("curation.py", "decontaminate"),
    ("curation.py", "decontaminate_fuzzy"),
    ("curation.py", "dsir_importance_weights"),
    ("curation.py", "dsir_logratio_table"),
    ("dedup.py", "bloom_new_docs"),
    ("frequency.py", "cms_estimate"),
    ("frequency.py", "heavy_hitters"),
    ("graph.py", "label_propagation"),
    ("graph.py", "pagerank"),
    ("mixing.py", "resample"),
    ("privacy.py", "t_closeness_report"),
    ("profiling.py", "psi_drift"),
    ("similarity.py", "brute_force_topk"),
    ("similarity.py", "brute_force_topk_int8"),
    ("similarity.py", "ivfpq_topk"),
    ("similarity.py", "lsh_topk"),
    ("similarity.py", "pq_adc_topk"),
    ("sketches.py", "audience_overlap_matrix"),
    ("sketches.py", "join_key_overlap_estimate"),
    ("skew.py", "skew_report"),
    ("textsearch.py", "bm25_topk"),
    ("textsearch.py", "tfidf_topk"),
    ("textstats.py", "bigram_logprob"),
    ("textstats.py", "hashed_tfidf_vectors"),
    ("textstats.py", "source_token_drift"),
    ("textstats.py", "stupid_backoff_score"),
    ("textstats.py", "tfidf_top_terms"),
    ("textstats.py", "unigram_logprob"),
}


def test_operator_broadcast_hints_are_allowlisted():
    """r11 inversion of the r10 probe-operator guard (ADVICE r10 #2):
    the r10 guard watched only three enumerated functions and only the
    attribute-call spelling, so the leak class it closed (a forced
    broadcast of an SF-scaling frame inside an operator body) could
    recur undetected anywhere else.  Scan ALL operator bodies for both
    hint spellings and pin the complete audited-bounded set; the
    known-scaling operators (_HINT_FREE_OPERATORS) must additionally
    stay off the allowlist, preserving the r10 guarantee.  SQL hints
    (``/*+ BROADCAST(...) */`` inside a string constant or f-string,
    as the SQL-string rounds of ``graph.pagerank`` build them) count
    as hints too, and an allowlist entry that no longer hints fails."""
    import ast
    import pathlib
    import re

    import gcp_cloudsql_airflow_bigquery_spark.operators as ops_pkg

    assert not (_HINT_FREE_OPERATORS & _BROADCAST_HINT_ALLOWLIST)

    sql_hint = re.compile(r"/\*\+[^*]*\b(BROADCAST|MAPJOIN)", re.IGNORECASE)
    ops_dir = pathlib.Path(ops_pkg.__file__).parent
    offenders, hinting = [], set()
    for path, fn in _iter_module_functions(ops_dir):
        for node in ast.walk(fn):
            f = getattr(node, "func", None)
            hinted = (
                (isinstance(f, ast.Attribute) and f.attr == "broadcast")
                or (isinstance(f, ast.Name) and f.id == "broadcast")
                or (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and sql_hint.search(node.value) is not None
                )
            )
            if not hinted:
                continue
            hinting.add((path.name, fn.name))
            if (path.name, fn.name) not in _BROADCAST_HINT_ALLOWLIST:
                offenders.append(f"{path.name}:{node.lineno} {fn.name}")
    assert not offenders, offenders
    stale = _BROADCAST_HINT_ALLOWLIST - hinting
    assert not stale, f"allowlisted but hinting nowhere: {sorted(stale)}"
