r"""Ranked full-text retrieval plans over ``documents`` (north-star
extension, same family as the ANN stack): BM25 top-k for a fixed query
batch, oracle-checked against a DuckDB SQL replay of the identical
index build + scoring formula.

Cross-engine exactness: tokenization is the shared whitespace-split on
normalized text (``textstats.normalize_text``), per-term BM25
contributions are computed in double in the same written order on both
engines, then decimal-cast before the per-doc sum (order-independent
addition) and rounded to 4 decimals — so ranks, not just scores, are
comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.textsearch import bm25_topk
from . import register


# the fixed query batch (terms drawn from the fixture vocabulary)
_QUERY_BATCH = [
    (1, "spark join performance"),
    (2, "hash table scan"),
    (3, "window agg batch data"),
]
_K = 5
_K1 = 1.2
_B = 0.75


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERY_BATCH, ["query_id", "query_text"])
    return bm25_topk(docs, queries, k=_K, k1=_K1, b=_B)


_QUERY_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _QUERY_BATCH)

_BM25_SQL = f"""
WITH queries(query_id, query_text) AS (VALUES {_QUERY_VALUES}),
qterms AS (
  SELECT DISTINCT query_id, unnest(string_split(
    trim(regexp_replace(lower(query_text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM queries
),
toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
doc_lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM doc_lens) AS avgdl
),
matched AS (
  SELECT q.query_id, p.term, p.doc_id, p.tf
  FROM postings p JOIN qterms q ON p.term = q.term
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY 1
),
scored AS (
  SELECT m.query_id, m.doc_id,
         CAST(ROUND(SUM(CAST(
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (m.tf * ({_K1} + 1)) / (m.tf + {_K1} * (1 - {_B} + {_B} * l.dl / c.avgdl))
         AS DECIMAL(28,10))), 4) AS DOUBLE) AS score
  FROM matched m
  JOIN dfreq d ON m.term = d.term
  JOIN doc_lens l ON m.doc_id = l.doc_id
  CROSS JOIN consts c
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_K}
"""

register(doc_bm25_search, _BM25_SQL)


# --- hybrid retrieval (r6): BM25 + vector cosine, RRF fusion ---------------

_HYBRID_QIDS = (0, 7, 13)  # pinned "more like this" anchor docs
_SIDE_K = 25  # per-side candidate depth
_FUSE_K = 10  # fused top-k per query
_RRF_C = 60  # the standard RRF constant


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (new r6): for pinned anchor documents, fuse
    lexical BM25 ranks (query text = the anchor's own text) with exact
    cosine vector ranks (query vector = the anchor's embedding, 1:1 on
    id) via reciprocal-rank fusion ``Σ 1/(60 + rank)`` — the standard
    fusion used by hybrid search engines.  Output: fused top-10 per
    anchor with both side ranks (0 = absent from that side's top-25).
    Both sides exclude the anchor doc BEFORE the top-25 cutoff, so the
    candidate depth is symmetric: exactly 25 non-self candidates per
    side (ADVICE r6: the old order filtered self after the text
    cutoff, leaving 24 text candidates vs 25 vector ones).

    Cross-engine exactness: both sides rank on ROUNDED scores (BM25
    decimal-summed + round-4, cosine round-6) with id tie-breaks, so
    ranks — and therefore the RRF arithmetic, which is exact integer
    reciprocals — reproduce bit-stably in DuckDB.  Scale shape: each
    side is its existing scale-audited operator (broadcast query
    vocabulary / broadcast query vectors, per-query partitioned rank
    windows); fusion adds one (query_id, doc_id) outer join of two
    k-sized frames — model-sized work after the retrieval."""
    from pyspark.sql import Window

    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qd = docs.filter(F.col("doc_id").isin(*_HYBRID_QIDS)).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    # fetch k+1 so dropping the (at most one) self-match still leaves a
    # full _SIDE_K non-self candidates: the top-25 non-self docs are
    # always contained in the overall top-26
    text25 = bm25_topk(docs, qd, k=_SIDE_K + 1, k1=_K1, b=_B)
    wt = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    t = (
        text25.filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("rank_text", F.row_number().over(wt))
        .filter(F.col("rank_text") <= _SIDE_K)
        .select("query_id", "doc_id", "rank_text")
    )
    v = brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(*_HYBRID_QIDS)), k=_SIDE_K
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rank_vec"),
    )
    fused = t.join(v, ["query_id", "doc_id"], "full")
    contrib_t = F.when(
        F.col("rank_text").isNotNull(),
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_text")),
    ).otherwise(F.lit(0.0))
    contrib_v = F.when(
        F.col("rank_vec").isNotNull(),
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_vec")),
    ).otherwise(F.lit(0.0))
    scored = (
        fused.withColumn("rrf", F.round(contrib_t + contrib_v, 6))
        .withColumn("rank_text", F.coalesce("rank_text", F.lit(0)))
        .withColumn("rank_vec", F.coalesce("rank_vec", F.lit(0)))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _FUSE_K)
        .select("query_id", "doc_id", "rank_text", "rank_vec", "rrf", "rank")
    )


_QID_LIST = ", ".join(str(i) for i in _HYBRID_QIDS)

_HYBRID_RRF_SQL = rf"""
WITH qd AS (
  SELECT doc_id AS query_id, text AS query_text
  FROM documents WHERE doc_id IN ({_QID_LIST})
),
qterms AS (
  SELECT DISTINCT query_id, unnest(string_split(
    trim(regexp_replace(lower(query_text), '\s+', ' ', 'g')), ' ')) AS term
  FROM qd
),
toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
doc_lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM doc_lens) AS avgdl
),
matched AS (
  SELECT q.query_id, p.term, p.doc_id, p.tf
  FROM postings p JOIN qterms q ON p.term = q.term
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY 1
),
bscored AS (
  SELECT m.query_id, m.doc_id,
         CAST(ROUND(SUM(CAST(
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (m.tf * ({_K1} + 1)) / (m.tf + {_K1} * (1 - {_B} + {_B} * l.dl / c.avgdl))
         AS DECIMAL(28,10))), 4) AS DOUBLE) AS score
  FROM matched m
  JOIN dfreq d ON m.term = d.term
  JOIN doc_lens l ON m.doc_id = l.doc_id
  CROSS JOIN consts c
  GROUP BY 1, 2
),
tt AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS INT)
           AS rank_text
  FROM bscored WHERE doc_id != query_id
  QUALIFY rank_text <= {_SIDE_K}
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id IN ({_QID_LIST})),
vscored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
         ROUND(list_dot_product(q.e, v.e) /
               (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(v.e, v.e))),
               6) AS cosine
  FROM q JOIN v ON q.vec_id != v.vec_id
),
vv AS (
  SELECT query_id, doc_id, CAST(rank AS INT) AS rank_vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, doc_id) AS rank
    FROM vscored
  ) WHERE rank <= {_SIDE_K}
),
f AS (
  SELECT query_id, doc_id,
         ROUND(
           (CASE WHEN rank_text IS NULL THEN 0.0
                 ELSE 1.0 / ({_RRF_C} + rank_text) END)
           + (CASE WHEN rank_vec IS NULL THEN 0.0
                   ELSE 1.0 / ({_RRF_C} + rank_vec) END), 6) AS rrf,
         COALESCE(rank_text, 0) AS rank_text,
         COALESCE(rank_vec, 0) AS rank_vec
  FROM tt FULL JOIN vv USING (query_id, doc_id)
)
SELECT query_id, doc_id, rank_text, rank_vec, rrf,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) AS INT) AS rank
FROM f
QUALIFY rank <= {_FUSE_K}
"""

register(hybrid_search_rrf, _HYBRID_RRF_SQL)


def doc_tfidf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical kNN (new r7): for the pinned anchor docs, the
    top-10 nearest documents under tf-idf COSINE (w = tf·ln(N/df),
    full-vector length normalization) — the lexical dual of the dense
    `knn_bruteforce` probe and the second retrieval model beside BM25
    (`doc_bm25_search`).  Anchors are excluded before the cutoff
    (symmetric depth, the ADVICE-r6 convention).  Decimal-summed
    contributions + round-4 scores + id tie-breaks make ranks
    reproduce bit-stably in DuckDB (`operators/textsearch.tfidf_topk`)."""
    from ..operators.textsearch import tfidf_topk

    docs = load_table(spark, sf_dir, "documents")
    qd = docs.filter(F.col("doc_id").isin(*_HYBRID_QIDS)).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    return tfidf_topk(docs, qd, k=10, exclude_self=True)


_TFIDF_KNN_SQL = rf"""
WITH qd AS (
  SELECT doc_id AS query_id, text AS query_text
  FROM documents WHERE doc_id IN ({_QID_LIST})
),
toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
widf AS (
  SELECT term, ln(n_docs / CAST(df AS DOUBLE)) AS idf FROM dfreq, n
),
dw AS (
  SELECT p.term, p.doc_id, p.tf * w.idf AS wt
  FROM postings p JOIN widf w USING (term)
),
dnorm AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(wt * wt AS DECIMAL(28,10))) AS DOUBLE)) AS dn
  FROM dw GROUP BY 1
),
qtoks AS (
  SELECT query_id, unnest(string_split(
    trim(regexp_replace(lower(query_text), '\s+', ' ', 'g')), ' ')) AS term
  FROM qd
),
qtf AS (SELECT query_id, term, COUNT(*) AS qtf FROM qtoks GROUP BY 1, 2),
qw AS (
  SELECT q.query_id, q.term, q.qtf * w.idf AS wq
  FROM qtf q JOIN widf w USING (term)
),
qnorm AS (
  SELECT query_id,
         sqrt(CAST(SUM(CAST(wq * wq AS DECIMAL(28,10))) AS DOUBLE)) AS qn
  FROM qw GROUP BY 1
),
dots AS (
  SELECT q.query_id, d.doc_id,
         CAST(SUM(CAST(d.wt * q.wq AS DECIMAL(28,10))) AS DOUBLE) AS dot
  FROM dw d JOIN qw q USING (term)
  GROUP BY 1, 2
),
scored AS (
  SELECT s.query_id, s.doc_id,
         ROUND(s.dot / (qn.qn * dn.dn), 4) AS score
  FROM dots s
  JOIN qnorm qn USING (query_id)
  JOIN dnorm dn USING (doc_id)
  WHERE s.doc_id != s.query_id
)
SELECT query_id, doc_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""

register(doc_tfidf_knn, _TFIDF_KNN_SQL)


def embedding_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (new r7): brute-force cosine top-25
    per pinned probe query, greedily re-ranked to 10 picks by
    ``0.7·rel − 0.3·max_sim_to_selected`` — the diversity re-ranker
    that keeps a context window / training batch from filling with
    near-copies of the best hit.  Hash-checkable because the greedy
    loop is deterministic: scores round(6) before each argmax, ties
    break on cand_id, and the oracle replays all ten picks as unrolled
    CTEs.  Scale shape in :func:`..operators.similarity.mmr_rerank`:
    every step works on the BOUNDED candidate pool (queries × 25
    rows), never the corpus; picks are lineage-cut."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    topk = similarity.brute_force_topk(emb, probes, k=25)
    vecs = emb.select(
        F.col("vec_id").alias("cand_id"),
        similarity._as_double("embedding").alias("vec"),
    )
    cands = topk.select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("cosine").alias("rel"),
    ).join(vecs, "cand_id")
    return similarity.mmr_rerank(cands, k=10, lam=0.7)


def _mmr_ctes(k: int, lam: float) -> str:
    """Unrolled greedy MMR replay over a prior CTE ``cand(query_id,
    cand_id, rel, vec)``: pick 1 = max rel; pick i = max of
    ``lam·rel − (1−lam)·max cosine to the selected set``, rounded(6)
    before the argmax, cand_id tie-break, selected candidates excluded
    explicitly.  Produces ``all{k}``."""
    parts = [
        """sel1 AS (
  SELECT query_id, cand_id, vec, ROUND(rel, 6) AS mmr_score, 1 AS pick FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id) AS rn
    FROM cand) WHERE rn = 1
)""",
        "all1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, k + 1):
        parts.append(f"""sc{i} AS (
  SELECT c.query_id, c.cand_id, ANY_VALUE(c.vec) AS vec,
         ROUND({lam} * MAX(c.rel) - {1 - lam} *
               MAX(list_dot_product(c.vec, s.vec) /
                   (SQRT(list_dot_product(c.vec, c.vec)) *
                    SQRT(list_dot_product(s.vec, s.vec)))), 6) AS mmr,
         MAX(CASE WHEN c.cand_id = s.cand_id THEN 1 ELSE 0 END) AS is_sel
  FROM cand c JOIN all{i - 1} s USING (query_id)
  GROUP BY 1, 2
)""")
        parts.append(f"""sel{i} AS (
  SELECT query_id, cand_id, vec, mmr AS mmr_score, {i} AS pick FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cand_id) AS rn
    FROM sc{i} WHERE is_sel = 0) WHERE rn = 1
)""")
        parts.append(
            f"all{i} AS (SELECT * FROM all{i - 1} UNION ALL SELECT * FROM sel{i})"
        )
    return ",\n".join(parts)


_MMR_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id < 5),
cand AS MATERIALIZED (
  SELECT query_id, cand_id, rel, vec FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS cand_id,
           ROUND(list_dot_product(q.e, v.e) /
                 (SQRT(list_dot_product(q.e, q.e)) *
                  SQRT(list_dot_product(v.e, v.e))), 6) AS rel,
           v.e AS vec,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e, v.e) /
                 (SQRT(list_dot_product(q.e, q.e)) *
                  SQRT(list_dot_product(v.e, v.e))), 6) DESC,
                      v.vec_id) AS rank
    FROM q JOIN v ON q.vec_id != v.vec_id)
  WHERE rank <= 25
),
{_mmr_ctes(10, 0.7)}
SELECT query_id, pick, cand_id, mmr_score FROM all10
"""

register(embedding_mmr_diverse, _MMR_SQL)


def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 ranking eval (new r7): the lexical BM25 top-10 for each
    pinned anchor is graded against semantic gold derived from the
    exact cosine ranking (grade 3 = vector top-5, 2 = top-10, 1 =
    top-25, else 0) — the ranking-quality member of the eval family
    (`doc_minhash_recall_eval`, `embedding_ann_recall_eval` measure
    candidate recall; this measures ORDER quality with graded gains).
    ``nDCG = Σ (2^g − 1)/log2(pos+1) / ideal``; both sides rank on
    rounded scores with id tie-breaks, so grades and positions — and
    therefore the DCG arithmetic — are deterministic cross-engine.
    Scale shape: both retrieval sides are their scale-audited
    operators; the eval itself is k-sized joins and a per-query
    10-term sum."""
    from pyspark.sql import Window

    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qd = docs.filter(F.col("doc_id").isin(*_HYBRID_QIDS)).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    text = bm25_topk(docs, qd, k=_FUSE_K + 1, k1=_K1, b=_B)
    wt = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    t10 = (
        text.filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("pos", F.row_number().over(wt))
        .filter(F.col("pos") <= _FUSE_K)
        .select("query_id", "doc_id", "pos")
    )
    gold = brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(*_HYBRID_QIDS)), k=_SIDE_K
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.when(F.col("rank") <= 5, 3)
        .when(F.col("rank") <= 10, 2)
        .otherwise(1)
        .alias("grade"),
    )
    gain = (F.pow(F.lit(2.0), F.col("grade")) - 1) / F.log2(F.col("pos") + 1)
    dcg = (
        t10.join(gold, ["query_id", "doc_id"], "left")
        .withColumn("grade", F.coalesce("grade", F.lit(0)))
        .groupBy("query_id")
        .agg(
            F.round(F.sum(gain), 6).alias("dcg_at_10"),
            F.sum((F.col("grade") > 0).cast("long")).alias("n_graded_hits"),
        )
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("grade").desc(), "doc_id"
    )
    ideal = (
        gold.withColumn("pos", F.row_number().over(wi))
        .filter(F.col("pos") <= _FUSE_K)
        .groupBy("query_id")
        .agg(F.round(F.sum(gain), 6).alias("idcg_at_10"))
    )
    return dcg.join(ideal, "query_id").select(
        "query_id",
        "dcg_at_10",
        "idcg_at_10",
        F.round(F.col("dcg_at_10") / F.col("idcg_at_10"), 6).alias("ndcg_at_10"),
        "n_graded_hits",
    )


_NDCG_SQL = rf"""
WITH qd AS (
  SELECT doc_id AS query_id, text AS query_text
  FROM documents WHERE doc_id IN ({_QID_LIST})
),
qterms AS (
  SELECT DISTINCT query_id, unnest(string_split(
    trim(regexp_replace(lower(query_text), '\s+', ' ', 'g')), ' ')) AS term
  FROM qd
),
toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
postings AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
doc_lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM doc_lens) AS avgdl
),
matched AS (
  SELECT q.query_id, p.term, p.doc_id, p.tf
  FROM postings p JOIN qterms q ON p.term = q.term
),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY 1),
bscored AS (
  SELECT m.query_id, m.doc_id,
         CAST(ROUND(SUM(CAST(
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (m.tf * ({_K1} + 1)) / (m.tf + {_K1} * (1 - {_B} + {_B} * l.dl / c.avgdl))
         AS DECIMAL(28,10))), 4) AS DOUBLE) AS score
  FROM matched m
  JOIN dfreq d ON m.term = d.term
  JOIN doc_lens l ON m.doc_id = l.doc_id
  CROSS JOIN consts c
  GROUP BY 1, 2
),
t10 AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS INT) AS pos
  FROM bscored WHERE doc_id != query_id
  QUALIFY pos <= {_FUSE_K}
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id IN ({_QID_LIST})),
vscored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
         ROUND(list_dot_product(q.e, v.e) /
               (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(v.e, v.e))),
               6) AS cosine
  FROM q JOIN v ON q.vec_id != v.vec_id
),
gold AS (
  SELECT query_id, doc_id,
         CASE WHEN rank <= 5 THEN 3 WHEN rank <= 10 THEN 2 ELSE 1 END AS grade
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, doc_id) AS rank
        FROM vscored)
  WHERE rank <= {_SIDE_K}
),
dcg AS (
  SELECT t.query_id,
         ROUND(SUM((POW(2.0, COALESCE(g.grade, 0)) - 1)
                   / log2(t.pos + 1)), 6) AS dcg_at_10,
         CAST(SUM(CASE WHEN g.grade IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_graded_hits
  FROM t10 t LEFT JOIN gold g USING (query_id, doc_id)
  GROUP BY 1
),
ideal AS (
  SELECT query_id,
         ROUND(SUM((POW(2.0, grade) - 1) / log2(pos + 1)), 6) AS idcg_at_10
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY grade DESC, doc_id) AS pos
        FROM gold)
  WHERE pos <= {_FUSE_K}
  GROUP BY 1
)
SELECT query_id, dcg_at_10, idcg_at_10,
       ROUND(dcg_at_10 / idcg_at_10, 6) AS ndcg_at_10, n_graded_hits
FROM dcg JOIN ideal USING (query_id)
"""

register(search_ndcg_eval, _NDCG_SQL)


# --- pseudo-relevance feedback (r8): RM1 query expansion ------------------

_PRF_TOPD = 10  # pseudo-relevant depth per query
_PRF_TERMS = 5  # expansion terms emitted per query


def search_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM1 pseudo-relevance-feedback query expansion (new r8): take
    each query's BM25 top-10 as the pseudo-relevant set R, weight
    every term of every d in R by ``p(w|d) * score(d) = (tf/dl) *
    bm25``, sum over R, drop the original query terms, and emit the
    top-5 expansion terms per query — the classic relevance-model
    expansion loop (the missing retrieval-QUALITY member next to
    BM25 / hybrid-RRF / nDCG).

    Cross-engine exactness: the BM25 scores are the hash-proven
    rounded-4 doubles of ``doc_bm25_search``; each term contribution
    is computed in double in the same written order, decimal-cast
    before the per-(query, term) sum (order-independent addition, the
    module-docstring pattern), ranked on the EXACT decimal, rounded
    only for display.

    Scale shape: postings/doc-length frames are the shared inverted
    index build (one tokenize + two aggs); only the k x |R| top-doc
    postings join fans in (R is 10 docs/query, so the expansion side
    is query-batch-sized, not corpus-sized); ranking is a per-query
    window over at most |R| x doc-vocab candidate terms."""
    from pyspark.sql import Window

    from ..operators.textstats import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERY_BATCH, ["query_id", "query_text"])
    top = bm25_topk(docs, queries, k=_PRF_TOPD, k1=_K1, b=_B).select(
        "query_id", "doc_id", "score"
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    cand = (
        top.join(tf, "doc_id")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "term",
            (F.col("tf") / F.col("dl") * F.col("score"))
            .cast("decimal(28,10)")
            .alias("c"),
        )
    )
    rm = cand.groupBy("query_id", "term").agg(F.sum("c").alias("rm_dec"))
    qterms = queries.select(
        "query_id",
        F.explode(
            F.split(normalize_text(F.col("query_text")), " ")
        ).alias("term"),
    ).distinct()
    expq = rm.join(qterms, ["query_id", "term"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("rm_dec").desc(), F.col("term").asc()
    )
    return (
        expq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PRF_TERMS)
        .select(
            "query_id",
            "term",
            F.round(F.col("rm_dec").cast("double"), 6).alias("rm1"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


_PRF_SQL = f"""
WITH queries(query_id, query_text) AS (VALUES {_QUERY_VALUES}),
qterms AS (
  SELECT DISTINCT query_id, unnest(string_split(
    trim(regexp_replace(lower(query_text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM queries
),
toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
doc_lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM doc_lens) AS avgdl
),
matched AS (
  SELECT q.query_id, p.term, p.doc_id, p.tf
  FROM postings p JOIN qterms q ON p.term = q.term
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY 1
),
scored AS (
  SELECT m.query_id, m.doc_id,
         CAST(ROUND(SUM(CAST(
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (m.tf * ({_K1} + 1)) / (m.tf + {_K1} * (1 - {_B} + {_B} * l.dl / c.avgdl))
         AS DECIMAL(28,10))), 4) AS DOUBLE) AS score
  FROM matched m
  JOIN dfreq d ON m.term = d.term
  JOIN doc_lens l ON m.doc_id = l.doc_id
  CROSS JOIN consts c
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
),
topd AS (
  SELECT query_id, doc_id, score FROM ranked WHERE rank <= {_PRF_TOPD}
),
cand AS (
  SELECT t.query_id, p.term,
         CAST(p.tf * 1.0 / l.dl * t.score AS DECIMAL(28,10)) AS c
  FROM topd t
  JOIN postings p ON p.doc_id = t.doc_id
  JOIN doc_lens l ON l.doc_id = t.doc_id
),
rm AS (SELECT query_id, term, SUM(c) AS rm_dec FROM cand GROUP BY 1, 2),
expq AS (
  SELECT rm.query_id, rm.term, rm.rm_dec
  FROM rm ANTI JOIN qterms q
    ON rm.query_id = q.query_id AND rm.term = q.term
),
rr AS (
  SELECT query_id, term, rm_dec,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rm_dec DESC, term) AS rank
  FROM expq
)
SELECT query_id, term,
       ROUND(CAST(rm_dec AS DOUBLE), 6) AS rm1,
       CAST(rank AS INT) AS rank
FROM rr WHERE rank <= {_PRF_TERMS}
"""

register(search_prf_expansion, _PRF_SQL)
