"""Corpus-curation query plans over ``documents``: chunking for model
windows, per-source balanced sampling, train/val/test split assignment.
All three are oracle-checked (md5 is hex-identical across engines;
chunk windows replicate with ``generate_series``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import curation, mixing
from . import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 120-char chunks at stride 100, one row per chunk."""
    return curation.chunk_text(
        _docs(spark, sf_dir), size=120, stride=100
    ).select("doc_id", "chunk_idx", "chunk", "chunk_len")


_CHUNKS_SQL = """
SELECT doc_id,
       CAST(start // 100 AS INT) AS chunk_idx,
       substr(text, CAST(start AS INT) + 1, 120) AS chunk,
       length(substr(text, CAST(start AS INT) + 1, 120)) AS chunk_len
FROM documents,
     UNNEST(generate_series(
         0,
         CASE WHEN length(text) <= 120 THEN 0
              ELSE length(text) - 120 + 99 END,
         100)) AS t(start)
WHERE length(substr(text, CAST(start AS INT) + 1, 120)) > 0
"""


def doc_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 docs per source, picked by smallest md5(doc_id) — the
    deterministic rebalancing pass for over-represented sources."""
    return curation.balanced_sample(
        _docs(spark, sf_dir), per_group=10
    ).select("doc_id", "source", "n_chars")


_BALANCED_SQL = """
SELECT doc_id, source, n_chars
FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) t WHERE rk <= 10
"""


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15% proportional stratified sample — every source represented
    at the global rate, rows picked by smallest md5(doc_id) so the
    sample is deterministic and engine-portable."""
    return curation.stratified_sample(
        _docs(spark, sf_dir), fraction=0.15
    ).select("doc_id", "source", "n_chars")


_STRATIFIED_SQL = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_g
  FROM documents
) t WHERE rk <= CEIL(0.15 * n_g)
"""


def doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source × split histogram of the stable hash-based
    train/val/test assignment (the leak-free split audit query)."""
    return (
        curation.assign_splits(_docs(spark, sf_dir))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


_SPLITS_SQL = """
SELECT source,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2 ORDER BY source, split
"""


# --- temperature mixing / training-order sharding ------------------------

_MIX_T = 0.5  # temperature: en (218 docs) downsamples, fr (64) upsamples


def doc_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates for a temperature-0.5 mix — the
    plan a pipeline inspects before materializing the resample."""
    rates = mixing.mix_rates(_docs(spark, sf_dir), source_col="lang", temperature=_MIX_T)
    return rates.select(
        "lang",
        "n_docs",
        F.round("weight", 6).alias("weight"),
        F.round("rate", 6).alias("rate"),
    ).orderBy("lang")


_RATES_CTE = f"""
c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
r AS (SELECT lang, n_docs,
             pow(n_docs, {_MIX_T}) AS w_raw,
             SUM(pow(n_docs, {_MIX_T})) OVER () AS w_sum,
             SUM(n_docs) OVER () AS n_total
      FROM c)
"""

_MIX_RATES_SQL = f"""
WITH {_RATES_CTE}
SELECT lang, n_docs,
       ROUND(w_raw / w_sum, 6) AS weight,
       ROUND(w_raw / w_sum * n_total / n_docs, 6) AS rate
FROM r ORDER BY lang
"""


def doc_mix_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized mix: every kept (doc, epoch) copy.  Membership
    is a pure hash function of doc_id, so DuckDB reproduces it."""
    docs = _docs(spark, sf_dir)
    rates = mixing.mix_rates(docs, source_col="lang", temperature=_MIX_T)
    out = mixing.resample(docs, rates, source_col="lang")
    return out.select("doc_id", "lang", "epoch").orderBy("doc_id", "epoch")


# u = first 8 md5 hex chars of (seed || id) as a 32-bit int scaled to [0,1)
def _u_sql(seed: str, key: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5('{seed}' || CAST({key} AS VARCHAR)), 1, 8)) "
        "AS UBIGINT) / 4294967296.0"
    )


_MIX_RESAMPLED_SQL = f"""
WITH {_RATES_CTE},
rate AS (SELECT lang, w_raw / w_sum * n_total / n_docs AS rate FROM r),
m AS (SELECT d.doc_id, d.lang,
             CAST(FLOOR(rate) AS BIGINT)
             + CASE WHEN {_u_sql("mix-v1", "d.doc_id")} < rate - FLOOR(rate)
                    THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN rate USING (lang))
SELECT doc_id, lang,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) - 1 AS epoch
FROM m WHERE n_copies > 0 ORDER BY doc_id, epoch
"""

_N_SHARDS = 8


def doc_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: stable (shard, position)
    per document, reproducible from the seed alone."""
    out = mixing.shard_order(_docs(spark, sf_dir), n_shards=_N_SHARDS)
    return out.select("doc_id", "shard", "position").orderBy("shard", "position")


_SHARD_SQL = f"""
WITH h AS (SELECT doc_id,
                  CAST(FLOOR({_u_sql("shuffle-v1-shard", "doc_id")} * {_N_SHARDS}) AS INT) AS shard,
                  {_u_sql("shuffle-v1-order", "doc_id")} AS u
           FROM documents)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY u, doc_id) AS INT) - 1 AS position
FROM h ORDER BY shard, position
"""


register(doc_chunks, _CHUNKS_SQL)
register(doc_balanced_sample, _BALANCED_SQL)
register(doc_stratified_sample, _STRATIFIED_SQL)
register(doc_split_counts, _SPLITS_SQL)
register(doc_mix_rates, _MIX_RATES_SQL)
register(doc_mix_resampled, _MIX_RESAMPLED_SQL)
register(doc_shard_order, _SHARD_SQL)


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 docs drawn weighted by length (``n_chars``) via the
    deterministic A-ES scheme (``operators/curation.weighted_sample``)
    — longer documents proportionally likelier, reproducible on any
    engine, selected by distributed top-k (no full sort)."""
    d = load_table(spark, sf_dir, "documents")
    return curation.weighted_sample(d, "n_chars", k=100).select(
        "doc_id", "source", "n_chars", "priority"
    )


_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, source, n_chars,
       ROUND(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT + 1.0)
                / 4294967297.0) / n_chars, 9) AS priority
FROM documents
ORDER BY priority DESC, doc_id
LIMIT 100
"""

register(doc_weighted_sample, _WEIGHTED_SAMPLE_SQL)


def doc_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): draw 100 docs from
    the raw pool (source != 'src0') distributed like the target domain
    (source = 'src0'), via hashed unigram+bigram bucket models and a
    deterministic Gumbel-top-k (``operators/curation.dsir_resample``).
    Fully SQL-replayable: md5-derived buckets and noise, decimal-exact
    per-doc log-weights."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.filter(F.col("source") != "src0")
    target = d.filter(F.col("source") == "src0")
    out = curation.dsir_resample(raw, target, k=100, n_buckets=256)
    return out.select("doc_id", "source", F.round("logw", 6).alias("logw"), "priority")


_DSIR_SQL = r"""
WITH
raw AS (SELECT * FROM documents WHERE source <> 'src0'),
tgt AS (SELECT * FROM documents WHERE source = 'src0'),
raw_tok AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM raw
),
tgt_tok AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM tgt
),
raw_gram AS (
  SELECT doc_id, unnest(list_concat(
    w,
    list_transform(generate_series(1, greatest(len(w)-1, 0)),
                   i -> w[i] || ' ' || w[i+1]))) AS gram
  FROM raw_tok
),
tgt_gram AS (
  SELECT doc_id, unnest(list_concat(
    w,
    list_transform(generate_series(1, greatest(len(w)-1, 0)),
                   i -> w[i] || ' ' || w[i+1]))) AS gram
  FROM tgt_tok
),
raw_feat AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::UBIGINT % 256 AS bucket,
         COUNT(*) AS cnt
  FROM raw_gram GROUP BY 1, 2
),
tgt_feat AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::UBIGINT % 256 AS bucket,
         COUNT(*) AS cnt
  FROM tgt_gram GROUP BY 1, 2
),
rc AS (SELECT bucket, SUM(cnt) AS rc FROM raw_feat GROUP BY 1),
tc AS (SELECT bucket, SUM(cnt) AS tc FROM tgt_feat GROUP BY 1),
buckets AS (
  SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
         COALESCE(rc, 0) AS rc, COALESCE(tc, 0) AS tc
  FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
),
tot AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM buckets),
lr AS (
  SELECT bucket,
         ln((tc + 0.5) / (ttot + 0.5 * 256))
         - ln((rc + 0.5) / (rtot + 0.5 * 256)) AS logratio
  FROM buckets CROSS JOIN tot
),
weights AS (
  SELECT f.doc_id,
         CAST(SUM(CAST(f.cnt * lr.logratio AS DECIMAL(28,10))) AS DOUBLE) AS logw
  FROM raw_feat f JOIN lr ON f.bucket = lr.bucket
  GROUP BY 1
),
scored AS (
  SELECT r.doc_id, r.source, w.logw,
         ROUND(w.logw + (- ln(- ln(
           (('0x' || substr(md5(r.doc_id::VARCHAR || '#g'), 1, 8))::UBIGINT + 1.0)
           / 4294967297.0))), 9) AS priority
  FROM raw r JOIN weights w ON r.doc_id = w.doc_id
)
SELECT doc_id, source, ROUND(logw, 6) AS logw, priority
FROM scored
ORDER BY priority DESC, doc_id
LIMIT 100
"""

register(doc_dsir_resample, _DSIR_SQL)


def doc_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: documents assigned to token-length deciles
    (shortest→1 … longest→10) with per-bucket stats — the
    length-ordered schedule many training curricula and
    padding-efficient batchers consume.  ``ntile`` needs a global
    order, but a bare ``Window.orderBy`` drags every document onto one
    task (``WindowExec: No Partition Defined``) — so the deciles come
    from :func:`operators.curation.exact_ntile` (range-partitioned
    prefix-sum ranks), identical results to SQL ``NTILE(10)`` with no
    unpartitioned window.  (The inexact alternative at 100 TB —
    ``percentile_approx`` cuts — stays documented in
    ``textstats.unigram_logprob``; it is not needed for exactness
    here.)"""
    d = load_table(spark, sf_dir, "documents")
    from ..operators.curation import exact_ntile

    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    toks = d.select("doc_id", n_tok.alias("n_tokens"))
    return (
        exact_ntile(
            toks, 10, [F.col("n_tokens").asc(), F.col("doc_id").asc()]
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
        )
    )


_CURRICULUM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         len(string_split(trim(lower(text)), ' ')) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS bucket
  FROM toks
)
SELECT bucket, COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
       ROUND(AVG(n_tokens), 4) AS mean_tokens
FROM b GROUP BY 1
"""

register(doc_curriculum_buckets, _CURRICULUM_SQL)


def doc_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless 5-fold cross-validation assignment: fold = md5(id)
    mod k — leak-free under corpus growth for the same reason as
    ``assign_splits`` (membership is a pure function of the id), and
    portable across engines.  Output is the per-fold census."""
    d = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
    ).cast("int")
    return (
        d.select(fold.alias("fold"))
        .groupBy("fold")
        .agg(F.count("*").alias("n_docs"))
    )


_KFOLD_SQL = """
SELECT CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 5 AS INT) AS fold,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""

register(doc_kfold_assignment, _KFOLD_SQL)


def doc_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first corpus selection under a 20k-token budget
    (``operators/curation.budget_select``): documents taken in
    (quality DESC, doc_id) order while the running token count stays
    within budget — the data-selection step that turns a scored corpus
    into a fixed-size training mix.  The running sum is a two-phase
    range-partitioned prefix sum, so no task ever holds the global
    order; the oracle replays the same cumulative-sum semantics."""
    from ..operators import textstats

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        textstats.quality_score(F.col("text")).alias("quality"),
        textstats.token_count(F.col("text")).alias("n_tokens"),
    )
    return curation.budget_select(
        scored, "quality", "n_tokens", budget=20_000
    ).select("doc_id", "source", "quality", "n_tokens", "cum_cost")


from ..operators.textstats import STOPWORDS as _SW  # noqa: E402

_SW_SQL = "', '".join(_SW)

_BUDGET_SELECT_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id, source,
         len(w) AS n_tokens,
         len(list_filter(w, x -> x IN ('{_SW_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct
  FROM toks
), r AS (
  SELECT doc_id, source, n_tokens,
         CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stop_r,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_r
  FROM m
), q AS (
  SELECT doc_id, source, n_tokens,
         ROUND(LEAST(n_tokens / 50.0, 1.0) * 0.5 +
               GREATEST(0.0, 1.0 - punct_r * 5) * 0.25 +
               LEAST(stop_r * 4, 1.0) * 0.25, 6) AS quality
  FROM r
)
SELECT doc_id, source, quality, n_tokens, cum_cost FROM (
  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cost
  FROM q)
WHERE cum_cost <= 20000
"""

register(doc_token_budget_selection, _BUDGET_SELECT_SQL)


_CONTEXT_WINDOW = 256


def doc_context_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fitting census (new r9): per source, how much of
    the corpus survives a ``_CONTEXT_WINDOW``-token cap — overflow doc
    counts and the truncated token mass — the sizing report every
    sequence-packing / training-mix step starts from (what fraction of
    tokens would a hard truncation throw away, and from which
    sources?).

    Scale shape: pure-projection token counts (whitespace split stays
    in codegen) folded by one bounded per-source aggregation; exact
    long token arithmetic, ratios rounded."""
    from ..operators import textstats

    d = load_table(spark, sf_dir, "documents")
    n_tok = textstats.token_count(F.col("text"))
    w = F.lit(_CONTEXT_WINDOW)
    base = d.select(
        "source",
        n_tok.alias("n_tokens"),
        (n_tok > w).cast("long").alias("overflow"),
        F.greatest(n_tok - w, F.lit(0)).cast("long").alias("truncated"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("overflow").alias("n_overflow"),
            F.round(F.sum("overflow") / F.count(F.lit(1)), 6).alias(
                "overflow_rate"
            ),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum("truncated").alias("tokens_truncated"),
            F.round(
                F.sum("truncated") / F.sum("n_tokens"), 6
            ).alias("truncated_frac"),
        )
        .orderBy("source")
    )


_CONTEXT_FIT_SQL = f"""
WITH base AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       CAST(SUM(CASE WHEN n_tokens > {_CONTEXT_WINDOW} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overflow,
       ROUND(SUM(CASE WHEN n_tokens > {_CONTEXT_WINDOW} THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS overflow_rate,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(GREATEST(n_tokens - {_CONTEXT_WINDOW}, 0)) AS BIGINT)
         AS tokens_truncated,
       ROUND(SUM(GREATEST(n_tokens - {_CONTEXT_WINDOW}, 0)) * 1.0
             / SUM(n_tokens), 6) AS truncated_frac
FROM base
GROUP BY 1 ORDER BY 1
"""

register(doc_context_fit_report, _CONTEXT_FIT_SQL)


def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup report (new r10) — the RAG-index
    granularity of the dedup family: document-level dedup misses
    boilerplate that repeats ACROSS distinct documents, but a retrieval
    index built on 120-char chunks serves the same passage twice unless
    chunk-level duplicates are collapsed.  Composes the verified
    ``chunk_text`` window (120/100, the ``doc_chunks`` shape) with an
    md5 fingerprint groupBy: every chunk text occurring in ≥2 DISTINCT
    documents is reported with its spread.

    Scale shape: the chunk explode is a narrow per-row transform; the
    only shuffle keys on the uniform md5 fingerprint (the exact-dedup
    economics — no all-pairs anything); output is bounded by the
    duplicated-chunk vocabulary."""
    chunks = curation.chunk_text(_docs(spark, sf_dir), size=120, stride=100)
    return (
        chunks.select(
            "doc_id", F.md5(F.col("chunk")).alias("chunk_md5")
        )
        .groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_CHUNK_DEDUP_SQL = """
WITH chunks AS (
  SELECT doc_id,
         md5(substr(text, CAST(start AS INT) + 1, 120)) AS chunk_md5
  FROM documents,
       UNNEST(generate_series(
           0,
           CASE WHEN length(text) <= 120 THEN 0
                ELSE length(text) - 120 + 99 END,
           100)) AS t(start)
  WHERE length(substr(text, CAST(start AS INT) + 1, 120)) > 0
)
SELECT chunk_md5,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM chunks
GROUP BY 1
HAVING COUNT(DISTINCT doc_id) >= 2
"""

register(doc_chunk_dedup, _CHUNK_DEDUP_SQL)
