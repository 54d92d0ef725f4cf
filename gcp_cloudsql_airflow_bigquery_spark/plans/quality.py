r"""Data-quality and safety plans: PII redaction, Gopher-style
repetition stats, benchmark decontamination, sequence packing, table
profiling.  All five oracle-checked against DuckDB.

``doc_pii_redact`` injects deterministic synthetic PII (the fixture
corpus is clean word-salad) *inside the query on both engines* so the
redaction regexes are exercised with non-zero counts and the scrubbed
text is byte-compared via md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import curation, privacy, profiling, textstats
from ..operators.textstats import _NORM, _STOPLIST_SQL, _lang_list_sql
from . import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- PII redaction -------------------------------------------------------

def _inject_pii(df: DataFrame) -> DataFrame:
    """Append synthetic PII derived from doc_id: every doc an email,
    every 2nd a URL, every 3rd a phone, every 5th an IPv4."""
    sid = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid, F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" see http://ex"), sid, F.lit(".org/a"), sid),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" tel +1 (555) 010-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1"),
            ),
        ).otherwise(F.lit("")),
    )
    return df.select("doc_id", injected.alias("text"))


def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return privacy.redact_pii(_inject_pii(_docs(spark, sf_dir))).select(
        "doc_id",
        "n_email",
        "n_url",
        "n_ip",
        "n_phone",
        F.md5("redacted").alias("redacted_md5"),
        F.length("redacted").alias("redacted_len"),
    )


_INJECT_SQL = """
SELECT doc_id,
       text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            || CASE WHEN doc_id % 2 = 0
                    THEN ' see http://ex' || CAST(doc_id AS VARCHAR)
                         || '.org/a' || CAST(doc_id AS VARCHAR)
                    ELSE '' END
            || CASE WHEN doc_id % 3 = 0
                    THEN ' tel +1 (555) 010-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END
            || CASE WHEN doc_id % 5 = 0
                    THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                    ELSE '' END AS text
FROM documents
"""

_PII_SQL = f"""
WITH t0 AS ({_INJECT_SQL}),
t1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '{privacy.EMAIL_RE}')) AS n_email,
              regexp_replace(text, '{privacy.EMAIL_RE}', '<EMAIL>', 'g') AS text
       FROM t0),
t2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(text, '{privacy.URL_RE}')) AS n_url,
              regexp_replace(text, '{privacy.URL_RE}', '<URL>', 'g') AS text
       FROM t1),
t3 AS (SELECT doc_id, n_email, n_url,
              len(regexp_extract_all(text, '{privacy.IPV4_RE}')) AS n_ip,
              regexp_replace(text, '{privacy.IPV4_RE}', '<IP>', 'g') AS text
       FROM t2),
t4 AS (SELECT doc_id, n_email, n_url, n_ip,
              len(regexp_extract_all(text, '{privacy.PHONE_RE}')) AS n_phone,
              regexp_replace(text, '{privacy.PHONE_RE}', '<PHONE>', 'g') AS text
       FROM t3)
SELECT doc_id, n_email, n_url, n_ip, n_phone,
       md5(text) AS redacted_md5, length(text) AS redacted_len
FROM t4
"""


# --- repetition / Gopher quality signals ---------------------------------

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no orderBy: the driver compare is order-insensitive, and a sort
    # here would make the range-partition sampler evaluate the whole
    # narrow stats projection twice (measured 2× at sf0.1)
    return textstats.repetition_stats(_docs(spark, sf_dir))


# normalized words ≡ textstats.normalize_text + tokens
_WORDS = (
    "regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)

_REPETITION_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
g AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                            i -> words[i] || ' ' || words[i + 1]) AS grams2,
             list_transform(generate_series(1, greatest(len(words) - 4, 0)),
                            i -> array_to_string(words[i : i + 4], ' ')) AS grams5
      FROM w),
ex AS (SELECT doc_id, len(grams5) AS n_grams5,
              len(list_distinct(grams5)) AS n_distinct5,
              unnest(grams2) AS gram
       FROM g),
c AS (SELECT doc_id, gram, COUNT(*) AS c,
             any_value(n_grams5) AS n_grams5, any_value(n_distinct5) AS n_distinct5
      FROM ex GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       MAX(c) AS top_bigram_n,
       ROUND(MAX(c) / SUM(c), 6) AS top_bigram_frac,
       any_value(n_grams5) AS n_grams5,
       ROUND((any_value(n_grams5) - any_value(n_distinct5))
             / greatest(any_value(n_grams5), 1), 6) AS dup5_frac
FROM c GROUP BY doc_id ORDER BY doc_id
"""


# --- benchmark decontamination -------------------------------------------

def doc_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs sharing ≥1 distinct 8-gram with the held-out test
    split (the eval-leak audit; drop these before training)."""
    docs = curation.assign_splits(_docs(spark, sf_dir))
    train = docs.filter(F.col("split") == "train")
    bench = docs.filter(F.col("split") == "test")
    return curation.decontaminate(train, bench, n=8).orderBy("doc_id")


_SPLIT_CASE = """
CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
          ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
     ELSE 'test' END
"""

_DECONTAM_SQL = f"""
WITH s AS (SELECT doc_id, {_WORDS} AS words, {_SPLIT_CASE} AS split
           FROM documents),
g AS (SELECT doc_id, split,
             list_distinct(list_transform(
                 generate_series(1, greatest(len(words) - 7, 0)),
                 i -> array_to_string(words[i : i + 7], ' '))) AS grams
      FROM s),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE split = 'test'),
train AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE split = 'train')
SELECT train.doc_id, COUNT(*) AS n_shared
FROM train JOIN bench USING (gram)
GROUP BY train.doc_id ORDER BY train.doc_id
"""


def doc_decontaminated_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate eval-leak audit: training docs whose 5-gram
    Jaccard to any single test-split item reaches 0.5 — paraphrase-
    level contamination the exact 8-gram count misses
    (``operators/curation.decontaminate_fuzzy``).  5-grams, not 3:
    the fixtures' small vocabulary makes 3-grams collide across
    unrelated docs (measured 2303 candidate pairs vs 6 at n=5 for the
    IDENTICAL contamination hit set — gram specificity is the knob
    that keeps the intersection shuffle proportional to true overlap)."""
    docs = curation.assign_splits(_docs(spark, sf_dir))
    train = docs.filter(F.col("split") == "train")
    bench = docs.filter(F.col("split") == "test")
    return curation.decontaminate_fuzzy(
        train, bench, threshold=0.5, shingle_n=5, parallelism=32
    )


_DECONTAM_FUZZY_SQL = f"""
WITH s AS (SELECT doc_id, {_WORDS} AS words, {_SPLIT_CASE} AS split
           FROM documents),
g AS (SELECT doc_id, split,
             list_distinct(list_transform(
                 generate_series(1, greatest(len(words) - 4, 0)),
                 i -> array_to_string(words[i : i + 4], ' '))) AS grams
      FROM s),
train AS (SELECT doc_id, len(grams) AS n_t, unnest(grams) AS gram
          FROM g WHERE split = 'train'),
bench AS (SELECT doc_id AS bench_id, len(grams) AS n_b, unnest(grams) AS gram
          FROM g WHERE split = 'test'),
inter AS (
  SELECT t.doc_id, b.bench_id, t.n_t, b.n_b, COUNT(*) AS inter
  FROM train t JOIN bench b USING (gram)
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT doc_id, bench_id,
         ROUND(CAST(inter AS DOUBLE) / (n_t + n_b - inter), 6) AS jaccard
  FROM inter
),
best AS (
  SELECT doc_id, bench_id AS best_match, jaccard,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY jaccard DESC, bench_id) AS rn
  FROM scored WHERE jaccard >= 0.5
)
SELECT doc_id, best_match, jaccard FROM best WHERE rn = 1
"""


# --- sequence packing ------------------------------------------------------

_PACK_BUDGET = 512


def doc_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, bin) packing audit at a 512-token budget: how many
    docs and tokens each concatenated model window holds."""
    packed = curation.pack_bins(_docs(spark, sf_dir), budget=_PACK_BUDGET)
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


_PACK_SQL = f"""
WITH t AS (SELECT source, doc_id,
                  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
           FROM documents),
r AS (SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
      FROM t)
SELECT source,
       CAST(FLOOR(tok_start / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM r GROUP BY source, bin_id ORDER BY source, bin_id
"""


# --- table profiling -------------------------------------------------------

def _dec(c: Column) -> Column:
    return c.cast("decimal(18,2)").cast("string")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value profile of ``orders`` — the post-extract validation the
    reference never runs (it only introspects INFORMATION_SCHEMA
    *types*, reference ``dags/cloudsql_to_bigquery.py:141``)."""
    orders = load_table(spark, sf_dir, "orders")
    return profiling.profile_table(
        orders,
        exact_distinct=True,
        render={"o_totalprice": _dec},
    )


def _profile_col_sql(col: str, render: str) -> str:
    return f"""
SELECT '{col}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({col}) AS n_nulls,
       COUNT(DISTINCT {col}) AS n_distinct,
       CAST({render.format(expr=f"MIN({col})")} AS VARCHAR) AS min_value,
       CAST({render.format(expr=f"MAX({col})")} AS VARCHAR) AS max_value
FROM orders
"""


_PROFILE_SQL = " UNION ALL ".join(
    _profile_col_sql(c, r)
    for c, r in [
        ("o_orderkey", "{expr}"),
        ("o_custkey", "{expr}"),
        ("o_orderstatus", "{expr}"),
        ("o_totalprice", "CAST({expr} AS DECIMAL(18,2))"),
        ("o_orderdate", "{expr}"),
        ("o_orderpriority", "{expr}"),
    ]
)


# --- unicode cleaning (pandas-UDF path) ----------------------------------

def doc_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization + control-char strip via the Arrow-batched
    pandas UDF (`textstats.nfc_clean_udf`) — the sanctioned Python path
    for the one text op Spark SQL can't express.  Unicode is injected
    in-query on both engines (combining accent, ﬁ-ligature, C0/C1
    controls) since the fixture corpus is ASCII; outputs are md5/length
    of the cleaned text, byte-compared against DuckDB's
    ``nfc_normalize`` + regexp strip."""
    injected = F.concat(
        F.col("text"),
        F.lit(" café ﬁne \x07ctl \x9f"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("Åring")).otherwise(F.lit("")),
    )
    clean = textstats.nfc_clean_udf()(injected)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.length(clean).alias("clean_len"),
    )


_UNICODE_SQL = r"""
WITH t AS (
  SELECT doc_id,
         text || ' cafe' || chr(769) || ' ' || chr(64257) || 'ne ' || chr(7)
              || 'ctl ' || chr(159)
              || CASE WHEN doc_id % 3 = 0 THEN 'A' || chr(778) || 'ring'
                      ELSE '' END AS text
  FROM documents
), c AS (
  SELECT doc_id,
         regexp_replace(nfc_normalize(text),
                        '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g') AS clean
  FROM t
)
SELECT doc_id, md5(clean) AS clean_md5, CAST(length(clean) AS INT) AS clean_len
FROM c
"""


# --- end-to-end curation funnel ------------------------------------------

def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as one audited funnel — raw corpus →
    C4-style quality gate → exact dedup (canonical per content hash) →
    benchmark decontamination of the train/val portion → final split
    sizes.  One row per stage with surviving doc counts: the report a
    data curator signs off before a training run.

    Composition of the individually-oracle-checked stages; every stage
    reuses the operator modules (never re-implements a gate), so this
    is also a regression net across operator boundaries.

    Single-pass shape: one scan computes per-doc flags (gate pass,
    canonical-within-survivors via a conditional-partition window,
    contaminated via the broadcast gram probe), ONE per-split
    aggregation folds them to ≤3 rows, and every stage row is derived
    from that tiny frame — vs the naive one-subplan-per-stage union
    that re-scans the corpus five times (measured ~2.5× slower)."""
    from pyspark.sql import Window

    from ..operators.textstats import (
        detect_lang,
        fingerprint_md5,
        quality_score,
        token_count,
    )

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    passed = (
        (detect_lang(t) == "en")
        & (quality_score(t) >= 0.5)
        & token_count(t).between(5, 5000)
    )
    scored = curation.assign_splits(docs).select(
        "doc_id", "text", "split", passed.alias("passed")
    )
    # survivors partition by content hash; failed docs get a unique key
    # so the window never mixes them in
    hp = F.when(F.col("passed"), fingerprint_md5(F.col("text"))).otherwise(F.concat(F.lit("u"), F.col("doc_id")))
    wh = Window.partitionBy("hp")
    flagged = scored.withColumn("hp", hp).withColumn(
        "canonical",
        F.col("passed")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("passed"), F.col("doc_id"))).over(wh)
        ),
    )
    bench = scored.filter(F.col("split") == "test").select("doc_id", "text")
    tv = flagged.filter(F.col("canonical") & (F.col("split") != "test")).select(
        "doc_id", "text"
    )
    contaminated = curation.decontaminate(tv, bench, n=8).select(
        "doc_id", F.lit(True).alias("contaminated")
    )
    clean_flag = F.col("canonical") & (
        (F.col("split") == "test") | ~F.coalesce("contaminated", F.lit(False))
    )
    per_split = (
        flagged.join(contaminated, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_raw"),
            F.sum(F.col("passed").cast("long")).alias("n_quality"),
            F.sum(F.col("canonical").cast("long")).alias("n_dedup"),
            F.sum(clean_flag.cast("long")).alias("n_clean"),
        )
        # both output branches (stage totals + per-split rows) read this
        # ≤3-row frame; cut it here so the corpus pass runs exactly once
        .localCheckpoint(eager=False)
    )
    totals = per_split.agg(
        F.sum("n_raw").alias("r"),
        F.sum("n_quality").alias("q"),
        F.sum("n_dedup").alias("d"),
        F.sum("n_clean").alias("c"),
    ).select(
        F.inline(
            F.array(
                F.struct(F.lit("1_raw").alias("stage"), F.col("r").alias("n_docs")),
                F.struct(
                    F.lit("2_quality").alias("stage"), F.col("q").alias("n_docs")
                ),
                F.struct(
                    F.lit("3_exact_dedup").alias("stage"), F.col("d").alias("n_docs")
                ),
                F.struct(
                    F.lit("4_decontaminated").alias("stage"),
                    F.col("c").alias("n_docs"),
                ),
            )
        )
    )
    return totals.unionAll(
        per_split.select(
            F.concat(F.lit("5_"), F.col("split")).alias("stage"),
            F.col("n_clean").alias("n_docs"),
        )
    )


def _funnel_sql() -> str:
    gmax = "GREATEST(s_en, s_de, s_es, s_fr)"
    grams8 = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(len(w) - 7, 0)), "
        "i -> array_to_string(w[i : i + 7], ' ')))"
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_tok,
         len(list_filter(w, x -> x IN ('{_STOPLIST_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("en")}'))) AS s_en,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("de")}'))) AS s_de,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("es")}'))) AS s_es,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("fr")}'))) AS s_fr
  FROM toks
), q AS (
  SELECT doc_id, n_tok,
         ROUND(LEAST(n_tok / 50.0, 1.0) * 0.5 +
               GREATEST(0.0, 1.0 - (CASE WHEN n_chars > 0
                                         THEN n_punct / n_chars
                                         ELSE 0.0 END) * 5) * 0.25 +
               LEAST((CASE WHEN n_tok > 0
                           THEN n_stop / n_tok
                           ELSE 0.0 END) * 4, 1.0) * 0.25, 6) AS quality,
         CASE WHEN {gmax} = 0 THEN 'und'
              WHEN s_en = {gmax} THEN 'en'
              WHEN s_de = {gmax} THEN 'de'
              WHEN s_es = {gmax} THEN 'es'
              ELSE 'fr' END AS det_lang
  FROM m
), kept AS (
  SELECT doc_id FROM q
  WHERE det_lang = 'en' AND quality >= 0.5 AND n_tok BETWEEN 5 AND 5000
), deduped AS (
  SELECT d.doc_id FROM documents d JOIN kept USING (doc_id)
  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5({_NORM}))
), splits AS (
  SELECT doc_id, {_SPLIT_CASE} AS split FROM documents
), words AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
), bgrams AS (
  SELECT DISTINCT unnest({grams8}) AS gram
  FROM words JOIN splits USING (doc_id) WHERE split = 'test'
), dgrams AS (
  SELECT doc_id, unnest({grams8}) AS gram
  FROM words
  WHERE doc_id IN (SELECT doc_id FROM deduped)
    AND doc_id IN (SELECT doc_id FROM splits WHERE split <> 'test')
), contaminated AS (
  SELECT DISTINCT doc_id FROM dgrams JOIN bgrams USING (gram)
), clean AS (
  SELECT d.doc_id, s.split
  FROM deduped d JOIN splits s USING (doc_id)
  WHERE s.split = 'test'
     OR d.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT '1_raw' AS stage, COUNT(*) AS n_docs FROM documents
UNION ALL SELECT '2_quality', COUNT(*) FROM kept
UNION ALL SELECT '3_exact_dedup', COUNT(*) FROM deduped
UNION ALL SELECT '4_decontaminated', COUNT(*) FROM clean
UNION ALL SELECT '5_' || split, COUNT(*) FROM clean GROUP BY split
"""


register(doc_pii_redact, _PII_SQL)
register(doc_repetition, _REPETITION_SQL)
register(doc_decontaminated, _DECONTAM_SQL)
register(doc_decontaminated_fuzzy, _DECONTAM_FUZZY_SQL)
register(doc_packed_bins, _PACK_SQL)
register(table_profile, _PROFILE_SQL)
register(corpus_funnel, _funnel_sql())
register(doc_unicode_clean, _UNICODE_SQL)


def doc_gopher_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality report (word-count / mean-word-length /
    alphabetic-word-fraction / required-stopword rules), one row per
    doc with per-rule booleans and the overall keep flag
    (``operators/textstats.gopher_report``).  ``min_required_hits=1``
    here: the synthetic corpus vocabulary contains only one of
    Gopher's eight required words, so the published threshold of 2
    would be all-false (non-discriminative); the operator default
    keeps the paper's value."""
    return textstats.gopher_report(_docs(spark, sf_dir), min_required_hits=1)


_GOPHER_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         ROUND(CASE WHEN len(w) > 0 THEN
           list_sum(list_transform(w, x -> CAST(len(x) AS DOUBLE))) / len(w)
         END, 6) AS mean_word_len,
         ROUND(CASE WHEN len(w) > 0 THEN
           CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w)
         END, 6) AS alpha_word_frac,
         len(list_filter(['the','be','to','of','and','that','have','with'],
                         s -> list_contains(w, s))) AS required_word_hits
  FROM t
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, required_word_hits,
       n_words BETWEEN 50 AND 100000 AS ok_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
       alpha_word_frac >= 0.8 AS ok_alpha_frac,
       required_word_hits >= 1 AS ok_required_words,
       (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND alpha_word_frac >= 0.8 AND required_word_hits >= 1 AS keep
FROM m
"""

register(doc_gopher_report, _GOPHER_SQL)


def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style learned quality filter, end to end: train a
    distributed Newton logistic regression (``operators/linalg
    .logistic_fit`` — per-batch X'WX / X'(y-p) partials via Arrow, one
    tiny d^2 aggregation per iteration, driver-side 4x4 solve) to
    predict the language-ID label from surface quality features, then
    score every document with a pure Catalyst sigmoid expression
    (``logistic_score`` — whole-stage codegen, zero Python at
    inference).  Hash-checked since round 6: the Newton solve is a
    FIXED-iteration recurrence over SUM-aggregable (d+1)^2 moments, so
    the DuckDB oracle replays all 8 rounds as unrolled CTEs with the
    4x4 Newton system solved in closed form via Cramer's rule
    (``_classifier_oracle`` — the same unrolled-replay trick as
    k-means/PageRank/BPE).  Cross-engine float drift is ~1e-12 on the
    converged betas vs the 1e-6 score rounding, so the value hash is
    stable; separability/monotonicity of the fit stay unit-tested
    (tests/test_llmdata.py).  At 100 TB the training pass stays
    d^2-per-batch and inference is a free column expression over the
    corpus scan."""
    from ..operators.linalg import logistic_fit, logistic_score

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    feats = d.select(
        "doc_id",
        textstats.stopword_ratio(t).alias("stop_ratio"),
        textstats.punct_ratio(t).alias("punct_ratio"),
        (F.length(t) / F.greatest(textstats.token_count(t), F.lit(1))).alias(
            "mean_tok_len"
        ),
        (textstats.detect_lang(t) == "en").cast("double").alias("is_en"),
    )
    beta = logistic_fit(
        feats, ["stop_ratio", "punct_ratio", "mean_tok_len"], "is_en", n_iter=8
    )
    return logistic_score(
        feats, ["stop_ratio", "punct_ratio", "mean_tok_len"], beta
    ).select("doc_id", F.col("is_en").cast("int").alias("label"), "score")


def _classifier_oracle(n_iter: int = 8, ridge: float = 1e-6) -> str:
    """Unrolled DuckDB replay of ``doc_quality_classifier``: the same
    feature SQL fragments as the other quality oracles, then per Newton
    round one moments CTE (the ten upper-triangle X'WX sums plus the
    four X'(y-p) score sums — exactly what the Arrow batches emit) and
    one beta CTE solving the ridge-damped 4x4 system in closed form by
    Cramer's rule (five Leibniz determinant expansions, 24 terms each,
    generated below).  Spark's early-stop (step < 1e-10) needs no
    replay: once converged the remaining steps perturb beta below the
    1e-6 score rounding."""
    from itertools import permutations

    d = 4
    gmax = "GREATEST(s_en, s_de, s_es, s_fr)"

    def sign(p: tuple[int, ...]) -> int:
        inv = sum(
            1
            for i in range(len(p))
            for j in range(i + 1, len(p))
            if p[i] > p[j]
        )
        return -1 if inv % 2 else 1

    def mat(i: int, j: int) -> str:
        i, j = min(i, j), max(i, j)
        return f"(m.h{i}{j} + {ridge!r})" if i == j else f"m.h{i}{j}"

    def det(col_replaced: int | None) -> str:
        terms = []
        for p in permutations(range(d)):
            factors = [
                f"m.g{k}" if p[k] == col_replaced else mat(k, p[k])
                for k in range(d)
            ]
            s = "+" if sign(p) == 1 else "-"
            terms.append(f"{s} {' * '.join(factors)}")
        return " ".join(terms)

    x = ["1.0", "f1", "f2", "f3"]
    moments = ", ".join(
        f"SUM(p * (1.0 - p) * {x[i]} * {x[j]}) AS h{i}{j}"
        for i in range(d)
        for j in range(i, d)
    )
    scores = ", ".join(
        f"SUM((y - p) * {x[i]}) AS g{i}" for i in range(d)
    )
    z_prev = "b.b0 + b.b1 * f1 + b.b2 * f2 + b.b3 * f3"
    rounds = []
    for r in range(1, n_iter + 1):
        rounds.append(f"""mom{r} AS MATERIALIZED (
  SELECT {moments}, {scores}
  FROM (SELECT f1, f2, f3, y,
               1.0 / (1.0 + exp(-({z_prev}))) AS p
        FROM feats, beta{r - 1} b) t
),
beta{r} AS MATERIALIZED (
  SELECT b.b0 + ({det(0)}) / ({det(None)}) AS b0,
         b.b1 + ({det(1)}) / ({det(None)}) AS b1,
         b.b2 + ({det(2)}) / ({det(None)}) AS b2,
         b.b3 + ({det(3)}) / ({det(None)}) AS b3
  FROM mom{r} m, beta{r - 1} b
)""")
    body = ",\n".join(rounds)
    return rf"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_tok,
         len(list_filter(w, x -> x IN ('{_STOPLIST_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("en")}'))) AS s_en,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("de")}'))) AS s_de,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("es")}'))) AS s_es,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("fr")}'))) AS s_fr
  FROM toks
), feats AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS f1,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS f2,
         n_chars / GREATEST(n_tok, 1) AS f3,
         CASE WHEN {gmax} > 0 AND s_en = {gmax} THEN 1.0 ELSE 0.0 END AS y
  FROM m
),
beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),
{body}
SELECT doc_id, CAST(y AS INTEGER) AS label,
       ROUND(1.0 / (1.0 + exp(-({z_prev}))), 6) AS score
FROM feats, beta{n_iter} b
"""


register(doc_quality_classifier, _classifier_oracle())


def doc_quality_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation (new r7): the ROC AUC of the surface
    quality heuristic (``textstats.quality_score``) as a ranker for the
    English-language label — the standard "does my cheap filter score
    actually separate the classes" check run before spending a
    training pass on a learned classifier
    (``doc_quality_classifier``).  AUC is computed exactly via the
    tie-averaged Mann-Whitney rank sum: group documents by score,
    cumulative counts over the ORDERED score groups give each tie
    group its average rank, and ``AUC = (ranksum_pos - n_pos(n_pos+1)/2)
    / (n_pos * n_neg)``.

    Scale shape: one hash aggregation by score over the corpus, then
    the ordered window runs over the SCORE-GROUP frame — the quality
    score is quantized to 6 decimals in [0, 1], so that frame is
    bounded at ~1e6 rows regardless of corpus size (the documented
    justification for the unpartitioned window).  Every product
    ``pos * avg_rank`` is an exact multiple of 0.5 below 2^52, so the
    rank sum is FP-exact in both engines and the hash needs no
    drift allowance."""
    from pyspark.sql import Window

    t = F.col("text")
    scored = load_table(spark, sf_dir, "documents").select(
        textstats.quality_score(t).alias("score"),
        (textstats.detect_lang(t) == "en").cast("int").alias("y"),
    )
    g = scored.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    r = g.withColumn(
        "avg_rank",
        F.sum("cnt").over(wc) - F.col("cnt") + (F.col("cnt") + 1) / 2.0,
    )
    return r.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n_neg"),
        F.round(
            (
                F.sum(F.col("pos") * F.col("avg_rank"))
                - F.sum("pos") * (F.sum("pos") + 1) / 2.0
            )
            / (F.sum("pos") * F.sum(F.col("cnt") - F.col("pos"))),
            6,
        ).alias("auc"),
    )


def _score_label_prefix() -> str:
    """Shared oracle CTE prefix producing ``sc(score, y)`` — the
    (quality score, is-English label) frame both ranking evals
    (AUC, calibration) replay.  Kept as one string so the two oracles
    can never drift apart."""
    gmax = "GREATEST(s_en, s_de, s_es, s_fr)"
    return rf"""toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_tok,
         len(list_filter(w, x -> x IN ('{_STOPLIST_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("en")}'))) AS s_en,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("de")}'))) AS s_de,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("es")}'))) AS s_es,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("fr")}'))) AS s_fr
  FROM toks
), sc AS (
  SELECT ROUND(LEAST(n_tok / 50.0, 1.0) * 0.5 +
               GREATEST(0.0, 1.0 - (CASE WHEN n_chars > 0
                   THEN n_punct / n_chars ELSE 0.0 END) * 5) * 0.25 +
               LEAST((CASE WHEN n_tok > 0
                   THEN n_stop / n_tok ELSE 0.0 END) * 4, 1.0) * 0.25,
               6) AS score,
         CASE WHEN {gmax} > 0 AND s_en = {gmax} THEN 1 ELSE 0 END AS y
  FROM m
)"""


def _auc_oracle() -> str:
    return f"""
WITH {_score_label_prefix()}, g AS (
  SELECT score, COUNT(*) AS cnt, SUM(y) AS pos FROM sc GROUP BY 1
), r AS (
  SELECT score, cnt, pos,
         SUM(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
           - cnt + (cnt + 1) / 2.0 AS avg_rank
  FROM g
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
       ROUND((SUM(pos * avg_rank) - SUM(pos) * (SUM(pos) + 1) / 2.0)
             / (SUM(pos) * SUM(cnt - pos)), 6) AS auc
FROM r
"""


register(doc_quality_auc_eval, _auc_oracle())


def doc_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability analysis (new r8): treat the surface
    quality heuristic (already in [0, 1]) as a probability of the
    English-language label and report, per decile bin, the count, mean
    prediction, observed positive fraction, and the bin's Brier
    (squared-error) mass — the reliability-diagram companion to
    ``doc_quality_auc_eval`` (AUC measures ranking; calibration
    measures whether 0.7 MEANS 70%).  ``sum(sq_err)/sum(n)`` over the
    10 rows is the corpus Brier score.

    Scale shape: one map-side-combined aggregation by decile bin (10
    groups) over the scored corpus — no window, no join, one shuffle
    of 10-row partials.  Binning multiplies the same rounded-6 score
    doubles by 10 and floors in BOTH engines, so bucket assignment is
    bit-identical cross-engine; avg/sum outputs are round-6/round-4
    absorbed."""
    t = F.col("text")
    scored = load_table(spark, sf_dir, "documents").select(
        textstats.quality_score(t).alias("score"),
        (textstats.detect_lang(t) == "en").cast("int").alias("y"),
    )
    b = scored.withColumn(
        "bin", F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long")
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("avg_pred"),
        F.round(F.avg(F.col("y").cast("double")), 6).alias("frac_pos"),
        F.round(
            F.sum(F.pow(F.col("score") - F.col("y"), F.lit(2))), 4
        ).alias("sq_err_sum"),
    )


def _calibration_oracle() -> str:
    return f"""
WITH {_score_label_prefix()}, b AS (
  SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin, score, y
  FROM sc
)
SELECT bin, COUNT(*)::BIGINT AS n,
       ROUND(AVG(score), 6) AS avg_pred,
       ROUND(AVG(CAST(y AS DOUBLE)), 6) AS frac_pos,
       ROUND(SUM(POWER(score - y, 2)), 4) AS sq_err_sum
FROM b GROUP BY 1
"""


register(doc_quality_calibration, _calibration_oracle())


def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring (new r7): the classic readability
    gate ``206.835 - 1.015*(words/sentences) - 84.6*(syllables/word)``
    with the standard cheap proxies — sentences = runs of ``[.!?]``
    (floored at 1), syllables = vowel-group count per the usual
    heuristic — one more surface-quality signal for the curation
    stack alongside the stopword/punctuation/length gates.

    Scale shape: three regexp counters per row, all whole-stage
    codegen, zero shuffles, zero UDFs.  Every input to the score is an
    integer count, so the arithmetic is deterministic cross-engine
    under the 1e-4 rounding."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    words = textstats.token_count(t)
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    syll = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), 0)
    )
    return d.filter(words > 0).select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - 1.015 * (words / sents)
            - 84.6 * (syll / words),
            4,
        ).alias("flesch"),
    )


_READABILITY_SQL = r"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
             - 84.6 * (n_syllables * 1.0 / n_words), 4) AS flesch
FROM m WHERE n_words > 0
"""

register(doc_readability, _READABILITY_SQL)
