r"""LLM-data-pipeline plans over ``documents``/``embeddings``
(SURVEY.md §7 M4): dedup, similarity search, text analysis.

Oracle-checkable entries mirror their operators in portable SQL (md5 is
hex-identical across engines; shingle/token constructions replicated
with DuckDB list lambdas).  Engine-specific-hash ops (MinHash/SimHash
xxhash64, LSH buckets) are rows-only here and property-tested in
``tests/test_llmdata.py`` against exact baselines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup, profiling, similarity, textstats
from ..operators.textstats import _NORM, _STOPLIST_SQL, _lang_list_sql
from . import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# SQL fragment mirroring dedup.word_shingles(text, 3) on normalized text
_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(w)-2, 0)), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)


# --- dedup -----------------------------------------------------------------

def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


_DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM}) AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def doc_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard pairs (>= 0.5) via MinHash-LSH candidates + exact
    verify rather than the corpus-wide inverted-index self-join.
    16 bands x 2 rows: candidate probability 1-(1-J^2)^16 (0.99 at the
    0.5 threshold, ~1 above it), and the 2-slot band key avoids the
    hot-bucket blowup of 1-row banding, where every document sharing
    one globally-minimal shingle hash lands in a single bucket
    (measured 150x the candidate count at sf0.1).  Output equals the
    exact form on the fixtures (the oracle SQL below hash-matches, and
    ``dedup.ngram_jaccard_pairs`` stays as the test oracle; equality is
    asserted in tests/test_llmdata.py)."""
    return dedup.minhash_near_dups(
        _docs(spark, sf_dir), threshold=0.5, num_hashes=32, bands=16
    )


_DEDUP_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
sizes AS (SELECT id, len(sh) AS n_sh FROM nonempty),
inv AS (SELECT id, unnest(sh) AS shingle FROM nonempty),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
"""


def doc_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (rows-only: xxhash64 signatures are
    engine-specific; recall vs exact Jaccard is property-tested, and
    ``doc_dedup_minhash_portable`` hash-verifies the identical
    banding/verify pipeline cross-engine)."""
    return dedup.minhash_near_dups(_docs(spark, sf_dir), threshold=0.5)


def doc_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same MinHash+LSH pipeline with portable md5-derived 60-bit
    hashes (``dedup.md5_hash60/_seeded``) in the shingle index and
    signature slots, so the DuckDB oracle replays the ENTIRE pipeline —
    shingling, 32 signature slots, 8-band bucketing, candidate join,
    exact-Jaccard verify — value for value.  The xxhash64 twin above
    stays the scale/bench path (no md5 or string materialization per
    shingle)."""
    return dedup.minhash_near_dups(
        _docs(spark, sf_dir), threshold=0.5, portable=True
    )


_DEDUP_MINHASH_PORTABLE_SQL = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
inv AS (
  SELECT id, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS shingle
  FROM nonempty
),
slots AS (SELECT unnest(range(0, 32)) AS i),
sig AS (
  SELECT id, i,
         MIN(('0x' || substr(md5(i::VARCHAR || ':' || shingle::VARCHAR), 1, 15))::BIGINT) AS h
  FROM inv, slots GROUP BY 1, 2
),
banded AS (
  SELECT id, i // 4 AS band, STRING_AGG(h::VARCHAR, ',' ORDER BY i) AS bucket
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM inv GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cand c
  JOIN inv a ON a.id = c.id_a
  JOIN inv b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
"""


def doc_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup over a portable 60-bit md5-derived token hash
    (``dedup.md5_hash60``) so the full pipeline — token hash, bit
    votes, signature, 4×15-bit banding, Hamming verify — is replayed
    exactly by the DuckDB oracle.  The xxhash64 default stays the
    scale path (one fewer string pass); the banding/verify plan is
    identical."""
    return dedup.simhash_near_dups(
        _docs(spark, sf_dir),
        max_distance=3,
        bits=60,
        hash_fn=dedup.md5_hash60,
    )


_DEDUP_SIMHASH_SQL = rf"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
toks AS (
  SELECT doc_id AS id, unnest(string_split(norm, ' ')) AS w
  FROM n WHERE norm <> ''
),
h AS (SELECT id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
votes AS (
  SELECT id, b.i AS b,
         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, (SELECT unnest(range(0, 60)) AS i) b
  GROUP BY 1, 2
),
sig AS (
  SELECT id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY id
),
banded AS (
  SELECT id, sig, t.b AS band, (sig >> (t.b * 15)) & 32767 AS key
  FROM sig, (SELECT unnest(range(0, 4)) AS b) t
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= 3
"""


# --- similarity search -----------------------------------------------------

def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, k=10)


_KNN_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e, v.e) /
               (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(v.e, v.e))),
               6) AS cosine
  FROM q JOIN v ON q.vec_id != v.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH candidates + exact-cosine
    verify (:func:`similarity.lsh_neardup_pairs`) — the corpus never
    pays an all-pairs join.

    The fixture corpus is random-ish (no organic pair above cosine
    0.5), so — like the PII oracle's in-query injection — the query
    plants exact-direction duplicates (each subset vector rescaled
    ×2.0 under a shifted id) before deduping at the real near-dup
    threshold 0.95.  That makes the hash match against the exact
    all-pairs SQL *deterministic*: a planted copy shares every
    hyperplane sign bit with its original, so it collides in every
    table (recall 1 by construction, not 1-ε), and verification is
    exact so precision is 1.  Loose thresholds (≲0.7) are not angular
    LSH territory — the exact :func:`similarity.cosine_neardup_pairs`
    subset path covers that regime (tests/test_llmdata.py)."""
    base = _emb(spark, sf_dir).filter(F.col("vec_id") % 20 == 0)
    planted = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias(
            "embedding"
        ),
        *[c for c in base.columns if c not in ("vec_id", "embedding")],
    )
    return similarity.lsh_neardup_pairs(
        base.unionByName(planted),
        threshold=0.95,
        num_planes=4,
        num_tables=16,
    )


def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus with planted exact-direction
    duplicates (same injection trick as :func:`embedding_neardup`):
    k-means cells bound the pair space, within-cell cosine ≥ 0.95
    drops the larger id.  A scaled copy has identical centroid dots,
    so it deterministically lands in its original's cell and is
    dropped — asserted in tests/test_llmdata.py.  Hash-checked: the
    deterministic k-means codebook is replayed by the oracle's
    unrolled Lloyd-round CTEs (``_kmeans_ctes``), then cell
    assignment, within-cell cosine pairs, and the keep verdict."""
    base = _emb(spark, sf_dir).filter(F.col("vec_id") % 20 == 0)
    planted = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias(
            "embedding"
        ),
        *[c for c in base.columns if c not in ("vec_id", "embedding")],
    )
    return similarity.semantic_dedup(
        base.unionByName(planted), threshold=0.95, n_centroids=8
    )


def _kmeans_ctes(k: int, iters: int = 2) -> str:
    """Unrolled-CTE DuckDB replay of ``similarity.ivf_build`` over a
    prior CTE ``v(id, vec DOUBLE[])``: normalize, init from the ``k``
    smallest ids, then per Lloyd round argmax-assign (first-max
    tie-break like ``array_position``) and re-average + re-normalize
    with empty cells keeping their old centroid.  Produces ``vn`` and
    the final centroid table ``c{iters}``."""
    parts = [
        "vn AS MATERIALIZED (SELECT id,"
        " list_transform(vec, x -> x / sqrt(list_dot_product(vec, vec))) AS nv,"
        " vec FROM v)",
        f"c0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1"
        f" AS cluster, nv AS c FROM vn ORDER BY id LIMIT {k})",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT id, nv, cluster FROM (
    SELECT vn.id, vn.nv, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS rn
    FROM vn, c{i - 1} c) WHERE rn = 1
)""")
        parts.append(f"""m{i} AS MATERIALIZED (
  SELECT cluster, list(m ORDER BY pos) AS mc FROM (
    SELECT cluster, pos, AVG(x) AS m FROM (
      SELECT a.cluster, generate_subscripts(a.nv, 1) AS pos,
             unnest(a.nv) AS x FROM a{i} a)
    GROUP BY 1, 2) GROUP BY cluster
)""")
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT p.cluster,
         CASE WHEN m.mc IS NULL THEN p.c
              ELSE list_transform(m.mc,
                     x -> x / sqrt(list_dot_product(m.mc, m.mc))) END AS c
  FROM c{i - 1} p LEFT JOIN m{i} m USING (cluster)
)""")
    return ",\n".join(parts)


# embedding_semantic_dedup's oracle: the unrolled k-means replay (k=8)
# over the planted-duplicate input, then within-cell cosine pairs and
# the smallest-id-canonical keep verdict.
_SEMANTIC_DEDUP_SQL = f"""
WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE vec_id % 20 = 0),
v AS (SELECT id, vec FROM base
      UNION ALL
      SELECT id + 1000000, list_transform(vec, x -> x * 2.0) FROM base),
{_kmeans_ctes(8, 2)},
assign AS MATERIALIZED (
  SELECT id, vec, cluster FROM (
    SELECT vn.id, vn.vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS rn
    FROM vn, c2 c) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.id
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.id < b.id
  WHERE ROUND(list_dot_product(a.vec, b.vec) /
              (SQRT(list_dot_product(a.vec, a.vec)) *
               SQRT(list_dot_product(b.vec, b.vec))), 6) >= 0.95
)
SELECT a.id, a.cluster, d.id IS NULL AS keep
FROM assign a LEFT JOIN dropped d ON d.id = a.id
"""


_EMB_NEARDUP_SQL = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e
              FROM embeddings WHERE vec_id % 20 = 0),
v AS (SELECT vec_id, e FROM base
      UNION ALL
      SELECT vec_id + 1000000, list_transform(e, x -> x * 2.0) FROM base)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e) /
             (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))),
             6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e) /
            (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))),
            6) >= 0.95
"""


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH.  Hash-checkable: the hyperplanes
    are seeded splitmix64 constants (``similarity._hyperplane``), so the
    oracle inlines the identical plane literals and replays bucketing
    (sign of plane dot, bit-packed), the bucket join, and the exact
    cosine rerank.  Sign parity across engines is not luck: measured
    max cross-engine dot drift is ~7e-16 while the smallest |dot| on
    the fixture is ~1e-4 — eleven orders of margin.  Recall vs brute
    force is additionally property-tested."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, queries, k=10)


def _knn_lsh_sql(
    dim: int = 64, num_planes: int = 4, num_tables: int = 8, k: int = 10
) -> str:
    """DuckDB replay of ``similarity.lsh_topk`` with the hyperplane
    constants inlined (same ``_hyperplane`` seeds)."""
    from ..operators.similarity import _hyperplane

    rows = []
    for t in range(num_tables):
        for i in range(num_planes):
            p = _hyperplane(dim, t * 1000 + i)
            lit = ", ".join(repr(x) for x in p)
            rows.append(f"({t}, {i}, [{lit}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
planes(t, i, p) AS (VALUES
{values}
),
vb AS MATERIALIZED (
  SELECT v.vec_id, pl.t,
         CAST(SUM(CASE WHEN list_dot_product(v.e, pl.p) >= 0
                       THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT) AS bucket
  FROM v, planes pl GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM vb q JOIN vb n ON q.t = n.t AND q.bucket = n.bucket
  WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(a.e, b.e) /
               (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))),
               6) AS cosine
  FROM cands c
  JOIN v a ON a.vec_id = c.query_id
  JOIN v b ON b.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {k}
"""


# --- text analysis ---------------------------------------------------------

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        textstats.token_count(t).alias("n_tokens"),
        textstats.bpe_ish_token_count(t).alias("n_pieces"),
        F.length(t).alias("n_chars_computed"),
    )


_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_pieces,
       LENGTH(text) AS n_chars_computed
FROM documents
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(textstats.stopword_ratio(t), 6).alias("stop_ratio"),
        F.round(textstats.punct_ratio(t), 6).alias("punct_ratio"),
        textstats.quality_score(t).alias("quality"),
    )


_QUALITY_SQL = rf"""
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
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct
  FROM toks
), r AS (
  SELECT doc_id,
         CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_r,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_r,
         n_tok
  FROM m
)
SELECT doc_id,
       ROUND(stop_r, 6) AS stop_ratio,
       ROUND(punct_r, 6) AS punct_ratio,
       ROUND(LEAST(n_tok / 50.0, 1.0) * 0.5 +
             GREATEST(0.0, 1.0 - punct_r * 5) * 0.25 +
             LEAST(stop_r * 4, 1.0) * 0.25, 6) AS quality
FROM r
"""


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        textstats.detect_lang(F.col("text")).alias("lang_pred"),
    )


_LANGID_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), s AS (
  SELECT doc_id, lang,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("en")}'))) AS s_en,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("de")}'))) AS s_de,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("es")}'))) AS s_es,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("fr")}'))) AS s_fr
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
            WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM s
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        textstats.fingerprint_md5(F.col("text")).alias("fingerprint"),
        F.size(textstats.rolling_fingerprints(F.col("text"), window=8)).alias(
            "n_rolling"
        ),
    )


_FINGERPRINT_SQL = rf"""
WITH n AS (
  SELECT doc_id, {_NORM} AS norm FROM documents
)
SELECT doc_id,
       md5(norm) AS fingerprint,
       CASE WHEN norm = '' THEN 0
            ELSE GREATEST(len(string_split(norm, ' ')) - 7, 0) END AS n_rolling
FROM n
"""


# rows-only (no oracle): doc_dedup_minhash (xxhash64 scale path — the
# portable md5 twin doc_dedup_minhash_portable IS hash-checked and
# unit-pinned to the same pair set), media_* (Python-side feature
# UDFs) and embedding_pca_projected (driver-side eigh).  Everything
# else here — including knn_lsh (seeded hyperplanes inlined), knn_ivf /
# embedding_semantic_dedup / doc_topic_clusters (unrolled k-means
# replay) — is value-hash-checked against DuckDB.
register(doc_dedup_exact, _DEDUP_EXACT_SQL)
register(doc_dedup_ngram_jaccard, _DEDUP_JACCARD_SQL)
register(doc_dedup_minhash)
register(doc_dedup_minhash_portable, _DEDUP_MINHASH_PORTABLE_SQL)
register(doc_dedup_simhash, _DEDUP_SIMHASH_SQL)
register(knn_bruteforce, _KNN_SQL)
register(knn_lsh, _knn_lsh_sql())
register(embedding_neardup, _EMB_NEARDUP_SQL)
register(embedding_semantic_dedup, _SEMANTIC_DEDUP_SQL)
register(doc_token_stats, _TOKEN_STATS_SQL)
register(doc_quality, _QUALITY_SQL)
register(doc_langid, _LANGID_SQL)
register(doc_fingerprint, _FINGERPRINT_SQL)


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM negative log-probability — the
    CCNet-style perplexity-filter signal.  The smoothed-LM score is
    oracle-exact (pure arithmetic over corpus term counts); the
    percentile bucket column is engine-specific (percentile_approx)
    and is asserted separately in unit tests."""
    return textstats.unigram_logprob(_docs(spark, sf_dir)).select(
        "doc_id", "avg_neg_logprob", "n_tok"
    )


_LM_SCORE_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT SUM(c) AS n_tokens, COUNT(*) AS vocab FROM freq)
SELECT doc_id,
       ROUND(AVG(-ln((c + 0.5) / (n_tokens + 0.5 * vocab))), 6)
         AS avg_neg_logprob,
       COUNT(*) AS n_tok
FROM tok JOIN freq USING (term), tot
GROUP BY doc_id
"""

register(doc_lm_score, _LM_SCORE_SQL)


def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document (new r6) — the conditional
    next-order of ``doc_lm_score``'s CCNet-style filter: mean
    ``-ln p(w_i | w_{i-1})`` under add-alpha conditionals trained on
    the corpus itself (``operators/textstats.bigram_logprob``).
    Hash-checked: pure arithmetic over corpus bigram/prefix counts, so
    the DuckDB oracle recomputes the identical model and score."""
    return textstats.bigram_logprob(_docs(spark, sf_dir))


_BIGRAM_PPL_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents WHERE trim(lower(text)) <> ''
),
bg AS (
  SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2
  FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
  WHERE len(w) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT w2) AS v FROM c2)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(-ln((c2 + 0.1) / (c1 + 0.1 * v))), 6) AS avg_neg_logprob,
       ROUND(exp(AVG(-ln((c2 + 0.1) / (c1 + 0.1 * v)))), 6) AS ppl
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), voc
GROUP BY doc_id
"""

register(doc_perplexity_bigram, _BIGRAM_PPL_SQL)


def doc_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top TF-IDF term — the canonical keyword-extraction
    pass of a training-data pipeline."""
    return textstats.tfidf_top_terms(_docs(spark, sf_dir))


_TFIDF_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
scored AS (
  SELECT doc_id, term,
         ROUND(tf * LN((SELECT COUNT(*) FROM documents) / df), 6) AS tfidf
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term AS top_term, tfidf FROM ranked WHERE rn = 1
"""

register(doc_tfidf_top_term, _TFIDF_SQL)


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: Jaccard pairs (>= 0.5) closed into
    connected components via iterative min-label propagation
    (:mod:`..operators.graph`) — an iterative algorithm, still
    oracle-checked against a DuckDB recursive CTE over the identical
    pair set."""
    from ..operators.graph import connected_components

    pairs = dedup.minhash_near_dups(
        _docs(spark, sf_dir), threshold=0.5, num_hashes=32, bands=16
    )
    labels = connected_components(pairs, "id_a", "id_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
sizes AS (SELECT id, len(sh) AS n_sh FROM nonempty),
inv AS (SELECT id, unnest(sh) AS shingle FROM nonempty),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
good AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM good
          UNION SELECT id_b, id_a FROM good),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""

register(doc_dup_clusters, _DUP_CLUSTERS_SQL)


def doc_dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with QUALITY-canonical selection: close the
    Jaccard >= 0.5 pairs into clusters (same component machinery as
    ``doc_dup_clusters``), then keep each cluster's highest-quality
    member (ties to the smallest id) — what a production pipeline
    actually keeps, vs the min-id convention.  Singletons keep
    themselves.  Output: the kept doc per cluster with its quality and
    the cluster size.

    Oracle recall assumption (same caveat as ``doc_dup_clusters``):
    the Spark side takes its pair set from MinHash-LSH candidates
    (32 hashes / 16 bands, ~1% per-pair miss probability at J≈0.5)
    while the DuckDB oracle computes exact all-pairs Jaccard, so a
    REGENERATED fixture with a borderline near-dup pair can
    hash-mismatch with no product bug.  On the pinned sf0.001/sf0.01
    fixtures the LSH candidate set provably covers every J>=0.5 pair
    (tests/test_llmdata.py::test_minhash_full_recall_on_pinned_fixtures
    pins recall=1 at both correctness SFs); if the fixtures are
    ever regenerated, re-check that property before trusting a red
    driver row for this query."""
    from pyspark.sql.window import Window

    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_dups(
        docs, threshold=0.5, num_hashes=32, bands=16
    )
    labels = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    q = docs.select(
        "doc_id", textstats.quality_score(F.col("text")).alias("quality")
    )
    membered = q.join(labels, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        membered.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "quality", "n_members")
    )


_KEEP_BEST_SQL = rf"""
WITH RECURSIVE
sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
sizes AS (SELECT id, len(sh) AS n_sh FROM nonempty),
inv AS (SELECT id, unnest(sh) AS shingle FROM nonempty),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
good AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM good
          UNION SELECT id_b, id_a FROM good),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
           FROM reach GROUP BY a),
toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_tok,
         len(list_filter(w, x -> x IN ('{_STOPLIST_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct
  FROM toks
), q AS (
  SELECT doc_id,
         ROUND(LEAST(n_tok / 50.0, 1.0) * 0.5 +
               GREATEST(0.0, 1.0 - (CASE WHEN n_chars > 0
                                         THEN n_punct / n_chars ELSE 0.0 END) * 5) * 0.25 +
               LEAST((CASE WHEN n_tok > 0
                           THEN n_stop / n_tok ELSE 0.0 END) * 4, 1.0) * 0.25,
               6) AS quality
  FROM m
),
membered AS (
  SELECT q.doc_id, COALESCE(l.cluster_id, q.doc_id) AS cluster_id, q.quality
  FROM q LEFT JOIN labels l USING (doc_id)
)
SELECT doc_id, cluster_id, quality, n_members FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM membered)
WHERE rn = 1
"""

register(doc_dedup_keep_best_quality, _KEEP_BEST_SQL)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF cells.  Hash-checkable: the codebook is
    deterministic spherical k-means-lite (init = the 16 smallest ids'
    normalized vectors, 2 Lloyd rounds), so the DuckDB oracle replays
    the training loop as unrolled CTEs, then the cell assignment,
    nprobe probing, and exact cosine rerank.  Assignment/probe argmax
    margins dwarf cross-engine float drift (same argument as
    ``knn_lsh``); recall vs brute force is property-tested."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4)


_KNN_IVF_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
corpus AS MATERIALIZED (
  SELECT vn.id AS neighbor_id, vn.vec AS vec_n, a.cluster
  FROM vn JOIN (
    SELECT id, cluster FROM (
      SELECT vn.id, c.cluster,
             ROW_NUMBER() OVER (PARTITION BY vn.id
                                ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                         c.cluster) AS rn
      FROM vn, c2 c) WHERE rn = 1) a USING (id)
),
probes AS MATERIALIZED (
  SELECT id AS query_id, vec AS vec_q, cluster FROM (
    SELECT vn.id, vn.vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS pr
    FROM vn, c2 c WHERE vn.id < 5) WHERE pr <= 4
),
scored AS (
  SELECT p.query_id, co.neighbor_id,
         ROUND(list_dot_product(p.vec_q, co.vec_n) /
               (SQRT(list_dot_product(p.vec_q, p.vec_q)) *
                SQRT(list_dot_product(co.vec_n, co.vec_n))), 6) AS cosine
  FROM corpus co JOIN probes p USING (cluster)
  WHERE p.query_id <> co.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 10
"""

register(knn_ivf, _KNN_IVF_SQL)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (rows-only: the fake decode is
    engine-specific): binary media column + typed metadata →
    Arrow-batched ``mapInPandas`` feature extraction → per-kind feature
    summary. Proves schema, partitioning, batch shape, and UDF
    signature — the codec swap point is ``decode_backend``."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_fake_media(docs)
    feats = multimodal.extract_features(media)
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_f0"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
    )


register(media_features)


def media_codec_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DE-STUBBED multimodal path (rows-only: features depend on
    the codec): real PPM/WAV blobs are encoded distributedly, then
    decoded back through the same Arrow-batched ``mapInPandas``
    plumbing by the pure-Python codecs
    (:func:`..operators.multimodal.decode_ppm` /
    :func:`..operators.multimodal.decode_wav_pcm16`) into real signal
    features; per-kind summary proves the full encode→decode→feature
    loop.  Byte-level codec correctness is unit-tested in
    tests/test_llmdata.py."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_codec_media(docs)
    feats = multimodal.extract_features(media, decode_backend="pure")
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.round(F.avg(F.element_at("feature", 3)), 6).alias("avg_f2"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
    )


register(media_codec_features)


def media_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed image RESIZE over the real codec path (new r6):
    deterministic PPM blobs encoded per row, nearest-neighbor resized
    to 8×8 in an Arrow-batched ``mapInPandas`` kernel
    (``operators/multimodal.resize_media``), re-encoded, and reported
    as (media_id, dims, crc32).  Rows-only like its media siblings
    (blob bytes are codec-path-specific); resize correctness — exact
    index-sampled pixels, round-trip, malformed rejection — is
    unit-tested in tests/test_llmdata.py."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_codec_media(docs)
    resized = multimodal.resize_media(media, out_w=8, out_h=8)
    return resized.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.crc32("content").alias("checksum"),
    ).orderBy("media_id")


register(media_resized)


def doc_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: the documents table with non-canonical
    near-duplicates removed (canonical = min doc_id per Jaccard>=0.5
    cluster). Anti-join of the corpus against the non-canonical member
    set — the shape every training-data pipeline ships."""
    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_dups(docs, threshold=0.5, num_hashes=32, bands=16)
    labels = connected_components(pairs, "id_a", "id_b")
    losers = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_KEEP_CANONICAL_SQL = f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
sizes AS (SELECT id, len(sh) AS n_sh FROM nonempty),
inv AS (SELECT id, unnest(sh) AS shingle FROM nonempty),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
good AS (
  SELECT id_a, id_b FROM pairs
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM good
          UNION SELECT id_b, id_a FROM good),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT node FROM labels WHERE node <> label)
"""


def doc_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composed cleaning pass: language gate + quality gate +
    token-count band, emitting the per-source survival stats a data
    curator reads first."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    scored = d.select(
        "doc_id",
        "source",
        textstats.detect_lang(t).alias("det_lang"),
        textstats.quality_score(t).alias("quality"),
        textstats.token_count(t).alias("n_tokens"),
    )
    kept = scored.filter(
        (F.col("det_lang") == "en")
        & (F.col("quality") >= 0.5)
        & F.col("n_tokens").between(5, 5000)
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


register(doc_dedup_keep_canonical, _KEEP_CANONICAL_SQL)


_CORPUS_FILTER_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id, source,
         len(w) AS n_tok,
         len(list_filter(w, x -> x IN ('{_STOPLIST_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("en")}'))) AS s_en,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("de")}'))) AS s_de,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("es")}'))) AS s_es,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("fr")}'))) AS s_fr
  FROM toks
), r AS (
  SELECT doc_id, source, n_tok, s_en, s_de, s_es, s_fr,
         CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_r,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_r
  FROM m
), q AS (
  SELECT doc_id, source, n_tok,
         ROUND(LEAST(n_tok / 50.0, 1.0) * 0.5 +
               GREATEST(0.0, 1.0 - punct_r * 5) * 0.25 +
               LEAST(stop_r * 4, 1.0) * 0.25, 6) AS quality,
         CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
              WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
              WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
              WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS det_lang
  FROM r
)
SELECT source, COUNT(*) AS n_kept,
       ROUND(AVG(n_tok), 4) AS avg_tokens,
       ROUND(AVG(quality), 6) AS avg_quality
FROM q
WHERE det_lang = 'en' AND quality >= 0.5 AND n_tok BETWEEN 5 AND 5000
GROUP BY source
"""

register(doc_corpus_filter, _CORPUS_FILTER_SQL)


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid of the embedding column — the
    k-means E-step / class-prototype primitive, exploded to
    (label, dim, value) rows.

    Scale: posexplode → single map-side-combinable AVG shuffle on
    (label, dim).  dim fan-out is the embedding width (fixed, small), so
    shuffle volume is width × |rows| scalars — no wide collect_list or
    driver-side vector math anywhere; at 100 TB the partial aggregation
    collapses each partition to |labels|·width running sums before the
    exchange."""
    return (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid_v"),
            F.count("*").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


_CENTROIDS_SQL = """
SELECT label, CAST(i - 1 AS INT) AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v,
       COUNT(*) AS n_vecs
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY 1, 2 ORDER BY label, dim
"""

register(embedding_centroids, _CENTROIDS_SQL)


def embedding_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    4×-compression storage path for the ANN stack.  Narrow per-row
    transform, zero shuffle; output is integer-exact across engines
    (both compute q_i = round(x_i·127/max|x|) in float64).  The q
    vector is emitted comma-joined — array cells are not hashable by
    the driver's pandas canonicalizer."""
    q = similarity.quantize_int8(F.col("embedding"))
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.array_join(q.getField("q").cast("array<string>"), ",").alias("q"),
        F.round(q.getField("scale"), 9).alias("scale_r9"),
    )


_QUANTIZED_SQL = """
WITH m AS (
  SELECT vec_id, embedding,
         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                        'max') AS mx
  FROM embeddings
)
SELECT vec_id,
       array_to_string(
         CASE WHEN mx = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                                  x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx)
                                            AS INT))
         END, ',') AS q,
       ROUND(mx / 127.0, 9) AS scale_r9
FROM m
"""

register(embedding_quantized, _QUANTIZED_SQL)


def knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over the int8-quantized corpus (the 4×-compressed storage
    scan path).  Fully oracle-checkable: symmetric quantization is
    integer-exact across engines (same ``round(x·127/max|x|)`` in
    float64 — proven by ``embedding_quantized``'s hash match), so the
    dequantized cosine ranking reproduces bit-stably in DuckDB; recall
    ≥0.9 vs the exact scan is additionally asserted in unit tests."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk_int8(emb, queries, k=10)


_KNN_INT8_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qz AS (
  SELECT vec_id, e,
         list_aggregate(list_transform(e, x -> abs(x)), 'max') AS mx
  FROM v
),
corpus AS (
  SELECT vec_id AS neighbor_id,
         CASE WHEN mx = 0 THEN list_transform(e, x -> 0.0)
              ELSE list_transform(
                     e, x -> CAST(round(x * 127.0 / mx) AS INT) * (mx / 127.0))
         END AS d
  FROM qz
),
q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.e, c.d) /
               (SQRT(list_dot_product(q.e, q.e)) *
                SQRT(list_dot_product(c.d, c.d))), 6) AS cosine
  FROM q JOIN corpus c ON q.query_id != c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""

register(knn_int8, _KNN_INT8_SQL)


def doc_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style shared-passage candidates (mod-sampled rolling
    fingerprints) over the portable md5-derived hash, so the DuckDB
    oracle replays the whole pipeline: 8-token rolling windows, hash,
    ``fp % 4 == 0`` sampling, and the fingerprint self-join.  The
    xxhash64 default stays the scale path."""
    return dedup.winnow_candidates(_docs(spark, sf_dir), portable=True)


_WINNOW_SQL = rf"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
w AS (SELECT doc_id AS id, string_split(norm, ' ') AS w FROM n WHERE norm <> ''),
grams AS (
  SELECT id,
         ('0x' || substr(md5(array_to_string(w[i.i:i.i+7], ' ')), 1, 15))::BIGINT AS fp
  FROM w, LATERAL (SELECT unnest(range(1, greatest(len(w) - 6, 1))) AS i) i
),
fps AS (SELECT DISTINCT id, fp FROM grams WHERE fp % 4 = 0)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
"""

register(doc_winnow_candidates, _WINNOW_SQL)


def doc_bloom_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest gate: which delta documents (doc_id % 7 == 0) are
    genuinely new vs the standing corpus (the rest)?  Bloom-pruned but
    EXACT — the broadcast bitmap short-circuits certain-new rows and an
    anti-join on the content digest removes the bloom's false
    positives, so the result hash-matches a plain NOT EXISTS oracle."""
    d = _docs(spark, sf_dir)
    delta = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    return dedup.bloom_new_docs(delta, corpus).select(
        "doc_id", "source", "n_chars"
    )


_BLOOM_INCREMENTAL_SQL = f"""
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id % 7 = 0
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.doc_id % 7 <> 0
      AND md5({_NORM.replace("text", "c.text")}) = md5({_NORM.replace("text", "d.text")})
  )
"""

register(doc_bloom_incremental_new, _BLOOM_INCREMENTAL_SQL)


def doc_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage spans: maximal runs of word 5-grams each
    shared by >= 2 documents (``operators/dedup.duplicate_passages``).
    The distributable form of suffix-array exact-substring dedup; spans
    are 1-based offsets into the raw whitespace tokens so a downstream
    cut is lossless.  The oracle replays the identical gram + island
    construction on the gram *text*; Spark carries only xxhash64 of the
    grams, so agreement also certifies the hash path."""
    return dedup.duplicate_passages(_docs(spark, sf_dir), k=5, min_docs=2)


_DUP_PASSAGES_SQL = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
pos AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS p
  FROM ws WHERE len(w) >= 5
),
grams AS (
  SELECT doc_id, p, array_to_string(w[p:p+4], ' ') AS gram FROM pos
),
shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
dup AS (
  SELECT g.doc_id, g.p,
         g.p - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS grp
  FROM grams g JOIN shared s USING (gram)
)
SELECT doc_id, MIN(p) AS span_start, MAX(p) + 4 AS span_end,
       COUNT(*) AS n_grams
FROM dup GROUP BY doc_id, grp
"""

register(doc_duplicate_passages, _DUP_PASSAGES_SQL)


def doc_passage_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply step of exact-substring dedup: every duplicated-passage
    span cut from every document (``operators/dedup.redact_passages``),
    with the surviving token stream re-joined.  Fully-duplicated docs
    come back as empty strings rather than vanishing, so the output is
    1:1 with the corpus."""
    return dedup.redact_passages(_docs(spark, sf_dir), k=5, min_docs=2)


_PASSAGE_REDACT_SQL = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
pos AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS p
  FROM ws WHERE len(w) >= 5
),
grams AS (
  SELECT doc_id, p, array_to_string(w[p:p+4], ' ') AS gram FROM pos
),
shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
dup AS (
  SELECT g.doc_id, g.p,
         g.p - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS grp
  FROM grams g JOIN shared s USING (gram)
),
spans AS (
  SELECT doc_id, MIN(p) AS span_start, MAX(p) + 4 AS span_end
  FROM dup GROUP BY doc_id, grp
),
words AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS p FROM ws
),
kept AS (
  SELECT wd.doc_id, wd.p, wd.word
  FROM words wd
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = wd.doc_id AND wd.p BETWEEN s.span_start AND s.span_end)
)
SELECT d.doc_id,
       COALESCE(string_agg(k.word, ' ' ORDER BY k.p), '') AS clean_text,
       len(string_split_regex(trim(d.text), '\s+')) - COUNT(k.word) AS n_removed
FROM documents d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id, d.text
"""

register(doc_passage_redacted, _PASSAGE_REDACT_SQL)


def doc_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs (>= 0.5) via AllPairs/PPJoin prefix
    filtering (``operators/dedup.prefix_filter_jaccard_pairs``) — same
    answer as the inverted-index and MinHash forms (shares their exact
    oracle), but only each document's hash-order prefix is ever
    exploded, so the corpus-wide shuffle is ~half the inverted index at
    t=0.5 and shrinks further as the threshold rises."""
    return dedup.prefix_filter_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5
    )


register(doc_dedup_prefix_jaccard, _DEDUP_JACCARD_SQL)


def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64x64 sample covariance of the embedding corpus via one-pass
    per-batch outer-product partials (``operators/linalg``): the
    shuffle carries d*d+d+1 numbers per Arrow batch regardless of row
    count.  Cross-engine oracle on the rounded cell values."""
    from ..operators import linalg

    return linalg.embedding_covariance(_emb(spark, sf_dir))


_EMB_COV_SQL = """
WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
sums AS (
  SELECT i, SUM(e[i]) AS si FROM v, idx GROUP BY i
),
pairs AS (
  SELECT a.i AS i, b.i AS j, SUM(e[a.i] * e[b.i]) AS sij
  FROM v, idx a, idx b GROUP BY 1, 2
),
n AS (SELECT COUNT(*) AS c FROM v)
SELECT p.i, p.j,
       ROUND((p.sij - sa.si * sb.si / n.c) / (n.c - 1), 6) + 0.0 AS cov
FROM pairs p
JOIN sums sa ON sa.i = p.i
JOIN sums sb ON sb.i = p.j
CROSS JOIN n
"""


def embedding_pca_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings projected onto their top-8 principal components
    (``operators/linalg.pca_project``), exploded to scalar
    ``(vec_id, component, value)`` rows — the driver's canonicalizer
    cannot hash array cells (r4 CORRECTNESS err), so the projected
    vector is emitted one component per row.  Rows-only (eigenvector
    floats are engine-specific); variance capture and orthonormality
    are unit-tested."""
    from ..operators import linalg

    proj = linalg.pca_project(_emb(spark, sf_dir), k=8)
    return proj.select(
        "vec_id",
        F.posexplode("components").alias("component", "value"),
    ).withColumn("component", F.col("component") + F.lit(1))


register(embedding_covariance_matrix, _EMB_COV_SQL)
register(embedding_pca_projected)


def doc_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 24-merge BPE vocabulary on the corpus.  Hash-checked:
    BPE training is pure integer/string arithmetic, so the DuckDB
    oracle replays all 24 merge rounds as unrolled CTEs — words as
    US-delimited symbol strings, adjacent-pair counting weighted by
    word frequency, (count DESC, left, right) argmax, and left-to-right
    non-overlapping merge application via ``replace`` over a
    DOUBLE-delimited symbol string (each match consumes only the inner
    delimiter halves, so adjacent occurrences share no characters and
    single-pass replace reproduces the trainer's (out, skip) fold
    exactly — a single-delimiter encoding skips the second of two
    boundary-sharing occurrences, e.g. merging (g,a) in 'gaga').
    Also differential-tested against a pure-Python
    Sennrich BPE in tests/test_tokenizer.py.  One corpus-sized
    word-count pass, then one vocabulary-sized Spark job per merge
    round (``operators/tokenizer.bpe_train``)."""
    from ..operators import tokenizer

    merges = tokenizer.bpe_train(_docs(spark, sf_dir), n_merges=24)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_rank int, left string, right string, merged string, weighted_count long",
    )


def _bpe_vocab_sql(n_merges: int = 24, min_pair_count: int = 2) -> str:
    """Unrolled DuckDB replay of ``tokenizer.bpe_train``.  Symbols are
    stored as DOUBLE-chr(31)-delimited strings
    ('\\x1f\\x1f a \\x1f\\x1f b \\x1f\\x1f ▁ \\x1f\\x1f'); a merge round is one
    ``replace`` of ``D a DD b D`` with ``D ab D`` — the pattern
    consumes only the inner half of each boundary, so adjacent
    occurrences (e.g. merging (g,a) in 'gaga', or a run of repeated
    symbols) never share characters and single-pass left-to-right
    replace reproduces the trainer's (out, skip) fold exactly
    (property-tested against the fold in tests/test_tokenizer.py).
    The early-stop is replayed by gating each emitted row on every
    prior round's count clearing ``min_pair_count``."""
    d = "chr(31)"
    rounds = []
    for r in range(n_merges):
        rounds.append(f"""toks{r} AS MATERIALIZED (
  SELECT n, list_filter(string_split(sym, {d}), x -> x <> '') AS t FROM wf{r}
),
pairs{r} AS MATERIALIZED (
  SELECT t[i.i] AS a, t[i.i + 1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
  FROM toks{r}, LATERAL (SELECT unnest(range(1, greatest(len(t), 1))) AS i) i
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1
),
wf{r + 1} AS MATERIALIZED (
  SELECT word, n, replace(sym,
      {d} || (SELECT a FROM best{r}) || {d} || {d}
          || (SELECT b FROM best{r}) || {d},
      {d} || (SELECT a || b FROM best{r}) || {d}) AS sym
  FROM wf{r}
)""")
    emits = []
    for r in range(n_merges):
        valid = " AND ".join(
            f"(SELECT cnt FROM best{j}) >= {min_pair_count}"
            for j in range(r + 1)
        )
        emits.append(
            f'SELECT {r + 1} AS merge_rank, a AS "left", b AS "right",'
            f" a || b AS merged, cnt AS weighted_count FROM best{r}"
            f" WHERE {valid}"
        )
    body = ",\n".join(rounds)
    union = "\nUNION ALL\n".join(emits)
    prefix = f"""
WITH freq AS MATERIALIZED (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split({_NORM}, ' ')) AS w
        FROM documents WHERE {_NORM} <> '')
  GROUP BY 1
),
wf0 AS MATERIALIZED (
  SELECT word, n,
         {d} || {d}
             || array_to_string(regexp_split_to_array(word, ''), {d} || {d})
             || {d} || {d} || '▁' || {d} || {d} AS sym
  FROM freq
),
{body}"""
    return prefix, union, d


def _bpe_vocab_oracle(n_merges: int = 24) -> str:
    prefix, union, _ = _bpe_vocab_sql(n_merges)
    return f"{prefix}\n{union}\n"


def _bpe_tokens_oracle(n_merges: int = 24) -> str:
    """Per-doc BPE token counts: the trained word→symbol table joins
    back onto the exploded corpus (same shape as ``bpe_encode``'s
    distinct-word fold + broadcast join)."""
    prefix, _, d = _bpe_vocab_sql(n_merges)
    return f"""{prefix},
wtok AS MATERIALIZED (
  SELECT word,
         len(list_filter(string_split(sym, {d}), x -> x <> '')) AS n_tok
  FROM wf{n_merges}
),
docw AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
  FROM documents WHERE {_NORM} <> ''
)
SELECT dw.doc_id,
       CAST(SUM(w.n_tok) AS INTEGER) AS n_bpe_tokens,
       ANY_VALUE(dd.n_chars) AS n_chars
FROM docw dw
JOIN wtok w USING (word)
JOIN documents dd ON dd.doc_id = dw.doc_id
GROUP BY dw.doc_id
"""


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with its own trained BPE vocabulary; per-doc
    BPE token count vs character length (the compression the vocab
    buys).  Encoding folds run once per DISTINCT word, then join back
    (rows-only; differential-tested)."""
    from ..operators import tokenizer

    docs = _docs(spark, sf_dir)
    merges = tokenizer.bpe_train(docs, n_merges=24)
    enc = tokenizer.bpe_encode(docs, merges)
    return enc.select(
        "doc_id", F.size("tokens").alias("n_bpe_tokens")
    ).join(docs.select("doc_id", "n_chars"), "doc_id")


register(doc_bpe_vocab, _bpe_vocab_oracle())
register(doc_bpe_tokens, _bpe_tokens_oracle())


def doc_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic clustering: hashed TF-IDF doc vectors
    (``textstats.hashed_tfidf_vectors``) clustered by the deterministic
    spherical k-means codebook (``similarity.ivf_build``/``ivf_assign``
    — the same machinery as the ANN index, fed from text instead of
    embeddings).  Hash-checked end to end: portable md5 token buckets
    make the TF-IDF vectors engine-reproducible, and the oracle then
    replays the unrolled Lloyd rounds (``_kmeans_ctes``), the final
    assignment, and the per-topic audit.  Output: per-topic doc and
    distinct-source counts."""
    docs = _docs(spark, sf_dir)
    # Eager checkpoint (guide §5, the r10 wave-4c model-frame shape):
    # ivf_build makes 3 training passes (init collect + 2 Lloyd
    # rounds) and the final assignment a 4th — without the cut each
    # pass re-tokenizes + re-hashes the corpus into TF-IDF vectors.
    # This differs from ivf_build's documented r7 negative result
    # (checkpointing a RAW 64-dim parquet scan was slower than
    # re-scanning): here the input is an EXPENSIVE DERIVED frame, so
    # one materialization replaces four corpus passes.
    vecs = textstats.hashed_tfidf_vectors(
        docs, dim=64, portable=True
    ).localCheckpoint(eager=True)
    centroids = similarity.ivf_build(
        vecs, n_centroids=8, iters=2, id_col="doc_id", vec_col="vec"
    )
    # bind the normalized vector before the unrolled assignment dots
    # reference it n_centroids×dim times
    assigned = vecs.select(
        "doc_id",
        similarity._normalize(similarity._as_double("vec")).alias("_nv"),
    ).select(
        "doc_id",
        similarity.ivf_assign(F.col("_nv"), centroids).alias("topic"),
    )
    return (
        assigned.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("topic")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("topic")
    )


_TOPIC_CLUSTERS_SQL = rf"""
WITH tok AS (
  SELECT doc_id AS id,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE trim(lower(text)) <> '')
),
tf AS (SELECT id, b, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT b, COUNT(DISTINCT id) AS df FROM tok GROUP BY 1),
nn AS (SELECT COUNT(*) AS n_docs FROM documents),
wts AS (
  SELECT id, b, tf * ln(n_docs / df) AS wt
  FROM tf JOIN dfq USING (b) CROSS JOIN nn
),
v AS MATERIALIZED (
  SELECT id, list(COALESCE(wt, 0.0) ORDER BY i) AS vec
  FROM (SELECT g.id, i.i, w.wt
        FROM (SELECT DISTINCT id FROM tok) g
        CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
        LEFT JOIN wts w ON w.id = g.id AND w.b = i.i)
  GROUP BY id
),
{_kmeans_ctes(8, 2)},
assign AS MATERIALIZED (
  SELECT id, cluster FROM (
    SELECT vn.id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS rn
    FROM vn, c2 c) WHERE rn = 1
)
SELECT CAST(a.cluster AS INTEGER) AS topic,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT d.source) AS n_sources
FROM assign a JOIN documents d ON d.doc_id = a.id
GROUP BY 1 ORDER BY 1
"""

register(doc_topic_clusters, _TOPIC_CLUSTERS_SQL)


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor, the
    single most-similar corpus vector inside the "near but not
    duplicate" band (0.10 ≤ cosine ≤ 0.95) — the negatives that
    actually move an embedding model.  Same broadcast-query scan shape
    as :func:`knn_bruteforce` (the anchor batch is model-sized); at
    corpus scale the band filter rides the IVF/LSH candidate paths
    instead of the exact scan."""
    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") < 20)
    scored = similarity.brute_force_topk(emb, anchors, k=50)
    banded = scored.filter(
        (F.col("cosine") >= 0.10) & (F.col("cosine") <= 0.95)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("hard_negative_id"),
            "cosine",
        )
    )


_HARD_NEG_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS anchor_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e, v.e) /
               (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(v.e, v.e))),
               6) AS cosine
  FROM q JOIN v ON q.vec_id != v.vec_id
),
topk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
banded AS (
  SELECT * FROM topk WHERE rank <= 50 AND cosine BETWEEN 0.10 AND 0.95
)
SELECT anchor_id, neighbor_id AS hard_negative_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, neighbor_id) AS rn
  FROM banded
) WHERE rn = 1
"""

register(embedding_hard_negatives, _HARD_NEG_SQL)


def embedding_standardized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding column —
    the feature-scaling step before distance-based ML.  One posexplode
    pass builds the (dim, mean, std) model (map-side-combined AVG /
    STDDEV on the fixed-width dim key), which is width-sized and
    broadcast back for the normalize — the corpus is scanned twice but
    shuffled never.  Output is exploded (vec_id, dim, z) rows rounded
    to 6 so both engines hash identically; a production caller keeps
    the array form via ``zip_with`` against the broadcast model."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 11 == 0)
    ex = emb.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
    model = ex.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    return (
        ex.join(F.broadcast(model), "dim")
        .select(
            "vec_id",
            "dim",
            F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
        )
    )


_EMB_STD_SQL = """
WITH ex AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  WHERE vec_id % 11 = 0
),
model AS (
  SELECT dim, AVG(v) AS mu, STDDEV_SAMP(v) AS sigma FROM ex GROUP BY 1
)
SELECT ex.vec_id, ex.dim, ROUND((ex.v - m.mu) / m.sigma, 6) AS z
FROM ex JOIN model m ON ex.dim = m.dim
"""

register(embedding_standardized, _EMB_STD_SQL)


def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source duplication matrix: exact-duplicate DOC pairs per
    (source, source) cell — the governance view that decides which feed
    to deduplicate against which (the diagonal is each source's
    internal dup pressure; off-diagonal cells are cross-feed copies).
    Self-join on the content fingerprint: fan-out per hash is the dup
    GROUP size squared — dup groups are small, so the pair space
    tracks true duplication, never the corpus.

    The fixture corpus has no EXACT copies (its planted dups are
    near-dups), so — like the PII oracle's in-query injection — every
    25th doc is mirrored into a synthetic 'mirror' source on BOTH
    engines, exercising the cross-feed cells with known truth."""
    base = _docs(spark, sf_dir)
    mirror = base.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    d = base.select("doc_id", "text", "source").unionByName(mirror)
    hs = d.select(
        textstats.fingerprint_md5(F.col("text")).alias("h"),
        "source",
        "doc_id",
    )
    a = hs.select("h", F.col("source").alias("src_a"), F.col("doc_id").alias("da"))
    b = hs.select("h", F.col("source").alias("src_b"), F.col("doc_id").alias("db"))
    return (
        a.join(b, "h")
        .filter(F.col("da") < F.col("db"))
        .groupBy(
            F.least("src_a", "src_b").alias("src_a"),
            F.greatest("src_a", "src_b").alias("src_b"),
        )
        .agg(F.count("*").alias("n_dup_pairs"))
    )


_SOURCE_OVERLAP_SQL = r"""
WITH u AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'mirror' FROM documents WHERE doc_id % 25 = 0
),
hs AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
         source, doc_id
  FROM u
)
SELECT LEAST(a.source, b.source) AS src_a,
       GREATEST(a.source, b.source) AS src_b,
       COUNT(*) AS n_dup_pairs
FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

register(doc_source_overlap, _SOURCE_OVERLAP_SQL)


def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the language-ID heuristic's
    confusion matrix against the corpus labels, with per-cell share of
    the true-label row — accuracy reads straight off the diagonal.
    Composition of the oracled ``doc_langid`` + one rollup."""
    pred = doc_langid(spark, sf_dir)
    totals = pred.groupBy("lang").agg(F.count("*").alias("n_true"))
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.round(F.col("n") / F.col("n_true"), 6).alias("row_share"),
        )
    )


_LANGID_CONF_SQL = rf"""
WITH pred AS ({_LANGID_SQL}),
totals AS (SELECT lang, COUNT(*) AS n_true FROM pred GROUP BY 1)
SELECT p.lang, p.lang_pred, COUNT(*) AS n,
       ROUND(COUNT(*) / CAST(ANY_VALUE(t.n_true) AS DOUBLE), 6) AS row_share
FROM pred p JOIN totals t ON p.lang = t.lang
GROUP BY 1, 2
"""

register(doc_langid_confusion, _LANGID_CONF_SQL)

_KNN_EVAL_PROBES = 100  # constant-size probe set (does NOT scale with corpus)


def _knn_probe_set(emb: DataFrame) -> DataFrame:
    """The kNN-eval probe set: the ``_KNN_EVAL_PROBES`` vectors with the
    smallest ``md5(vec_id)`` (id tie-break) — a deterministic
    pseudo-random sample whose SIZE IS A CONSTANT, not a corpus
    fraction (VERDICT r6 #1: the old ``vec_id % 10`` modulus made the
    broadcast probe set grow with the corpus — 10 TB of broadcast at
    100 TB).  The global sort-limit plans as TakeOrderedAndProject
    (per-partition top-N, merge of N-row heaps), so selection cost is
    one corpus scan and the broadcast stays kilobytes at any scale."""
    return emb.orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(_KNN_EVAL_PROBES)


def _knn_label_accuracy(nn: DataFrame, labels: DataFrame) -> DataFrame:
    """Shared vote/accuracy tail: majority vote over each probe's
    neighbors (ties to the smallest label), then per-true-label probe
    counts and accuracy.  All integer arithmetic + round-6 ratio, so
    the DuckDB replay is exact.  ``labels`` = (vec_id, label)."""
    from pyspark.sql import Window

    votes = (
        nn.join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "neighbor_label"
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "neighbor_label")
        .agg(F.count("*").alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_label").alias("pred_label"))
    )
    truth = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_probes"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.round(F.col("n_correct") / F.col("n_probes"), 6)
        )
        .orderBy("true_label")
    )


def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label evaluation — the standard embedding-quality probe:
    for a constant-size deterministic probe set (the 100 smallest
    ``md5(vec_id)`` vectors, :func:`_knn_probe_set`), predict each
    probe's label by majority vote over its 10 nearest neighbors
    (exact cosine, self excluded; vote ties to the smallest label) and
    report per-true-label probe counts and accuracy.  Hash-checked:
    ranks come from rounded cosines with id tie-breaks and the vote is
    integer arithmetic, so the full DuckDB replay is exact.  Scale
    shape: a CONSTANT-size probe set broadcasts against one corpus
    scan (the `knn_bruteforce` shape) — probe cost no longer scales
    with the corpus (VERDICT r6 #1 closed); the index-routed twin
    ``embedding_knn_label_eval_ivf`` runs the same vote through the
    persisted partition-pruned IVF inverted file."""
    from ..operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    probes = _knn_probe_set(emb)
    nn = brute_force_topk(emb, probes, k=10).select("query_id", "neighbor_id")
    return _knn_label_accuracy(nn, emb.select("vec_id", "label"))


# vote/accuracy SQL tail shared by both kNN-eval oracles; expects a
# prior CTE nn(query_id, neighbor_id) plus the raw embeddings table.
_KNN_VOTE_TAIL_SQL = """
votes AS (
  SELECT n.query_id, l.label AS neighbor_label, COUNT(*) AS n_votes
  FROM nn n JOIN embeddings l ON l.vec_id = n.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, neighbor_label AS pred_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, neighbor_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT t.label AS true_label,
       COUNT(*) AS n_probes,
       CAST(SUM(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS accuracy
FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
GROUP BY 1
ORDER BY 1
"""

_KNN_LABEL_EVAL_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_KNN_EVAL_PROBES}),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e, v.e) /
               (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(v.e, v.e))),
               6) AS cosine
  FROM q JOIN v ON q.vec_id != v.vec_id
),
nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 10
),
{_KNN_VOTE_TAIL_SQL}
"""

register(embedding_knn_label_eval, _KNN_LABEL_EVAL_SQL)


def embedding_knn_label_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label eval routed through the PERSISTED IVF index (VERDICT
    r6 #2/#7): ``materialize_ivf_index`` writes the inverted file
    ``partitionBy(cluster)`` + the k×d codebook table, then
    ``ivf_topk_from_index`` probes only each query's nprobe=4 cells
    via a static partition filter (Catalyst prunes the untouched cells
    at planning time — the plan shape asserted in
    tests/test_plan_shapes.py), and the same constant-size probe set
    votes through :func:`_knn_label_accuracy`.  This is the
    full-corpus-eval scale path the brute-force twin's docstring
    routes to: index build pre-pays the clustering shuffle once, every
    eval batch after that reads ~nprobe/n_centroids of the corpus.
    Hash-checked end-to-end: the DuckDB oracle replays the
    deterministic k-means codebook (unrolled CTEs, same machinery as
    ``knn_ivf``), the cell assignment, the nprobe probing, the exact
    within-cell cosine rerank, and the vote."""
    emb = _emb(spark, sf_dir)
    probes = _knn_probe_set(emb)
    similarity.materialize_ivf_index(
        emb, table="knn_eval_ivf_index", n_centroids=16, iters=2
    )
    nn = similarity.ivf_topk_from_index(
        probes, table="knn_eval_ivf_index", k=10, nprobe=4
    ).select("query_id", "neighbor_id")
    return _knn_label_accuracy(nn, emb.select("vec_id", "label"))


_KNN_LABEL_EVAL_IVF_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
corpus AS MATERIALIZED (
  SELECT vn.id AS neighbor_id, vn.vec AS vec_n, a.cluster
  FROM vn JOIN (
    SELECT id, cluster FROM (
      SELECT vn.id, c.cluster,
             ROW_NUMBER() OVER (PARTITION BY vn.id
                                ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                         c.cluster) AS rn
      FROM vn, c2 c) WHERE rn = 1) a USING (id)
),
probe_ids AS MATERIALIZED (
  SELECT id FROM vn ORDER BY md5(CAST(id AS VARCHAR)), id
  LIMIT {_KNN_EVAL_PROBES}
),
probes AS MATERIALIZED (
  SELECT id AS query_id, vec AS vec_q, cluster FROM (
    SELECT vn.id, vn.vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS pr
    FROM vn, c2 c WHERE vn.id IN (SELECT id FROM probe_ids)) WHERE pr <= 4
),
scored AS (
  SELECT p.query_id, co.neighbor_id,
         ROUND(list_dot_product(p.vec_q, co.vec_n) /
               (SQRT(list_dot_product(p.vec_q, p.vec_q)) *
                SQRT(list_dot_product(co.vec_n, co.vec_n))), 6) AS cosine
  FROM corpus co JOIN probes p USING (cluster)
  WHERE p.query_id <> co.neighbor_id
),
nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 10
),
{_KNN_VOTE_TAIL_SQL}
"""

register(embedding_knn_label_eval_ivf, _KNN_LABEL_EVAL_IVF_SQL)


def embedding_semantic_dedup_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup routed through the PERSISTED IVF index (VERDICT r6 #7
    stretch): ``materialize_ivf_index`` writes the full corpus as the
    ``partitionBy(cluster)`` inverted file once, then
    ``semantic_dedup_from_index`` runs the within-cell pair comparison
    as a partition-local self-join of the persisted table — no k-means
    re-train, no clustering shuffle per dedup pass, which is the shape
    a recurring 100 TB ingest dedup actually runs.  Hash-checked end to
    end: the oracle replays the deterministic codebook (unrolled
    k-means CTEs), the cell assignment, and the smallest-id-canonical
    keep verdict over the REAL corpus (16 cells, cosine >= 0.95)."""
    emb = _emb(spark, sf_dir)
    similarity.materialize_ivf_index(
        emb, table="semdedup_ivf_index", n_centroids=16, iters=2
    )
    return similarity.semantic_dedup_from_index(
        spark, table="semdedup_ivf_index", threshold=0.95
    )


_SEMANTIC_DEDUP_INDEXED_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
assign AS MATERIALIZED (
  SELECT id, vec, cluster FROM (
    SELECT vn.id, vn.vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS rn
    FROM vn, c2 c) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.id
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.id < b.id
  WHERE ROUND(list_dot_product(a.vec, b.vec) /
              (SQRT(list_dot_product(a.vec, a.vec)) *
               SQRT(list_dot_product(b.vec, b.vec))), 6) >= 0.95
)
SELECT a.id, a.cluster, d.id IS NULL AS keep
FROM assign a LEFT JOIN dropped d ON d.id = a.id
"""

register(embedding_semantic_dedup_indexed, _SEMANTIC_DEDUP_INDEXED_SQL)


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (new r7): ordered pairs where
    >= 80% of A's distinct 3-word shingles appear in B — the
    subset/quote/boilerplate criterion that Jaccard-tuned candidate
    generators structurally miss (a short doc embedded in a 10x longer
    one has J ~ 0.1 but containment 1.0).  One-sided prefix-filter
    candidates + exact array-intersect verify
    (``operators/dedup.containment_pairs``); portable md5-derived
    shingle hashes so the DuckDB oracle replays the exact pair set."""
    return dedup.containment_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.8, portable=True
    )


_CONTAINMENT_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w
  FROM documents WHERE {_NORM} <> ''
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform({_SHINGLES},
            s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
  FROM toks
),
nz AS (SELECT doc_id, hs FROM sh WHERE len(hs) > 0)
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(len(list_intersect(a.hs, b.hs)) / CAST(len(a.hs) AS DOUBLE),
               6) AS containment
  FROM nz a JOIN nz b ON a.doc_id != b.doc_id
) WHERE containment >= 0.8
"""

register(doc_containment_pairs, _CONTAINMENT_SQL)


def doc_source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution drift vs the corpus (new r7):
    Jensen-Shannon divergence over the global top-200 vocabulary plus
    vocabulary coverage — the source-mixture drift monitor that flags
    a shifted crawl snapshot before it pollutes a training mix
    (:func:`..operators.textstats.source_token_drift`).  Deterministic
    top-K vocab (count-desc, term-asc) so the oracle replays it; the
    JS sum is 200 bounded double terms per source, ROUND(6)-stable
    cross-engine like the other log-space scores."""
    return textstats.source_token_drift(_docs(spark, sf_dir), vocab_size=200)


_SOURCE_DRIFT_SQL = r"""
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
g AS (SELECT term, COUNT(*) AS cg FROM tok GROUP BY 1),
vocab AS (SELECT term, cg FROM g ORDER BY cg DESC, term LIMIT 200),
tg AS (SELECT SUM(cg) AS tg FROM vocab),
src_all AS (SELECT source, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
sc AS (
  SELECT source, term, COUNT(*) AS cs
  FROM tok JOIN vocab USING (term) GROUP BY 1, 2
),
ts AS (SELECT source, SUM(cs) AS ts FROM sc GROUP BY 1),
grid AS (
  SELECT sa.source, sa.n_tokens, v.cg, t.ts, s.cs,
         CASE WHEN COALESCE(s.cs, 0) > 0
              THEN s.cs * 1.0 / t.ts ELSE 0.0 END AS p,
         v.cg * 1.0 / (SELECT tg FROM tg) AS q
  FROM src_all sa
  CROSS JOIN vocab v
  LEFT JOIN ts t ON t.source = sa.source
  LEFT JOIN sc s ON s.source = sa.source AND s.term = v.term
)
SELECT source,
       ROUND(SUM(0.5 * CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
                            ELSE 0.0 END
                 + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS js_divergence,
       COUNT(cs) AS n_vocab_present,
       ROUND(COALESCE(MAX(ts), 0) * 1.0 / MAX(n_tokens), 6) AS vocab_coverage,
       MAX(n_tokens) AS n_tokens
FROM grid GROUP BY source
"""

register(doc_source_token_drift, _SOURCE_DRIFT_SQL)


def doc_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash-LSH recall (new r7) — replaces the documented
    "recall is assumed from the band math" caveat with a number: exact
    ground-truth pairs (J >= 0.5) from the prefix-filter AllPairs join
    (``dedup.prefix_filter_jaccard_pairs`` — exact, sub-inverted-index
    shuffle, no probabilistic step) vs the verified output of the
    16-band/2-row portable MinHash pipeline.  Because the verify stage
    is exact Jaccard, LSH output is a subset of truth and
    recall = |LSH| ∩ |truth| / |truth|; the band math predicts
    1-(1-J^2)^16 >= 0.99 at the threshold.  Portable md5 hashing so
    the DuckDB oracle replays signatures, banding, candidates, verify
    AND the exact truth set value-for-value.

    Scale shape: both sides are the scale-shaped operators themselves
    (prefix explode / banded buckets — nothing quadratic); at 100 TB
    this eval runs on a sampled slice, but nothing in the plan changes
    with corpus size except the slice filter."""
    docs = _docs(spark, sf_dir)
    truth = dedup.prefix_filter_jaccard_pairs(docs, threshold=0.5)
    lsh = dedup.minhash_near_dups(
        docs, threshold=0.5, num_hashes=32, bands=16, portable=True
    )
    hit = lsh.select("id_a", "id_b").join(
        truth.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    )
    return (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(lsh.agg(F.count("*").alias("n_lsh")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
        .select(
            "n_truth",
            "n_lsh",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
        )
    )


_MINHASH_RECALL_SQL = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
inv AS (
  SELECT id, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS shingle
  FROM nonempty
),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM inv GROUP BY id),
tpairs AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
truth AS (
  SELECT id_a, id_b
  FROM tpairs
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
),
slots AS (SELECT unnest(range(0, 32)) AS i),
sig AS (
  SELECT id, i,
         MIN(('0x' || substr(md5(i::VARCHAR || ':' || shingle::VARCHAR), 1, 15))::BIGINT) AS h
  FROM inv, slots GROUP BY 1, 2
),
banded AS (
  SELECT id, i // 2 AS band, STRING_AGG(h::VARCHAR, ',' ORDER BY i) AS bucket
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
vinter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cand c
  JOIN inv a ON a.id = c.id_a
  JOIN inv b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
lsh AS (
  SELECT id_a, id_b
  FROM vinter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
),
hit AS (
  SELECT * FROM lsh
  WHERE EXISTS (SELECT 1 FROM truth t
                WHERE t.id_a = lsh.id_a AND t.id_b = lsh.id_b)
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM lsh) AS n_lsh,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       ROUND((SELECT COUNT(*) FROM hit) * 1.0
             / (SELECT COUNT(*) FROM truth), 6) AS recall
"""

register(doc_minhash_recall_eval, _MINHASH_RECALL_SQL)


def embedding_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured ANN recall@10 (new r7) — the vector twin of
    ``doc_minhash_recall_eval``: IVF probing (16 cells, nprobe=4, the
    ``knn_ivf`` configuration) scored against exact brute-force
    ground truth on the constant-size probe set, reporting average and
    worst-case per-query recall.  Both engines rank by
    ROUND(cosine, 6) DESC with id tie-breaks, so the overlap count is
    deterministic and the DuckDB oracle replays codebook training
    (unrolled k-means CTEs), probing, both rerankes, and the recall
    arithmetic value-for-value.

    Scale shape: ground truth is probe-set-sized brute force — 100
    broadcast queries against one corpus scan (the eval practice the
    brute-force twin's docstring prescribes); the IVF side reads
    ~nprobe/n_centroids of the corpus.  Nothing scales quadratically
    with the corpus."""
    emb = _emb(spark, sf_dir)
    probes = _knn_probe_set(emb)
    gt = similarity.brute_force_topk(emb, probes, k=10).select(
        "query_id", "neighbor_id"
    )
    ann = similarity.ivf_topk(
        emb, probes, k=10, n_centroids=16, nprobe=4
    ).select("query_id", "neighbor_id")
    hits = (
        ann.join(gt, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    per = (
        gt.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits, "query_id", "left")
        .select(
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true")).alias("r")
        )
    )
    return per.agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg("r"), 6).alias("avg_recall"),
        F.round(F.min("r"), 6).alias("min_recall"),
    )


_ANN_RECALL_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
corpus AS MATERIALIZED (
  SELECT vn.id AS neighbor_id, vn.vec AS vec_n, a.cluster
  FROM vn JOIN (
    SELECT id, cluster FROM (
      SELECT vn.id, c.cluster,
             ROW_NUMBER() OVER (PARTITION BY vn.id
                                ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                         c.cluster) AS rn
      FROM vn, c2 c) WHERE rn = 1) a USING (id)
),
probe_ids AS MATERIALIZED (
  SELECT id FROM vn ORDER BY md5(CAST(id AS VARCHAR)), id
  LIMIT {_KNN_EVAL_PROBES}
),
probes AS MATERIALIZED (
  SELECT id AS query_id, vec AS vec_q, cluster FROM (
    SELECT vn.id, vn.vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS pr
    FROM vn, c2 c WHERE vn.id IN (SELECT id FROM probe_ids)) WHERE pr <= 4
),
ivf_scored AS (
  SELECT p.query_id, co.neighbor_id,
         ROUND(list_dot_product(p.vec_q, co.vec_n) /
               (SQRT(list_dot_product(p.vec_q, p.vec_q)) *
                SQRT(list_dot_product(co.vec_n, co.vec_n))), 6) AS cosine
  FROM corpus co JOIN probes p USING (cluster)
  WHERE p.query_id <> co.neighbor_id
),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ivf_scored
  ) WHERE rank <= 10
),
bf_scored AS (
  SELECT q.id AS query_id, w.id AS neighbor_id,
         ROUND(list_dot_product(q.vec, w.vec) /
               (SQRT(list_dot_product(q.vec, q.vec)) *
                SQRT(list_dot_product(w.vec, w.vec))), 6) AS cosine
  FROM (SELECT vn.id, vn.vec FROM vn
        WHERE vn.id IN (SELECT id FROM probe_ids)) q
  JOIN vn w ON q.id <> w.id
),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM bf_scored
  ) WHERE rank <= 10
),
hits AS (
  SELECT a.query_id, COUNT(*) AS n_hit
  FROM ann a JOIN gt g
    ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY 1
),
per AS (
  SELECT g.query_id, COUNT(*) AS n_true,
         COALESCE(MAX(h.n_hit), 0) AS n_hit
  FROM gt g LEFT JOIN hits h ON h.query_id = g.query_id
  GROUP BY 1
)
SELECT COUNT(*) AS n_queries,
       ROUND(AVG(n_hit * 1.0 / n_true), 6) AS avg_recall,
       ROUND(MIN(n_hit * 1.0 / n_true), 6) AS min_recall
FROM per
"""

register(embedding_ann_recall_eval, _ANN_RECALL_SQL)


def doc_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment (new r7): hash-split on
    the near-dup CLUSTER representative instead of the document id, so
    a document and its near-duplicates can never straddle train and
    eval — the split-time complement of decontamination (a near-copy
    in test + original in train is exactly the leak benchmark decontam
    guards against, but introduced by the splitter itself).  Clusters
    come from the same MinHash-LSH → exact-verify → connected-components
    machinery as ``doc_dup_clusters`` (min-id representative);
    singletons are their own cluster.  The split rule is the stable
    md5 first-hex-digit 12/2/2 of ``curation.assign_splits`` applied
    to the cluster id.

    Scale shape: the pair/CC machinery is the banded near-dup path
    (never quadratic); the only additions are one cluster-size
    aggregation and one join back on ``cluster_id`` — both shuffles on
    a key whose cardinality is ~the corpus (clusters are tiny), plus
    the row-local hash split.  Output is per-document, suitable as the
    split column of a materialized corpus table."""
    from ..operators.curation import assign_splits
    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_dups(
        docs, threshold=0.5, num_hashes=32, bands=16
    )
    labels = connected_components(pairs, "id_a", "id_b")
    assigned = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
    )
    csize = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return assign_splits(
        assigned.join(csize, "cluster_id"), id_col="cluster_id"
    ).select("doc_id", "cluster_id", "cluster_size", "split")


_LEAKAGE_SPLITS_SQL = f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
sizes AS (SELECT id, len(sh) AS n_sh FROM nonempty),
inv AS (SELECT id, unnest(sh) AS shingle FROM nonempty),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
good AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM good
          UNION SELECT id_b, id_a FROM good),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       FROM reach GROUP BY a),
assigned AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc USING (doc_id)
),
sized AS (
  SELECT doc_id, cluster_id,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM assigned
)
SELECT doc_id, cluster_id, cluster_size,
       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) IN
                 ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
            WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) IN ('c','d')
              THEN 'val'
            ELSE 'test' END AS split
FROM sized
"""

register(doc_leakage_safe_splits, _LEAKAGE_SPLITS_SQL)


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty as the KL divergence between the document's
    unigram distribution and the corpus unigram distribution (new r7)
    — the information-theoretic complement of ``doc_lm_score``: the LM
    score is the cross-entropy term alone (how SURPRISING the doc is
    to the corpus model), while KL subtracts the doc's own entropy, so
    boilerplate that merely repeats rare-but-internally-uniform tokens
    stops scoring as novel.  High-KL docs are the out-of-distribution
    tail a curation pass reviews before mixing.

    Scale shape: same skeleton as the unigram LM — one explode, one
    (doc, term) map-side-combined count, the corpus term frequencies
    RE-AGGREGATED from those per-doc counts (the raw token stream is
    touched once), a term-keyed shuffle join (open vocabulary — not
    broadcast), corpus totals as a 1-row broadcast, one per-doc
    aggregation.  All probabilities are exact integer ratios, so the
    only cross-engine drift is LN ulps under the 1e-6 rounding."""
    d = _docs(spark, sf_dir)
    t = F.trim(F.lower(F.col("text")))
    tok = d.filter(t != "").select(
        "doc_id", F.explode(F.split(t, r"\s+")).alias("term")
    )
    dc = tok.groupBy("doc_id", "term").agg(F.count("*").alias("cd"))
    nd = dc.groupBy("doc_id").agg(F.sum("cd").alias("nd"))
    cf = dc.groupBy("term").agg(F.sum("cd").alias("cc"))
    tot = cf.agg(F.sum("cc").alias("nc"))
    p = F.col("cd") / F.col("nd")
    q = F.col("cc") / F.col("nc")
    return (
        dc.join(nd, "doc_id")
        .join(cf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.min("nd").cast("bigint").alias("n_tok"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_novelty"),
        )
    )


_NGRAM_NOVELTY_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
dc AS (SELECT doc_id, term, COUNT(*) AS cd FROM tok GROUP BY 1, 2),
nd AS (SELECT doc_id, CAST(SUM(cd) AS BIGINT) AS nd FROM dc GROUP BY 1),
cf AS (SELECT term, CAST(SUM(cd) AS BIGINT) AS cc FROM dc GROUP BY 1),
tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM cf)
SELECT dc.doc_id,
       CAST(MIN(nd.nd) AS BIGINT) AS n_tok,
       ROUND(SUM((cd * 1.0 / nd.nd)
                 * LN((cd * 1.0 / nd.nd) / (cc * 1.0 / nc))), 6)
         AS kl_novelty
FROM dc JOIN nd USING (doc_id) JOIN cf USING (term), tot
GROUP BY dc.doc_id
"""

register(doc_ngram_novelty, _NGRAM_NOVELTY_SQL)


def embedding_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector outlier score (new r7): the squared z-score sum
    across dimensions — diagonal Mahalanobis distance — flagged
    against the chi-square tail for d=64 (0.999 critical value
    104.72).  Completes the outlier family (rolling z, MAD, seasonal
    3-sigma) for the embedding column: the cheap global screen run
    before a semantic dedup or ANN build to quarantine corrupt or
    out-of-distribution vectors.  Full-covariance Mahalanobis needs a
    driver-side d x d inverse (the ``embedding_covariance_matrix`` +
    numpy path); the diagonal form stays entirely in SQL and catches
    the same axis-aligned corruption.

    Scale shape: the ``embedding_standardized`` skeleton — one
    posexplode pass, a width-sized (dim, mu, sigma) model broadcast
    back, one per-vector aggregation; no corpus shuffle beyond the
    64-row model build.  The flag compares the ROUNDED statistic (the
    boundary-tie rule)."""
    ex = _emb(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    model = ex.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    return (
        ex.join(F.broadcast(model), "dim")
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(
                    F.pow((F.col("v") - F.col("mu")) / F.col("sigma"), F.lit(2.0))
                ),
                4,
            ).alias("m2")
        )
        .withColumn("is_outlier", F.col("m2") > 104.72)
    )


_EMB_OUTLIER_SQL = """
WITH ex AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
model AS (
  SELECT dim, AVG(v) AS mu, STDDEV_SAMP(v) AS sigma FROM ex GROUP BY 1
),
s AS (
  SELECT ex.vec_id, ROUND(SUM(POW((ex.v - m.mu) / m.sigma, 2)), 4) AS m2
  FROM ex JOIN model m ON ex.dim = m.dim
  GROUP BY 1
)
SELECT vec_id, m2, m2 > 104.72 AS is_outlier FROM s
"""

register(embedding_outlier_score, _EMB_OUTLIER_SQL)


def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution (new
    r7): OLS slope of ``ln(freq)`` on ``ln(rank)`` over the vocabulary
    (a healthy natural-language corpus fits s close to -1; a synthetic
    or template-heavy corpus flattens or cliffs) — the one-number
    corpus-health diagnostic next to the per-source JS-drift monitor.
    Rank ties are broken lexicographically so both engines agree on
    the exact rank assignment.

    Scale shape: one term-count aggregation over the corpus, then the
    vocabulary-sized frame is ranked by ``curation.global_rank``
    (range-partitioned prefix sums — the open vocabulary never lands
    on one task) and reduced with Spark's built-in ``regr_*``
    aggregates; the oracle replays the identical order with a plain
    window."""
    from ..operators.curation import global_rank

    t = F.trim(F.lower(F.col("text")))
    freq = (
        _docs(spark, sf_dir)
        .filter(t != "")
        .select(F.explode(F.split(t, r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    ranked = global_rank(
        freq.select(
            "term", "c", (-F.col("c")).alias("neg_c")
        ),
        ["neg_c", "term"],
        rank_col="rank",
    )
    lr = F.log(F.col("rank").cast("double"))
    lf = F.log(F.col("c").cast("double"))
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_exponent"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


_ZIPF_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
r AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank FROM freq
)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
       ROUND(REGR_SLOPE(LN(c * 1.0), LN(rank * 1.0)), 6) AS zipf_exponent,
       ROUND(REGR_R2(LN(c * 1.0), LN(rank * 1.0)), 6) AS r2
FROM r
"""

register(doc_zipf_fit, _ZIPF_SQL)


def doc_source_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Population Stability Index (new r7) of the document
    length distribution vs the corpus reference — the numeric-feature
    companion to ``doc_source_token_drift``'s unigram JS divergence:
    token drift catches topical shift, PSI on a length feature catches
    format shift (boilerplate, truncation, chunking changes) in a
    crawl snapshot before it skews a training mix.  Bins are fixed
    64-char integer buckets capped at 10 (NOT computed quantile
    boundaries — FP boundary ties are not cross-engine stable); +0.5
    Laplace smoothing keeps empty bins finite; the standard >0.2
    action threshold sets ``drift_flag``.  Scale shape in
    :func:`..operators.profiling.psi_drift`: one pass over raw rows,
    bin counts folded into a single aggregation per side, ≤10-row
    reference broadcast."""
    docs = _docs(spark, sf_dir)
    return profiling.psi_drift(
        docs,
        "source",
        F.least(F.lit(9), F.expr("n_chars div 64")).cast("int"),
        n_bins=10,
    )


_SOURCE_PSI_SQL = """
WITH binned AS (
  SELECT source AS g, LEAST(9, n_chars // 64) AS b FROM documents
),
bins AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
ref AS (
  SELECT b.bin,
         (SELECT COUNT(*) FROM binned) AS n_ref,
         CAST(COUNT(d.b) AS BIGINT) AS cnt_ref
  FROM bins b LEFT JOIN binned d ON d.b = b.bin GROUP BY 1
),
src AS (
  SELECT s.g, b.bin, s.n, CAST(COUNT(d.b) AS BIGINT) AS cnt
  FROM (SELECT g, COUNT(*) AS n FROM binned GROUP BY 1) s
  CROSS JOIN bins b
  LEFT JOIN binned d ON d.g = s.g AND d.b = b.bin
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT s.g, MAX(s.n) AS n_rows,
         ROUND(SUM(((s.cnt + 0.5) / (s.n + 5.0)
                    - (r.cnt_ref + 0.5) / (r.n_ref + 5.0))
                   * ln(((s.cnt + 0.5) / (s.n + 5.0))
                        / ((r.cnt_ref + 0.5) / (r.n_ref + 5.0)))), 6) AS psi
  FROM src s JOIN ref r USING (bin) GROUP BY 1
)
SELECT g AS source, n_rows, psi, psi > 0.2 AS drift_flag FROM scored
"""

register(doc_source_psi_drift, _SOURCE_PSI_SQL)


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding corpus (new r7): 8
    subspaces x 16 centroids, 2 Lloyd rounds, 4-bit codes packed into
    one BIGINT per vector plus the L2 reconstruction error — the
    memory layout ANN-at-scale actually ships (a 64-dim float32
    vector becomes 8 bytes; asymmetric-distance search reads codes,
    not vectors).  Complements ``embedding_quantized``'s int8 scalar
    quantization (4x) with the 32x vector-quantized tier.

    Hash-checkable like ``knn_ivf``: training is deterministic (init =
    the 16 smallest ids' subvectors, plain L2 Lloyd — PQ does NOT
    normalize), so the oracle replays every round as unrolled CTEs per
    subspace; argmin margins dwarf cross-engine float drift and exact
    distance ties break first-min = cluster-ascending in both engines.
    Scale shape in :func:`..operators.similarity.pq_build`: the m
    subspaces train in one distributed pass per round (a rows x m
    explode), the codebook is d·ks doubles on the driver (the model
    artifact), encoding is one explode + one groupBy(id)."""
    emb = _emb(spark, sf_dir)
    codebooks = similarity.pq_build(emb, m=8, ks=16, iters=2)
    return similarity.pq_encode(emb, codebooks)


def _pq_round_ctes(i: int, m: int, ks: int, pre: str = "") -> str:
    """One unrolled PQ Lloyd round: argmin-assign per (id, sub) with
    ``ORDER BY d2, cluster`` (first-min tie-break =
    ``array_position(d, array_min(d))``), per-(sub, cluster, pos)
    re-average, empty cells keep their previous centroid.  ``pre``
    prefixes every CTE name so the replay can coexist with the IVF
    k-means CTEs in one statement (``knn_ivfpq``)."""
    return f"""{pre}a{i} AS MATERIALIZED (
  SELECT id, sub, sv, cluster FROM (
    SELECT v.id, v.sub, v.sv, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.id, v.sub
             ORDER BY list_sum(list_transform(v.sv,
                        (x, j) -> (x - c.c[j]) * (x - c.c[j]))), c.cluster)
             AS rn
    FROM {pre}subs v JOIN {pre}c{i - 1} c USING (sub)) WHERE rn = 1
),
{pre}m{i} AS MATERIALIZED (
  SELECT sub, cluster, list(mx ORDER BY pos) AS mc FROM (
    SELECT sub, cluster, pos, AVG(x) AS mx FROM (
      SELECT a.sub, a.cluster, generate_subscripts(a.sv, 1) AS pos,
             unnest(a.sv) AS x FROM {pre}a{i} a)
    GROUP BY 1, 2, 3) GROUP BY 1, 2
),
{pre}c{i} AS MATERIALIZED (
  SELECT p.sub, p.cluster, COALESCE(m.mc, p.c) AS c
  FROM {pre}c{i - 1} p LEFT JOIN {pre}m{i} m USING (sub, cluster)
)"""


# shared PQ training prefix: trains the per-subspace codebooks
# (unrolled Lloyd) and produces `final(id, sub, cluster, d2)` — the
# per-subvector assignment both the code query and the ADC search
# replay from
_PQ_TRAIN_CTES = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
sdims AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
subs AS MATERIALIZED (
  SELECT id, s.sub, list_slice(vec, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
  FROM e CROSS JOIN sdims s
),
init AS (SELECT id, vec FROM e ORDER BY id LIMIT 16),
c0 AS MATERIALIZED (
  SELECT s.sub,
         ROW_NUMBER() OVER (PARTITION BY s.sub ORDER BY i.id) - 1 AS cluster,
         list_slice(i.vec, s.sub * 8 + 1, s.sub * 8 + 8) AS c
  FROM init i CROSS JOIN sdims s
),
{_pq_round_ctes(1, 8, 16)},
{_pq_round_ctes(2, 8, 16)},
final AS (
  SELECT id, sub, cluster, d2 FROM (
    SELECT v.id, v.sub, c.cluster,
           list_sum(list_transform(v.sv,
             (x, j) -> (x - c.c[j]) * (x - c.c[j]))) AS d2,
           ROW_NUMBER() OVER (PARTITION BY v.id, v.sub
             ORDER BY list_sum(list_transform(v.sv,
                        (x, j) -> (x - c.c[j]) * (x - c.c[j]))), c.cluster)
             AS rn
    FROM subs v JOIN c2 c USING (sub)) WHERE rn = 1
)"""

_PQ_CODES_SQL = f"""{_PQ_TRAIN_CTES}
SELECT id AS vec_id,
       CAST(SUM(CAST(cluster AS BIGINT) << (4 * sub)) AS BIGINT) AS pq_code,
       ROUND(SQRT(SUM(d2)), 6) AS recon_err
FROM final GROUP BY 1
"""

register(embedding_pq_codes, _PQ_CODES_SQL)


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (new r7): the pinned probe set
    (vec_id < 5, same as ``knn_bruteforce``/``knn_ivf``) searched
    against 8-byte PQ codes via per-query distance tables — the third
    rung of the ANN ladder (brute float32 → int8 → IVF → PQ-ADC) and
    the in-cell scorer of an IVF-PQ composition at real scale.
    Hash-checkable end-to-end: the oracle replays the unrolled
    per-subspace Lloyd training, the code assignment, the query
    distance tables, and the ADC rank arithmetic; distances round(6)
    with neighbor-id tie-breaks.  See
    :func:`..operators.similarity.pq_adc_topk`."""
    emb = _emb(spark, sf_dir)
    codebooks = similarity.pq_build(emb, m=8, ks=16, iters=2)
    probes = emb.filter(F.col("vec_id") < 5)
    return similarity.pq_adc_topk(emb, probes, codebooks, k=10)


_PQ_ADC_SQL = f"""{_PQ_TRAIN_CTES},
tables AS MATERIALIZED (
  SELECT q.id AS query_id, c.sub, c.cluster,
         list_sum(list_transform(q.sv,
           (x, j) -> (x - c.c[j]) * (x - c.c[j]))) AS d2
  FROM (SELECT * FROM subs WHERE id < 5) q JOIN c2 c USING (sub)
),
scored AS (
  SELECT t.query_id, f.id AS neighbor_id,
         ROUND(SQRT(SUM(t.d2)), 6) AS adc_dist
  FROM final f JOIN tables t
    ON f.sub = t.sub AND f.cluster = t.cluster AND f.id != t.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""

register(knn_pq_adc, _PQ_ADC_SQL)


def doc_backoff_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Stupid Backoff trigram LM eval (new r7): train the
    n-gram count tables on the md5 75% split, score the held-out 25%
    with the ``c3/c12 → 0.4·c23/c2 → 0.16·add-one-unigram`` ladder —
    unlike the self-trained ``doc_perplexity_bigram`` the backoff
    branches genuinely fire, and the per-doc hit counts at each level
    are part of the output.  The Brants-style web-scale LM quality
    filter.  Scale notes in
    :func:`..operators.textstats.stupid_backoff_score`."""
    return textstats.stupid_backoff_score(_docs(spark, sf_dir))


_BACKOFF_LM_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
           ('0','1','2','3','4','5','6','7','8','9','a','b') AS train
  FROM documents WHERE trim(lower(text)) <> ''
),
tg AS (
  SELECT doc_id, train, w[i.i] AS w1, w[i.i + 1] AS w2, w[i.i + 2] AS w3
  FROM t, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) i
  WHERE len(w) >= 3
),
bg AS (
  SELECT train, w[i.i] AS a, w[i.i + 1] AS b
  FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
  WHERE len(w) >= 2
),
c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg WHERE train GROUP BY 1, 2, 3),
c2 AS (SELECT a, b, COUNT(*) AS cb FROM bg WHERE train GROUP BY 1, 2),
c1 AS (SELECT u, COUNT(*) AS cu
       FROM (SELECT unnest(w) AS u FROM t WHERE train) GROUP BY 1),
stats AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total,
                 CAST(COUNT(*) AS BIGINT) AS v1 FROM c1),
scored AS (
  SELECT h.doc_id,
         c3.c3 IS NOT NULL AS tri_hit,
         c3.c3 IS NULL AND b23.cb IS NOT NULL AS bi_hit,
         -ln(CASE
           WHEN c3.c3 IS NOT NULL THEN c3.c3 * 1.0 / b12.cb
           WHEN b23.cb IS NOT NULL THEN 0.4 * b23.cb / u2.cu
           ELSE 0.16 * (COALESCE(u3.cu, 0) + 1.0) / (s.n_total + s.v1)
         END) AS nll
  FROM (SELECT * FROM tg WHERE NOT train) h
  LEFT JOIN c3 ON c3.w1 = h.w1 AND c3.w2 = h.w2 AND c3.w3 = h.w3
  LEFT JOIN c2 b12 ON b12.a = h.w1 AND b12.b = h.w2
  LEFT JOIN c2 b23 ON b23.a = h.w2 AND b23.b = h.w3
  LEFT JOIN c1 u2 ON u2.u = h.w2
  LEFT JOIN c1 u3 ON u3.u = h.w3
  CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_trigrams,
       CAST(SUM(CASE WHEN tri_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
       CAST(SUM(CASE WHEN bi_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_hits,
       ROUND(AVG(nll), 6) AS avg_neg_logscore,
       ROUND(exp(AVG(nll)), 6) AS sb_ppl
FROM scored GROUP BY 1
"""

register(doc_backoff_lm_eval, _BACKOFF_LM_SQL)


def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (new r7): the 10 maximally-spread
    vectors by farthest-point selection — the corpus-level diversity
    sampler (seed/eval-subset picking) next to the per-query
    ``embedding_mmr_diverse``.  Deterministic (start = smallest id,
    distances round(6), id tie-breaks), so the oracle replays all ten
    picks as unrolled argmax CTEs.  Scale notes in
    :func:`..operators.similarity.kcenter_select`: k narrow corpus
    passes, each ending in a TakeOrdered top-1; only picked vectors
    reach the driver."""
    return similarity.kcenter_select(_emb(spark, sf_dir), k=10)


def _kcenter_ctes(k: int) -> str:
    parts = [
        """all1 AS MATERIALIZED (
  SELECT 1 AS pick, id, CAST(NULL AS DOUBLE) AS md, vec
  FROM v WHERE id = (SELECT MIN(id) FROM v)
)"""
    ]
    for i in range(2, k + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT v.id, ANY_VALUE(v.vec) AS vec,
         ROUND(MIN(list_sum(list_transform(v.vec,
           (x, j) -> (x - s.vec[j]) * (x - s.vec[j])))), 6) AS md
  FROM v CROSS JOIN all{i - 1} s
  WHERE v.id NOT IN (SELECT id FROM all{i - 1})
  GROUP BY v.id
)""")
        parts.append(f"""s{i} AS MATERIALIZED (
  SELECT {i} AS pick, id, md, vec FROM c{i} ORDER BY md DESC, id LIMIT 1
)""")
        parts.append(
            f"all{i} AS MATERIALIZED"
            f" (SELECT * FROM all{i - 1} UNION ALL SELECT * FROM s{i})"
        )
    return ",\n".join(parts)


_KCENTER_SQL = f"""
WITH v AS MATERIALIZED
  (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kcenter_ctes(10)}
SELECT pick, id AS vec_id, md AS min_dist_sq FROM all10
"""

register(embedding_kcenter_coreset, _KCENTER_SQL)


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (new r7): the production composition — IVF cell
    routing (16 spherical cells, nprobe 4) prunes the corpus, PQ
    asymmetric-distance scoring (8 subspaces x 16 centroids, 8-byte
    codes) ranks the survivors — completing the ANN ladder
    (brute → int8 → IVF → PQ-ADC → IVF-PQ) on the pinned probe set.
    Hash-checkable end-to-end: BOTH trainings are deterministic, so
    the oracle replays the spherical k-means (``_kmeans_ctes``), the
    prefixed per-subspace Lloyd (``_pq_round_ctes(pre='p')``), the
    cell routing, the distance tables, and the ADC rank arithmetic in
    one statement.  Scale notes in
    :func:`..operators.similarity.ivfpq_topk`."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 5)
    return similarity.ivfpq_topk(emb, probes, k=10)


_IVFPQ_SQL = f"""
WITH v AS MATERIALIZED
  (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
cells AS MATERIALIZED (
  SELECT id, cluster AS cell FROM (
    SELECT vn.id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS rn
    FROM vn, c2 c) WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT id AS query_id, cluster AS cell FROM (
    SELECT vn.id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS pr
    FROM vn, c2 c WHERE vn.id < 5) WHERE pr <= 4
),
sdims AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
psubs AS MATERIALIZED (
  SELECT id, s.sub, list_slice(vec, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
  FROM v CROSS JOIN sdims s
),
pinit AS (SELECT id, vec FROM v ORDER BY id LIMIT 16),
pc0 AS MATERIALIZED (
  SELECT s.sub,
         ROW_NUMBER() OVER (PARTITION BY s.sub ORDER BY i.id) - 1 AS cluster,
         list_slice(i.vec, s.sub * 8 + 1, s.sub * 8 + 8) AS c
  FROM pinit i CROSS JOIN sdims s
),
{_pq_round_ctes(1, 8, 16, pre="p")},
{_pq_round_ctes(2, 8, 16, pre="p")},
pfinal AS MATERIALIZED (
  SELECT id, sub, cluster FROM (
    SELECT v.id, v.sub, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.id, v.sub
             ORDER BY list_sum(list_transform(v.sv,
                        (x, j) -> (x - c.c[j]) * (x - c.c[j]))), c.cluster)
             AS rn
    FROM psubs v JOIN pc2 c USING (sub)) WHERE rn = 1
),
tables AS MATERIALIZED (
  SELECT q.id AS query_id, c.sub, c.cluster,
         list_sum(list_transform(q.sv,
           (x, j) -> (x - c.c[j]) * (x - c.c[j]))) AS d2
  FROM (SELECT * FROM psubs WHERE id < 5) q JOIN pc2 c USING (sub)
),
routed AS (
  SELECT p.query_id, f.id AS neighbor_id, f.sub, f.cluster
  FROM pfinal f
  JOIN cells ce ON ce.id = f.id
  JOIN probes p ON p.cell = ce.cell
  WHERE f.id != p.query_id
),
scored AS (
  SELECT r.query_id, r.neighbor_id,
         ROUND(SQRT(SUM(t.d2)), 6) AS adc_dist
  FROM routed r
  JOIN tables t ON t.query_id = r.query_id AND t.sub = r.sub
               AND t.cluster = r.cluster
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""

register(knn_ivfpq, _IVFPQ_SQL)


def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source (new r7): BPE tokens per
    whitespace word, by source — the standard tokenizer-fit diagnostic
    (a source whose fertility is far above the corpus needs vocab
    coverage before training, or its token budget estimates are
    wrong).  Reuses the deterministic 24-merge BPE pipeline
    (``doc_bpe_vocab``/``doc_bpe_tokens``): train once, encode via the
    distinct-word fold, then ONE per-source aggregation; fertility is
    a ratio of exact integer sums, so the only rounding is the final
    ROUND(6)."""
    from ..operators import tokenizer
    from ..operators.textstats import normalize_text, tokens

    docs = _docs(spark, sf_dir)
    merges = tokenizer.bpe_train(docs, n_merges=24)
    enc = tokenizer.bpe_encode(docs, merges)
    per_doc = enc.select("doc_id", F.size("tokens").alias("n_bpe")).join(
        docs.select(
            "doc_id",
            "source",
            F.size(tokens(normalize_text(F.col("text")))).alias("n_words"),
        ),
        "doc_id",
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.round(F.sum("n_bpe") / F.sum("n_words"), 6).alias("fertility"),
    )


def _bpe_fertility_oracle(n_merges: int = 24) -> str:
    prefix, _, d = _bpe_vocab_sql(n_merges)
    return f"""{prefix},
wtok AS MATERIALIZED (
  SELECT word,
         len(list_filter(string_split(sym, {d}), x -> x <> '')) AS n_tok
  FROM wf{n_merges}
),
docw AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
  FROM documents WHERE {_NORM} <> ''
),
per_doc AS (
  SELECT dw.doc_id, CAST(SUM(w.n_tok) AS BIGINT) AS n_bpe,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM docw dw JOIN wtok w USING (word) GROUP BY 1
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       ROUND(SUM(p.n_bpe) * 1.0 / SUM(p.n_words), 6) AS fertility
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY 1
"""


register(doc_tokenizer_fertility, _bpe_fertility_oracle())


def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE top keyphrase per document (new r7) — the multi-word
    complement of ``doc_tfidf_top_term``; phrase boundaries come from
    the deterministic shared stopword list, scores are exact
    degree/frequency ratios.  Fully doc-local (every shuffle key
    includes doc_id); see
    :func:`..operators.textstats.rake_keyphrases`."""
    return textstats.rake_keyphrases(_docs(spark, sf_dir))


_RAKE_STOPS = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)

_RAKE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS w FROM (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
             AS w
    FROM documents
    WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''
  ), LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i
),
words AS (
  SELECT doc_id, pos, w,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM toks WHERE w NOT IN ({_RAKE_STOPS})
),
plen AS (SELECT doc_id, grp, COUNT(*) AS plen FROM words GROUP BY 1, 2),
wstats AS (
  SELECT w.doc_id, w.w,
         SUM(p.plen) * 1.0 / COUNT(*) AS wscore
  FROM words w JOIN plen p USING (doc_id, grp)
  GROUP BY 1, 2
),
phrases AS (
  SELECT doc_id, phrase, MAX(score) AS score, MAX(n_words) AS n_words
  FROM (
    SELECT w.doc_id, w.grp,
           ROUND(SUM(s.wscore), 6) AS score,
           string_agg(w.w, ' ' ORDER BY w.pos) AS phrase,
           COUNT(*) AS n_words
    FROM words w JOIN wstats s ON s.doc_id = w.doc_id AND s.w = w.w
    GROUP BY 1, 2
  ) GROUP BY 1, 2
)
SELECT doc_id, phrase, n_words, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, phrase) AS rn
  FROM phrases) WHERE rn = 1
"""

register(doc_rake_keyphrases, _RAKE_SQL)


def doc_textrank_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank top sentence per document (new r7) — extractive
    summarization as two unrolled power-iteration rounds over the
    doc-local sentence-overlap graph; the sentence-level complement of
    ``doc_rake_keyphrases``.  See
    :func:`..operators.textstats.textrank_top_sentence`."""
    return textstats.textrank_top_sentence(_docs(spark, sf_dir))


def _textrank_round(i: int, d: float) -> str:
    return f"""ct{i} AS (
  SELECT e.doc_id, e.dst AS i,
         SUM(e.w * s.s / e.out_w) AS c
  FROM ew e JOIN sc{i - 1} s ON s.doc_id = e.doc_id AND s.i = e.src
  GROUP BY 1, 2
),
sc{i} AS (
  SELECT v.doc_id, v.i,
         (1 - {d}) / n.n_sents + {d} * COALESCE(c.c, 0.0) AS s
  FROM verts v
  JOIN n USING (doc_id)
  LEFT JOIN ct{i} c ON c.doc_id = v.doc_id AND c.i = v.i
)"""


_TEXTRANK_SQL = rf"""
WITH raw AS (
  SELECT doc_id, i.i - 1 AS i, trim(p[i.i]) AS sent FROM (
    SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS p FROM documents
  ), LATERAL (SELECT unnest(range(1, len(p) + 1)) AS i) i
),
sw AS MATERIALIZED (
  SELECT doc_id, i, sent,
         list_distinct(regexp_split_to_array(lower(sent), '\s+')) AS ws
  FROM raw WHERE sent <> ''
),
verts AS (SELECT doc_id, i FROM sw),
n AS (SELECT doc_id, COUNT(*) AS n_sents FROM sw GROUP BY 1),
ew AS MATERIALIZED (
  SELECT e.doc_id, e.src, e.dst, e.w,
         SUM(e.w) OVER (PARTITION BY e.doc_id, e.src) AS out_w
  FROM (
    SELECT a.doc_id, a.i AS src, b.i AS dst,
           len(list_intersect(a.ws, b.ws)) * 1.0
             / (len(a.ws) + len(b.ws)) AS w
    FROM sw a JOIN sw b ON a.doc_id = b.doc_id AND a.i != b.i
    WHERE len(list_intersect(a.ws, b.ws)) > 0
  ) e
),
sc0 AS (SELECT doc_id, i, 1.0 / n_sents AS s FROM verts JOIN n USING (doc_id)),
{_textrank_round(1, 0.85)},
{_textrank_round(2, 0.85)},
ranked AS (
  SELECT s.doc_id, s.i, ROUND(s.s, 6) AS sr,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY ROUND(s.s, 6) DESC, s.i) AS rn
  FROM sc2 s
)
SELECT r.doc_id, r.i AS sent_idx, w.sent AS sentence,
       n.n_sents AS n_sentences, r.sr AS score
FROM ranked r
JOIN sw w ON w.doc_id = r.doc_id AND w.i = r.i
JOIN n ON n.doc_id = r.doc_id
WHERE r.rn = 1
"""

register(doc_textrank_sentence, _TEXTRANK_SQL)


def doc_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (new r8): the G²
    statistic of every adjacent bigram's 2×2 contingency table
    (bigram count vs first-/second-slot marginals), the standard
    corpus-linguistics measure of "these two tokens co-occur far more
    than chance" — the phrase-discovery member of the corpus-stats
    family (Zipf fit, n-gram novelty, token drift).  Top-30 bigrams
    with n11 ≥ 5 by (rounded G², pair).

    Cross-engine exactness: every count is an exact integer; the four
    G² terms are computed in double in the same written order (k·N
    and R·C products are taken in DOUBLE so the shape is overflow-free
    at any corpus size), ln on identical doubles, fixed 4-term
    left-associated sum, round-4 output.

    Scale shape: bigrams come from a per-row ``transform(sequence)``
    over the token array — pure codegen, NO self-join, no posexplode
    pair shuffle; three hash aggregations (bigram, first-slot,
    second-slot) + a 1-row total broadcast; marginal joins key on the
    word (vocab-sized frames); top-30 is TakeOrderedAndProject."""
    from ..operators.textstats import normalize_text

    toks = (
        _docs(spark, sf_dir)
        .select(F.split(normalize_text(F.col("text")), " ").alias("w"))
        .filter(F.size("w") >= 2)
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) AS w1, "
                "element_at(w, i + 1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    n11 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k11"))
    r1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("r1"))
    c2 = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    nn = pairs.agg(F.count(F.lit(1)).alias("nn"))
    j = (
        n11.filter(F.col("k11") >= 5)
        .join(r1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(nn))
    )
    k11 = F.col("k11").cast("double")
    k12 = (F.col("r1") - F.col("k11")).cast("double")
    k21 = (F.col("c2") - F.col("k11")).cast("double")
    k22 = (F.col("nn") - F.col("r1") - F.col("c2") + F.col("k11")).cast(
        "double"
    )
    n = F.col("nn").cast("double")
    rr1 = F.col("r1").cast("double")
    cc2 = F.col("c2").cast("double")

    def term(k, r, c):
        return F.when(k > 0, k * F.log(k * n / (r * c))).otherwise(F.lit(0.0))

    g2 = F.round(
        2.0
        * (
            term(k11, rr1, cc2)
            + term(k12, rr1, n - cc2)
            + term(k21, n - rr1, cc2)
            + term(k22, n - rr1, n - cc2)
        ),
        4,
    )
    return (
        j.select("w1", "w2", F.col("k11").alias("n11"), g2.alias("llr"))
        .orderBy(F.col("llr").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(30)
    )


_COLLOCATIONS_SQL = r"""
WITH toks AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS w
  FROM documents
), pairs AS (
  SELECT p[1] AS w1, p[2] AS w2
  FROM (SELECT unnest(list_zip(w[1:len(w) - 1], w[2:len(w)])) AS p
        FROM toks WHERE len(w) >= 2)
), n11 AS (
  SELECT w1, w2, COUNT(*) AS k11 FROM pairs GROUP BY 1, 2
), r1 AS (SELECT w1, COUNT(*) AS r1 FROM pairs GROUP BY 1),
c2 AS (SELECT w2, COUNT(*) AS c2 FROM pairs GROUP BY 1),
nn AS (SELECT COUNT(*) AS nn FROM pairs),
j AS (
  SELECT n11.w1, n11.w2, k11, r1.r1, c2.c2, nn.nn
  FROM n11 JOIN r1 ON n11.w1 = r1.w1
           JOIN c2 ON n11.w2 = c2.w2
           CROSS JOIN nn
  WHERE k11 >= 5
), g AS (
  SELECT w1, w2, k11,
    ROUND(2.0 * (
      (CASE WHEN CAST(k11 AS DOUBLE) > 0 THEN CAST(k11 AS DOUBLE)
        * ln(CAST(k11 AS DOUBLE) * CAST(nn AS DOUBLE)
             / (CAST(r1 AS DOUBLE) * CAST(c2 AS DOUBLE))) ELSE 0.0 END)
      + (CASE WHEN CAST(r1 - k11 AS DOUBLE) > 0 THEN CAST(r1 - k11 AS DOUBLE)
        * ln(CAST(r1 - k11 AS DOUBLE) * CAST(nn AS DOUBLE)
             / (CAST(r1 AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(c2 AS DOUBLE))))
        ELSE 0.0 END)
      + (CASE WHEN CAST(c2 - k11 AS DOUBLE) > 0 THEN CAST(c2 - k11 AS DOUBLE)
        * ln(CAST(c2 - k11 AS DOUBLE) * CAST(nn AS DOUBLE)
             / ((CAST(nn AS DOUBLE) - CAST(r1 AS DOUBLE)) * CAST(c2 AS DOUBLE)))
        ELSE 0.0 END)
      + (CASE WHEN CAST(nn - r1 - c2 + k11 AS DOUBLE) > 0
        THEN CAST(nn - r1 - c2 + k11 AS DOUBLE)
        * ln(CAST(nn - r1 - c2 + k11 AS DOUBLE) * CAST(nn AS DOUBLE)
             / ((CAST(nn AS DOUBLE) - CAST(r1 AS DOUBLE))
                * (CAST(nn AS DOUBLE) - CAST(c2 AS DOUBLE))))
        ELSE 0.0 END)
    ), 4) AS llr
  FROM j
)
SELECT w1, w2, CAST(k11 AS BIGINT) AS n11, llr
FROM g
ORDER BY llr DESC, w1, w2
LIMIT 30
"""

register(doc_collocations_llr, _COLLOCATIONS_SQL)


def media_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints (new r8) — the media family's
    FIRST oracle-paired query: deterministic PPM blobs are encoded and
    decoded through the real codec path
    (:func:`..operators.multimodal.attach_codec_media` /
    ``decode_ppm``) and hashed with the integer-semantics 64-bit aHash
    (:func:`..operators.multimodal.image_ahash`).  Because the
    synthetic image generator is pure integer arithmetic
    (``pixel(c) = (x*31 + y*17 + (c+1)*mid) % 256``) and the aHash
    threshold is the exact integer test ``sum3*64 > total``, DuckDB
    can replay the ENTIRE encode→decode→hash loop — so the driver
    hash-checks the multimodal plumbing end-to-end instead of the
    rows-only signal its three sibling queries get.  The banding
    columns b0..b3 are the pigeonhole blocking keys of
    ``ahash_near_dup_pairs`` (unit-tested with planted near-dups)."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_codec_media(docs)
    return multimodal.image_ahash(media).orderBy("media_id")


_IMAGE_AHASH_SQL = """
WITH ids AS (
  SELECT doc_id AS mid FROM documents
  WHERE doc_id < 100 AND doc_id % 3 = 0
),
px AS (
  SELECT mid, gy.range AS gy, gx.range AS gx,
         ((gx.range * 31 + gy.range * 17 + mid) % 256)
         + ((gx.range * 31 + gy.range * 17 + 2 * mid) % 256)
         + ((gx.range * 31 + gy.range * 17 + 3 * mid) % 256) AS s3
  FROM ids, range(8) gy, range(8) gx
),
tot AS (SELECT mid, SUM(s3) AS total FROM px GROUP BY 1),
bits AS (
  SELECT px.mid, gy, gx,
         CASE WHEN s3 * 64 > t.total THEN 1 ELSE 0 END AS bit
  FROM px JOIN tot t ON px.mid = t.mid
),
bytes AS (
  SELECT mid, gy,
         CAST(SUM(bit * (1 << (7 - gx))) AS INT) AS byte
  FROM bits GROUP BY 1, 2
),
packed AS (
  SELECT mid,
         string_agg(lpad(lower(to_hex(byte)), 2, '0'), '' ORDER BY gy)
           AS ahash_hex,
         CAST(MAX(CASE WHEN gy = 0 THEN byte END) * 256
              + MAX(CASE WHEN gy = 1 THEN byte END) AS INT) AS b0,
         CAST(MAX(CASE WHEN gy = 2 THEN byte END) * 256
              + MAX(CASE WHEN gy = 3 THEN byte END) AS INT) AS b1,
         CAST(MAX(CASE WHEN gy = 4 THEN byte END) * 256
              + MAX(CASE WHEN gy = 5 THEN byte END) AS INT) AS b2,
         CAST(MAX(CASE WHEN gy = 6 THEN byte END) * 256
              + MAX(CASE WHEN gy = 7 THEN byte END) AS INT) AS b3
  FROM bytes GROUP BY 1
)
SELECT mid AS media_id, ahash_hex, b0, b1, b2, b3
FROM packed ORDER BY media_id
"""

register(media_image_ahash, _IMAGE_AHASH_SQL)


def media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM16 signal statistics (new r9) — the media family's SECOND
    oracle-paired query, covering the WAV side of the codec path the
    way :func:`media_image_ahash` covers PPM (VERDICT r8 #6):
    deterministic RIFF/WAVE blobs are encoded and decoded through the
    real chunk-walking parser
    (:func:`..operators.multimodal.attach_codec_media` /
    ``decode_wav_pcm16``) and reduced to exact integer statistics
    (:func:`..operators.multimodal.audio_pcm_stats`).  The synthetic
    waveform is pure integer arithmetic
    (``x_i = ((mid*2654435761 + i*40503) % 65536) - 32768``), so DuckDB
    replays the ENTIRE encode→decode→measure loop; the single float
    (RMS) is an unrounded IEEE sqrt of an exact dyadic ratio —
    bit-identical cross-engine."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_codec_media(docs)
    return multimodal.audio_pcm_stats(media).orderBy("media_id")


_AUDIO_STATS_SQL = """
WITH ids AS (
  SELECT doc_id AS mid FROM documents
  WHERE doc_id < 100 AND doc_id % 3 = 1
),
s AS (
  SELECT mid, i.range AS i,
         ((mid * 2654435761 + i.range * 40503) % 65536) - 32768 AS x
  FROM ids, range(64) i
),
lagged AS (
  SELECT mid, i, x,
         LAG(x) OVER (PARTITION BY mid ORDER BY i) AS prev
  FROM s
)
SELECT mid AS media_id,
       CAST(16000 AS BIGINT) AS rate,
       COUNT(*)::BIGINT AS n_samples,
       CAST(SUM(x) AS BIGINT) AS sum_samples,
       CAST(SUM(x * x) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(x)) AS BIGINT) AS peak,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (x < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(MIN(x) AS BIGINT) AS smin,
       CAST(MAX(x) AS BIGINT) AS smax,
       SQRT(CAST(SUM(x * x) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)) AS rms
FROM lagged
GROUP BY 1
ORDER BY media_id
"""

register(media_audio_stats, _AUDIO_STATS_SQL)


def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (new r8): the heuristic detector
    (``textstats.detect_lang``) evaluated against the fixture's
    ground-truth ``lang`` column — per (actual, predicted) cell count
    and row-normalized share, the standard classifier-quality readout
    (``doc_language_id`` emits per-doc predictions; this is its
    aggregate EVAL, the confusion counterpart of the AUC/calibration
    pair on the quality score).

    Scale shape: one narrow scoring pass (stopword-list hits fold
    in-row, pure codegen), one (actual, predicted) aggregation over at
    most |langs|² groups, per-actual totals attached by broadcast.
    The share is an exact integer ratio rounded to 6."""
    p = _docs(spark, sf_dir).select(
        "lang", textstats.detect_lang(F.col("text")).alias("lang_pred")
    )
    cm = p.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    tot = p.groupBy("lang").agg(F.count(F.lit(1)).alias("t"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("t"), 6).alias("row_share"),
    )


_LANG_CONFUSION_SQL = rf"""
WITH toks AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM documents
), s AS (
  SELECT lang,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("en")}'))) AS s_en,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("de")}'))) AS s_de,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("es")}'))) AS s_es,
         len(list_filter(w, x -> x IN ('{_lang_list_sql("fr")}'))) AS s_fr
  FROM toks
), p AS (
  SELECT lang,
         CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
              WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
              WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
              WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM s
), cm AS (
  SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2
), tot AS (SELECT lang, COUNT(*) AS t FROM p GROUP BY 1)
SELECT cm.lang, cm.lang_pred, CAST(cm.n AS BIGINT) AS n,
       ROUND(cm.n * 1.0 / tot.t, 6) AS row_share
FROM cm JOIN tot ON cm.lang = tot.lang
"""

register(doc_lang_confusion, _LANG_CONFUSION_SQL)


def embedding_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell census (new r9): the deterministic spherical k-means
    codebook (``similarity.ivf_build`` — the exact machinery behind
    knn_ivf / SemDeDup) assigned over the corpus, emitting per-cell
    sizes and shares.  This is the operational diagnostic that decides
    whether an IVF index is USABLE at scale: probe cost is bounded by
    the largest cells, and a skewed census means re-training the
    codebook or splitting hot cells — the ANN-family twin of the
    join-key skew report.

    Scale shape: codebook training is the documented amortized-path
    trade-off shared with knn_ivf; assignment is one broadcast-codebook
    map pass; the census is a k-row aggregate with a window share."""
    emb = _emb(spark, sf_dir)
    centroids = similarity.ivf_build(emb, n_centroids=16, iters=2)
    assigned = emb.select(
        similarity._normalize(
            similarity._as_double("embedding")
        ).alias("_nv")
    ).select(similarity.ivf_assign(F.col("_nv"), centroids).alias("cluster"))
    census = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    total = census.agg(F.sum("n_vecs").alias("total"))
    return (
        census.crossJoin(F.broadcast(total))  # 1-row scalar, stays in-plan
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(F.col("n_vecs") / F.col("total"), 6).alias("share"),
        )
        .orderBy("cluster")
    )


_CLUSTER_BALANCE_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
assign AS MATERIALIZED (
  SELECT id, cluster FROM (
    SELECT vn.id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS rn
    FROM vn, c2 c) WHERE rn = 1
),
census AS (SELECT cluster, COUNT(*) AS n_vecs FROM assign GROUP BY 1),
nn AS (SELECT SUM(n_vecs) AS total FROM census)
SELECT CAST(c.cluster AS INTEGER) AS cluster,
       CAST(c.n_vecs AS BIGINT) AS n_vecs,
       ROUND(c.n_vecs * 1.0 / nn.total, 6) AS share
FROM census c CROSS JOIN nn
ORDER BY cluster
"""

register(embedding_cluster_balance, _CLUSTER_BALANCE_SQL)


def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization error report (new r9): the precision side of
    the speed/storage trade ``embedding_quantized`` and ``knn_int8``
    buy — per norm-band statistics of cosine(full, dequantized) and
    reconstruction MSE, the diagnostic that decides whether int8 (or
    PQ) is safe for a given corpus before swapping it into the ANN
    serving path.

    Cross-engine exactness: quantized ints are integer-exact (the
    embedding_quantized convention); dequantization, dot products and
    norms are the SAME left-to-right float64 folds on identical inputs
    in both engines (the knn_bruteforce parity), per-vector statistics
    are rounded, and the band means DECIMAL-cast the rounded per-vector
    values before summing.  Bands are fixed value-range eighths of the
    corpus-max PEAK AMPLITUDE max|x| (the per-vector quantization-step
    driver — fixture embeddings are unit-norm, so norm itself is
    degenerate), via a 1-row broadcast scalar — no global window.

    Scale shape: narrow per-row transforms (zero shuffle) to the
    per-vector frame, one bounded 8-band aggregation."""
    emb = _emb(spark, sf_dir)
    v = similarity._as_double("embedding")
    q = similarity.quantize_int8(F.col("embedding"))
    deq = F.zip_with(
        q.getField("q"),
        F.array_repeat(q.getField("scale"), F.size(q.getField("q"))),
        lambda qi, s: qi.cast("double") * s,
    )
    d = F.size(F.col("embedding"))
    per_vec = emb.select(
        "vec_id",
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("nrm"),
        F.round(similarity.cosine(v, deq), 6).alias("cos_fd"),
        F.round(
            similarity.dot(
                F.zip_with(v, deq, lambda x, y: x - y),
                F.zip_with(v, deq, lambda x, y: x - y),
            )
            / d,
            9,
        ).alias("mse"),
    )
    maxn = per_vec.agg(F.max("nrm").alias("maxn"))
    banded = per_vec.crossJoin(F.broadcast(maxn)).select(
        F.least(
            F.floor(F.col("nrm") * 8.0 / F.col("maxn")).cast("int"), F.lit(7)
        ).alias("band"),
        "cos_fd",
        "mse",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                (
                    F.sum(F.col("cos_fd").cast("decimal(28,12)"))
                    / F.count(F.lit(1))
                ).cast("double"),
                6,
            ).alias("mean_cos"),
            F.round(F.min("cos_fd"), 6).alias("min_cos"),
            F.round(
                (
                    F.sum(F.col("mse").cast("decimal(28,15)"))
                    / F.count(F.lit(1))
                ).cast("double"),
                9,
            ).alias("mean_mse"),
        )
        .orderBy("band")
    )


_QUANT_ERROR_SQL = """
WITH m AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                        'max') AS mx
  FROM embeddings
),
dq AS (
  SELECT vec_id, v, mx,
         CASE WHEN mx = 0
              THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v,
                     x -> CAST(round(x * 127.0 / mx) AS INT) * (mx / 127.0))
         END AS deq
  FROM m
),
per_vec AS (
  SELECT vec_id,
         mx AS nrm,
         ROUND(list_dot_product(v, deq)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(deq, deq))), 6) AS cos_fd,
         ROUND(list_dot_product(
                 list_transform(list_zip(v, deq), p -> p[1] - p[2]),
                 list_transform(list_zip(v, deq), p -> p[1] - p[2]))
               / len(v), 9) AS mse
  FROM dq
),
maxn AS (SELECT MAX(nrm) AS maxn FROM per_vec)
SELECT LEAST(CAST(FLOOR(p.nrm * 8.0 / maxn.maxn) AS INTEGER), 7) AS band,
       COUNT(*)::BIGINT AS n_vecs,
       ROUND(CAST(SUM(CAST(cos_fd AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE), 6)
         AS mean_cos,
       ROUND(MIN(cos_fd), 6) AS min_cos,
       ROUND(CAST(SUM(CAST(mse AS DECIMAL(28,15))) / COUNT(*) AS DOUBLE), 9)
         AS mean_mse
FROM per_vec p CROSS JOIN maxn
GROUP BY 1 ORDER BY 1
"""

register(embedding_quantization_error, _QUANT_ERROR_SQL)


def media_resized_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image resize, hash-checked end-to-end (new r9)
    — the media family's THIRD oracle-paired query, moving the RESIZE
    path beyond the rows-only signal of ``media_resized``: PPM blobs
    are encoded, decoded, index-sampled 8×8→4×4 and re-encoded through
    the real codec path
    (:func:`..operators.multimodal.resize_media`), and the ENTIRE
    resized blob is emitted as hex.  Nearest-neighbor sampling is pure
    integer index arithmetic (``src = out·in_dim // out_dim``), so
    DuckDB replays encode→decode→resize→re-encode byte-for-byte —
    header included (a constant ASCII prefix)."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_codec_media(docs)
    resized = multimodal.resize_media(media, out_w=4, out_h=4)
    return resized.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.lower(F.hex("content")).alias("content_hex"),
    ).orderBy("media_id")


_RESIZED_HEX_SQL = """
WITH ids AS (
  SELECT doc_id AS mid FROM documents
  WHERE doc_id < 100 AND doc_id % 3 = 0
),
px AS (
  SELECT mid, y.range AS y, x.range AS x, c.range AS c,
         ((x.range * 2) * 31 + (y.range * 2) * 17 + mid * (c.range + 1))
           % 256 AS v
  FROM ids, range(4) y, range(4) x, range(3) c
)
SELECT mid AS media_id,
       CAST(4 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       '50360a3420340a3235350a'
         || string_agg(lpad(lower(to_hex(v)), 2, '0'), ''
                       ORDER BY y, x, c) AS content_hex
FROM px GROUP BY mid ORDER BY media_id
"""

register(media_resized_hex, _RESIZED_HEX_SQL)


def doc_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of corpus vocabulary growth (new r10) — the
    companion diagnostic to ``doc_zipf_fit``: V(n) = K * n^beta, with
    beta well below 1 for natural language and near 1 for
    template/ID-heavy corpora (vocabulary that never saturates is a
    dedup/tokenizer smell before it is a modeling problem).

    The corpus is swept in doc_id order, bucketed into 10 equal
    doc_id RANGES (pure arithmetic on the ids — no rank job), and the
    cumulative (tokens seen, distinct terms seen) curve is fit by OLS
    on the log-log points via Spark's built-in ``regr_*`` aggregates.

    Scale shape: one explode + one vocabulary-sized MIN(bucket)
    aggregation (the open vocabulary stays distributed; same contract
    as doc_zipf_fit), one 10-row bucket aggregate; the cumulative
    window runs over the 10-row frame, never the corpus.  The 1-row
    min/max bounds frame rides a broadcast cross join."""
    t = F.trim(F.lower(F.col("text")))
    d = (
        _docs(spark, sf_dir)
        .filter(t != "")
        .select("doc_id", t.alias("t"))
    )
    bounds = d.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    tok = (
        d.crossJoin(F.broadcast(bounds))
        .select(
            F.floor(
                10.0
                * (F.col("doc_id") - F.col("mn"))
                / (F.col("mx") - F.col("mn") + 1)
            )
            .cast("int")
            .alias("b"),
            F.explode(F.split(F.col("t"), r"\s+")).alias("term"),
        )
    )
    per_bucket = tok.groupBy("b").agg(F.count("*").alias("nt"))
    new_terms = (
        tok.groupBy("term")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("nv"))
    )
    # 10-row frame: the unpartitioned running-sum window is bounded by
    # the bucket count, not the corpus
    from pyspark.sql import Window

    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per_bucket.join(new_terms, "b", "left")
        .select(
            "b",
            F.sum("nt").over(w).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    lv = F.log(F.col("cum_vocab").cast("double"))
    lt = F.log(F.col("cum_tokens").cast("double"))
    # + 0.0 normalizes a possible -0.0 slope (sign of a zero covariance
    # depends on engine-internal summation order; IEEE x+0.0 == x for
    # every other value, so non-degenerate fits are untouched)
    return cum.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.max("cum_tokens").cast("bigint").alias("total_tokens"),
        F.max("cum_vocab").cast("bigint").alias("vocab_size"),
        (F.round(F.regr_slope(lv, lt), 6) + F.lit(0.0)).alias("heaps_beta"),
        F.round(F.regr_intercept(lv, lt), 6).alias("heaps_log_k"),
        F.round(F.regr_r2(lv, lt), 6).alias("r2"),
    )


_HEAPS_SQL = r"""
WITH d AS (
  SELECT doc_id, trim(lower(text)) AS t
  FROM documents WHERE trim(lower(text)) <> ''
),
bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM d),
tok AS (
  SELECT CAST(FLOOR(10.0 * (doc_id - mn) / (mx - mn + 1)) AS INT) AS b,
         unnest(regexp_split_to_array(t, '\s+')) AS term
  FROM d, bounds
),
per_bucket AS (SELECT b, COUNT(*) AS nt FROM tok GROUP BY 1),
new_terms AS (
  SELECT fb AS b, COUNT(*) AS nv
  FROM (SELECT term, MIN(b) AS fb FROM tok GROUP BY 1) GROUP BY 1
),
cum AS (
  SELECT p.b,
         SUM(p.nt) OVER (ORDER BY p.b) AS cum_tokens,
         SUM(COALESCE(n.nv, 0)) OVER (ORDER BY p.b) AS cum_vocab
  FROM per_bucket p LEFT JOIN new_terms n ON p.b = n.b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MAX(cum_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(cum_vocab) AS BIGINT) AS vocab_size,
       -- DuckDB's REGR_* family is numerically unstable (and
       -- run-to-run NONDETERMINISTIC: thread-order-dependent
       -- cancellation) when var(y) = 0, which this fixture's
       -- saturating vocab hits; detect the degenerate fit with the
       -- exact MIN=MAX constancy test (VAR_POP itself returns tiny
       -- nondeterministic nonzeros) and emit the SQL-standard
       -- convention Spark implements: slope 0, intercept avg(y),
       -- r2 = 1 when y is constant (NULL when x is constant).
       -- + 0.0 normalizes -0.0 exactly like the Spark side.
       ROUND(CASE WHEN MIN(LN(cum_vocab * 1.0)) = MAX(LN(cum_vocab * 1.0))
                  THEN 0.0
                  ELSE REGR_SLOPE(LN(cum_vocab * 1.0),
                                  LN(cum_tokens * 1.0)) END, 6) + 0.0
         AS heaps_beta,
       ROUND(CASE WHEN MIN(LN(cum_vocab * 1.0)) = MAX(LN(cum_vocab * 1.0))
                  THEN AVG(LN(cum_vocab * 1.0))
                  ELSE REGR_INTERCEPT(LN(cum_vocab * 1.0),
                                      LN(cum_tokens * 1.0)) END, 6)
         AS heaps_log_k,
       ROUND(CASE WHEN MIN(LN(cum_tokens * 1.0)) = MAX(LN(cum_tokens * 1.0))
                  THEN NULL
                  WHEN MIN(LN(cum_vocab * 1.0)) = MAX(LN(cum_vocab * 1.0))
                  THEN 1.0
                  ELSE REGR_R2(LN(cum_vocab * 1.0),
                               LN(cum_tokens * 1.0)) END, 6) AS r2
FROM cum
"""

register(doc_heaps_law, _HEAPS_SQL)


def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN GRAPH construction (new r10): top-3 cosine neighbors for
    EVERY vector, IVF-cell-bounded — the all-pairs companion of
    ``knn_ivf`` (which probes 5 pinned queries) and the graph SemDeDup,
    hubness audits, and graph-based label propagation start from.

    Same deterministic codebook as ``knn_ivf`` (init = 16 smallest
    ids, 2 Lloyd rounds) so the DuckDB oracle replays training,
    assignment, probing (nprobe=4), and the exact cosine rerank.

    Scale shape: every vector probes its 4 nearest of 16 cells, so the
    candidate space is N * (nprobe/n_centroids) * N — cell-bounded,
    never the N^2 cross join (plan-test-banned); at 100 TB the
    inverted file is the ``partitionBy(cluster)`` layout of
    ``ivf_build_index`` and each probe is a partition-pruned scan."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(emb, emb, k=3, n_centroids=16, nprobe=4)


_KNN_GRAPH_SQL = f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
{_kmeans_ctes(16, 2)},
corpus AS MATERIALIZED (
  SELECT vn.id AS neighbor_id, vn.vec AS vec_n, a.cluster
  FROM vn JOIN (
    SELECT id, cluster FROM (
      SELECT vn.id, c.cluster,
             ROW_NUMBER() OVER (PARTITION BY vn.id
                                ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                         c.cluster) AS rn
      FROM vn, c2 c) WHERE rn = 1) a USING (id)
),
probes AS MATERIALIZED (
  SELECT id AS query_id, vec AS vec_q, cluster FROM (
    SELECT vn.id, vn.vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY vn.id
                              ORDER BY list_dot_product(vn.nv, c.c) DESC,
                                       c.cluster) AS pr
    FROM vn, c2 c) WHERE pr <= 4
),
scored AS (
  SELECT p.query_id, co.neighbor_id,
         ROUND(list_dot_product(p.vec_q, co.vec_n) /
               (SQRT(list_dot_product(p.vec_q, p.vec_q)) *
                SQRT(list_dot_product(co.vec_n, co.vec_n))), 6) AS cosine
  FROM corpus co JOIN probes p USING (cluster)
  WHERE p.query_id <> co.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 3
"""

register(embedding_knn_graph, _KNN_GRAPH_SQL)


def media_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel image statistics (new r10) — the media family's
    FOURTH oracle pair, checking channel SEPARATION through the real
    encode→decode loop where ``media_image_ahash`` only sees channel
    sums: one row per (image, channel) with exact integer sum/min/max
    and the double mean (sum/64 — identical division both engines).
    Mechanics in :func:`..operators.multimodal.image_channel_stats`;
    the synthetic pixel law is
    ``(x*31 + y*17 + (c+1)*mid) % 256`` (``attach_codec_media``), so
    DuckDB replays the decode arithmetically."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.attach_codec_media(docs)
    stats = multimodal.image_channel_stats(media)
    return stats.select(
        "media_id",
        "channel",
        "c_sum",
        "c_min",
        "c_max",
        F.round(F.col("c_sum") / F.lit(64.0), 4).alias("c_mean"),
    ).orderBy("media_id", "channel")


_IMAGE_CHANNEL_SQL = """
WITH ids AS (
  SELECT doc_id AS mid FROM documents
  WHERE doc_id < 100 AND doc_id % 3 = 0
),
px AS (
  SELECT mid, c.range AS c,
         ((gx.range * 31 + gy.range * 17 + (c.range + 1) * mid) % 256) AS v
  FROM ids, range(8) gy, range(8) gx, range(3) c
)
SELECT mid AS media_id,
       CASE c WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
       CAST(SUM(v) AS BIGINT) AS c_sum,
       CAST(MIN(v) AS BIGINT) AS c_min,
       CAST(MAX(v) AS BIGINT) AS c_max,
       ROUND(SUM(v) / 64.0, 4) AS c_mean
FROM px GROUP BY 1, 2
ORDER BY media_id, channel
"""

register(media_image_channel_stats, _IMAGE_CHANNEL_SQL)


def embedding_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation report (new r10): per label, the RMS
    distance of members to their centroid (intra) against the distance
    to the NEAREST other centroid (inter) — the Dunn/Davies-Bouldin-
    style quality read on the labeled embedding space, closing the
    eval loop around ``embedding_centroids`` (the model) and
    ``embedding_cluster_balance`` (the census).  Intra needs no
    per-pair work: ``E||x−c||² = E||x||² − ||c||²`` from one-pass
    sufficient statistics.  The nearest-centroid argmin orders by
    (rounded distance, label) so an exact tie cannot flip the row.

    Scale shape: one per-row codegen fold for ||x||², one (label, dim)
    aggregation (the centroids shape), then everything is
    |labels|-bounded — the pairwise centroid frame is |labels|² rows
    by construction."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).select(
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "e"
        ),
    )
    per_label = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.aggregate(
                F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("ssq"),
    )
    cent = (
        e.select("label", F.posexplode("e").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
    )
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("c") * F.col("c")).alias("cnorm2")
    )
    pair = (
        cent.alias("a")
        .join(
            cent.select(
                F.col("label").alias("lb"), "dim", F.col("c").alias("cb")
            ).alias("b"),
            "dim",
        )
        .filter(F.col("label") != F.col("lb"))
        .groupBy("label", "lb")
        .agg(
            F.sqrt(F.sum((F.col("c") - F.col("cb")) ** 2)).alias("dist")
        )
    )
    wnear = Window.partitionBy("label").orderBy(
        F.round("dist", 9), "lb"
    )
    nearest = (
        pair.withColumn("rn", F.row_number().over(wnear))
        .filter(F.col("rn") == 1)
        .select("label", F.col("lb").alias("nearest_label"), "dist")
    )
    intra = F.sqrt(
        F.greatest(
            F.col("ssq") / F.col("n") - F.col("cnorm2"), F.lit(0.0)
        )
    )
    return (
        per_label.join(cnorm, "label")
        .join(nearest, "label")
        .select(
            "label",
            F.col("n").cast("bigint").alias("n_vecs"),
            F.round(intra, 6).alias("intra_rms"),
            "nearest_label",
            F.round("dist", 6).alias("nearest_dist"),
            F.round(F.col("dist") / F.nullif(intra, F.lit(0.0)), 6).alias(
                "separation"
            ),
        )
        .orderBy("label")
    )


_CLUSTER_SEP_SQL = """
WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
pl AS (
  SELECT label, COUNT(*) AS n,
         SUM(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS ssq
  FROM v GROUP BY 1
),
cent AS (
  SELECT label, i AS dim, AVG(e[i]) AS c FROM v, idx GROUP BY 1, 2
),
cn AS (SELECT label, SUM(c * c) AS cnorm2 FROM cent GROUP BY 1),
pair AS (
  SELECT a.label AS label, b.label AS lb,
         SQRT(SUM((a.c - b.c) * (a.c - b.c))) AS dist
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY 1, 2
),
nearest AS (
  SELECT label, lb AS nearest_label, dist,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY ROUND(dist, 9), lb) AS rn
  FROM pair
)
SELECT pl.label, CAST(pl.n AS BIGINT) AS n_vecs,
       ROUND(SQRT(GREATEST(pl.ssq / pl.n - cn.cnorm2, 0)), 6) AS intra_rms,
       nearest.nearest_label,
       ROUND(nearest.dist, 6) AS nearest_dist,
       ROUND(nearest.dist
             / NULLIF(SQRT(GREATEST(pl.ssq / pl.n - cn.cnorm2, 0)), 0), 6)
         AS separation
FROM pl JOIN cn USING (label)
JOIN nearest ON nearest.label = pl.label AND nearest.rn = 1
ORDER BY pl.label
"""

register(embedding_cluster_separation, _CLUSTER_SEP_SQL)


def doc_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity census (new r10): per source, the Shannon
    entropy (bits/token), Simpson concentration, vocabulary size, and
    type-token ratio of the token distribution — the corpus-health
    read that tells a template-stamped source (low entropy, high
    Simpson) from organic text BEFORE mixing weights are chosen;
    complements ``doc_source_token_drift`` (between-source movement)
    with a within-source shape summary.  Simpson is computed from
    EXACT integer sums ``Σ n_w(n_w−1) / N(N−1)``; entropy's log sum is
    the one FP reduction, absorbed by the 6-decimal rounding (the
    covariance-cell precedent).

    Scale shape: one (source, token) aggregation over the exploded
    corpus (the BM25/token-drift shuffle), one source-grain rollup."""
    d = _docs(spark, sf_dir)
    words = d.select(
        "source",
        F.explode(
            F.split(textstats.normalize_text(F.col("text")), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("nw"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = wc.groupBy("source").agg(
        F.sum("nw").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(dec(F.col("nw")) * (F.col("nw") - 1)).alias("rep2"),
        F.sum(F.col("nw") * F.log2("nw")).alias("nlogn"),
    )
    n = F.col("n_tokens")
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        F.round(
            F.log2(n) - F.col("nlogn") / n, 6
        ).alias("shannon_bits"),
        F.round(
            F.col("rep2").cast("double")
            / F.nullif((dec(n) * (n - 1)).cast("double"), F.lit(0.0)),
            6,
        ).alias("simpson"),
        F.round(F.col("vocab") / n, 6).alias("type_token_ratio"),
    ).orderBy("source")


_SOURCE_DIVERSITY_SQL = rf"""
WITH words AS (
  SELECT source, unnest(string_split({_NORM}, ' ')) AS w FROM documents
),
wc AS (
  SELECT source, w, COUNT(*) AS nw FROM words WHERE w <> '' GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(SUM(nw) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         SUM(CAST(nw AS DECIMAL(38,0)) * (nw - 1)) AS rep2,
         SUM(nw * log2(nw)) AS nlogn
  FROM wc GROUP BY 1
)
SELECT source, n_tokens, vocab,
       ROUND(log2(n_tokens) - nlogn / n_tokens, 6) AS shannon_bits,
       ROUND(CAST(rep2 AS DOUBLE)
             / NULLIF(CAST(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)
                           AS DOUBLE), 0), 6) AS simpson,
       ROUND(vocab * 1.0 / n_tokens, 6) AS type_token_ratio
FROM agg ORDER BY source
"""

register(doc_source_diversity, _SOURCE_DIVERSITY_SQL)


def doc_dup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicates lower quality? (new r10)  Joins the
    OPENING-PREFIX near-dup verdict (md5 of the first 8 normalized
    tokens appearing ≥2× — the boilerplate-opening criterion from the
    prefix-dedup family; the fixture contains no byte-exact dups, so
    the exact fingerprint would leave the dup branch untested) with
    the pretraining quality heuristic and reports per-status doc counts, mean quality,
    and mean token length — the curation cross-check that says whether
    dedup and quality filtering are REDUNDANT or COMPLEMENTARY gates
    on this corpus (if dups score low anyway, the quality gate already
    removes most of them; if not, both earn their keep).  Per-doc
    quality is rounded then decimal-cast before the mean (the
    FP-parity pattern).

    Scale shape: one fingerprint groupBy (the dedup shuffle), one
    broadcast-eligible join of the dup-key set back to the corpus, a
    2-row rollup."""
    d = _docs(spark, sf_dir)
    fp = F.md5(
        F.concat_ws(
            " ",
            F.slice(
                F.split(textstats.normalize_text(F.col("text")), " "), 1, 8
            ),
        )
    )
    scored = d.select(
        "doc_id",
        fp.alias("fp"),
        textstats.quality_score(F.col("text"))
        .cast("decimal(12,6)")
        .alias("q"),
        textstats.token_count(F.col("text")).alias("n_tok"),
    )
    dups = (
        scored.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("fp", F.lit(True).alias("is_dup"))
    )
    return (
        scored.join(dups, "fp", "left")
        .groupBy(F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                (F.sum("q") / F.count(F.lit(1))).cast("double"), 6
            ).alias("mean_quality"),
            F.round(F.avg("n_tok"), 4).alias("mean_tokens"),
        )
        .orderBy("is_dup")
    )


_DUP_QUALITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             1, 8), ' ')) AS fp,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w,
         text
  FROM documents
), m AS (
  SELECT doc_id, fp,
         len(w) AS n_tok,
         len(list_filter(w, x -> x IN ('{_STOPLIST_SQL}'))) AS n_stop,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS n_punct
  FROM toks
), r AS (
  SELECT doc_id, fp, n_tok,
         CAST(ROUND(LEAST(n_tok / 50.0, 1.0) * 0.5 +
               GREATEST(0.0, 1.0 - (CASE WHEN n_chars > 0
                   THEN n_punct / n_chars ELSE 0.0 END) * 5) * 0.25 +
               LEAST((CASE WHEN n_tok > 0 THEN n_stop / n_tok
                      ELSE 0.0 END) * 4, 1.0) * 0.25, 6)
           AS DECIMAL(12,6)) AS q
  FROM m
),
d AS (SELECT fp FROM r GROUP BY fp HAVING COUNT(*) >= 2)
SELECT COALESCE(r.fp IN (SELECT fp FROM d), FALSE) AS is_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(q) / COUNT(*) AS DOUBLE), 6) AS mean_quality,
       ROUND(AVG(n_tok), 4) AS mean_tokens
FROM r GROUP BY 1 ORDER BY 1
"""

register(doc_dup_quality_report, _DUP_QUALITY_SQL)


def doc_label_source_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal alignment check (new r10): do the embedding-space
    cluster LABELS line up with the documents' SOURCE fields?  Joins
    the two fixtures on their shared id (vec_id ≡ doc_id), builds the
    |sources|×|labels| contingency frame, and reports the chi-square
    with Cramér's V — the one-number answer to "did the embedding
    model rediscover the source taxonomy" that decides whether
    source-stratified sampling and embedding-cluster balancing are
    the same knob or two.

    Scale shape: one id-equi join (both sides SF-scaling, Catalyst
    picks the strategy), one contingency aggregation to the bounded
    |sources|×|labels| frame, scalar rollups after."""
    d = _docs(spark, sf_dir).select("doc_id", "source")
    e = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    cell = d.join(e, "doc_id").groupBy("source", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = cell.groupBy("source").agg(F.sum("n").alias("nr"))
    cols = cell.groupBy("label").agg(F.sum("n").alias("nc"))
    tot = cell.agg(
        F.sum("n").alias("nt"),
        F.countDistinct("source").alias("r"),
        F.countDistinct("label").alias("c"),
    )
    chi = (
        cell.join(rows, "source")
        .join(cols, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.pow(
                    F.col("n") - F.col("nr") * F.col("nc") / F.col("nt"), 2
                )
                / (F.col("nr") * F.col("nc") / F.col("nt"))
            ).alias("term"),
            "nt",
            "r",
            "c",
        )
        .groupBy("nt", "r", "c")
        .agg(F.sum("term").alias("chi2"))
    )
    v = F.sqrt(
        F.col("chi2")
        / F.col("nt")
        / F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    )
    return chi.select(
        F.col("nt").cast("bigint").alias("n_docs"),
        F.col("r").cast("int").alias("n_sources"),
        F.col("c").cast("int").alias("n_labels"),
        F.round("chi2", 4).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


_LABEL_SOURCE_SQL = """
WITH cell AS (
  SELECT d.source, e.label, COUNT(*) AS n
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  GROUP BY 1, 2
),
rows_ AS (SELECT source, SUM(n) AS nr FROM cell GROUP BY 1),
cols_ AS (SELECT label, SUM(n) AS nc FROM cell GROUP BY 1),
tot AS (
  SELECT SUM(n) AS nt, COUNT(DISTINCT source) AS r,
         COUNT(DISTINCT label) AS c
  FROM cell
),
chi AS (
  SELECT MAX(nt) AS nt, MAX(r) AS r, MAX(c) AS c,
         SUM(POW(n - nr * nc * 1.0 / nt, 2) / (nr * nc * 1.0 / nt)) AS chi2
  FROM cell JOIN rows_ USING (source) JOIN cols_ USING (label), tot
)
SELECT CAST(nt AS BIGINT) AS n_docs,
       CAST(r AS INT) AS n_sources,
       CAST(c AS INT) AS n_labels,
       ROUND(chi2, 4) AS chi2,
       ROUND(SQRT(chi2 / nt / CAST(LEAST(r - 1, c - 1) AS DOUBLE)), 6)
         AS cramers_v
FROM chi
"""

register(doc_label_source_alignment, _LABEL_SOURCE_SQL)
