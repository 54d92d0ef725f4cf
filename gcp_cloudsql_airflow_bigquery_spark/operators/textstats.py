r"""Text analysis operators over a document column (SURVEY.md §2b
"text analysis"): tokenization, quality scoring, language-ID heuristic,
fingerprinting.

Everything here is built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no Python in the hot path — so a 100 TB corpus
scans at parquet speed with filters/projections pushed down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# marker stopwords per language for the n-gram/stopword language heuristic;
# deliberately small + deterministic so the oracle SQL can mirror them
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS: tuple[str, ...] = tuple(
    sorted({w for ws in LANG_MARKERS.values() for w in ws})
)

# DuckDB fragments the oracles use to mirror the marker lists
_STOPLIST_SQL = "', '".join(STOPWORDS)


def _lang_list_sql(lang: str) -> str:
    return "', '".join(LANG_MARKERS[lang])


def tokens(text: Column) -> Column:
    r"""Whitespace tokenization of trimmed text (empty text → [])."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    r"""A BPE-ish proxy: count word pieces + digit runs + punctuation
    marks, the way byte-pair tokenizers fragment text.  Pure regexp —
    stays in codegen."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    return F.when(n > 0, stop / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    n = F.length(text)
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: long-enough docs with low
    punctuation and a sane stopword share score high (the usual
    pretraining-filter shape: length/punct/stopword gates)."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5)
    stop_score = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    return F.round((len_score * 0.5 + punct_pen * 0.25 + stop_score * 0.25), 6)


def _membership(ws: tuple[str, ...]):
    # closure factory: the lambda must stay 1-ary (a 2-ary lambda makes
    # Spark bind the array *index* to the second parameter)
    return lambda w: w.isin(*ws)


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(F.lower(text))
    return {
        lang: F.size(F.filter(toks, _membership(ws)))
        for lang, ws in LANG_MARKERS.items()
    }


def detect_lang(text: Column) -> Column:
    """Argmax of marker-stopword hits with a deterministic tie order
    (en > de > es > fr), 'und' (undetermined) when nothing matches."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # build CASE in reverse priority so earlier langs win ties
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def normalize_text(text: Column) -> Column:
    r"""Canonical form for fingerprinting: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


# DuckDB fragment mirroring normalize_text
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (hex string —
    identical in any engine, so exact-dup detection is portable)."""
    return F.md5(normalize_text(text))


def _word_grams(text: Column, n: int, gram) -> Column:
    """The one word n-gram builder: ``gram`` applied to the n words of
    every n-gram of the normalized text, in order (empty array when
    the doc has < n words, null for null text).  Pure array HOFs —
    narrow, zero-shuffle.

    Built as ``arrays_zip`` of the n shifted, equal-length token slices,
    then a ``transform`` that only touches the zipped struct fields.
    The obvious ``transform(sequence(...), i -> concat_ws(slice(toks, i,
    n)))`` formulation is ~10× slower: HOF lambdas re-evaluate every
    captured subexpression per element, so the tokenizer regex would
    run once per gram instead of n times per row.  The token array is
    additionally let-bound via a single-element ``transform`` so the
    tokenizer runs ONCE per row, not once per slice (another ~n/2×,
    measured ~5× at n=8)."""
    toks = tokens(normalize_text(text))

    def grams(tk: Column) -> Column:
        m = F.greatest(F.size(tk) - n + 1, F.lit(0))
        zipped = F.arrays_zip(*[F.slice(tk, i + 1, m) for i in range(n)])
        return F.transform(
            zipped, lambda s: gram(*[s[str(i)] for i in range(n)])
        )

    return F.element_at(F.transform(F.array(toks), grams), 1)


def _joined(*words: Column) -> Column:
    return F.concat_ws(" ", *words)


def rolling_fingerprints(
    text: Column, window: int = 8, portable: bool = False
) -> Column:
    """Rolling (Rabin-style) fingerprint set: a 64-bit hash over each
    ``window``-token shingle of the normalized text.  Used for
    winnowing-style near-dup detection.  Default hash is xxhash64 of
    the space-joined shingle (fastest, engine-specific); ``portable=True``
    uses the md5-derived 60-bit hash (``dedup.md5_hash60``) that any
    engine with md5 replays, making downstream winnowing output
    oracle-checkable."""
    from .dedup import md5_hash60

    h = md5_hash60 if portable else F.xxhash64
    return _word_grams(text, window, lambda *ws: h(_joined(*ws)))


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-gram shingles of the normalized text as an array of
    space-joined strings (see :func:`_word_grams`)."""
    return _word_grams(text, n, _joined)


def word_ngram_hashes(text: Column, n: int) -> Column:
    """64-bit ``xxhash64`` of each word n-gram, skipping the gram
    string entirely — the n words feed the hash directly.  For
    counting/dedup stats the hash is as good as the gram (collisions
    ~m²/2⁶⁴ within a document) and far cheaper: no per-gram string
    allocation, and any later shuffle moves 8-byte longs, not text."""
    return _word_grams(text, n, F.xxhash64)


def _max_run_length(sorted_arr: Column, element_type: str = "long") -> Column:
    """Length of the longest run of equal adjacent elements in a sorted
    array — i.e. the count of the most frequent element — via a single
    ``F.aggregate`` fold with a (prev, run, best) struct accumulator.
    Pure in-row HOF: no explode, no shuffle."""
    zero = F.struct(
        F.lit(None).cast(element_type).alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc.getField("best"))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document: the share
    of all word-bigram occurrences taken by the single most frequent
    bigram, and the duplicate fraction of 5-gram occurrences.

    Fully in-row, over *hashed* n-grams — the top-bigram count is the
    longest equal run in the sorted bigram-hash array
    (``_max_run_length`` fold) and the 5-gram dedup is
    ``array_distinct`` on longs, so the corpus is never exploded, never
    shuffled, and no gram string is ever materialized: per-doc quality
    signals stay a narrow map at any scale.  (The explode/groupBy
    formulation was ~20× slower at sf0.1, and string grams another ~2×
    on top — per-doc stats must not pay corpus-wide exchanges or
    per-gram allocation.)  Docs with < 2 words yield no bigrams and are
    dropped, matching the exploding formulation's semantics."""
    t = F.col(text_col)
    # single-element transform = a let-binding: both hash arrays are
    # evaluated once and the lambda sees the bound values, instead of
    # re-deriving the n-grams for every stat (HOFs are interpreted, so
    # projection-level CSE does not de-duplicate them).  F.inline then
    # emits the stats struct as columns in one evaluation — its
    # Generate node is a projection-collapse barrier, so downstream
    # field references don't re-expand the expression either.
    stats = F.element_at(
        F.transform(
            F.array(
                F.struct(
                    word_ngram_hashes(t, 2).alias("g2"),
                    word_ngram_hashes(t, 5).alias("g5"),
                )
            ),
            lambda s: F.struct(
                F.size(s["g2"]).cast("long").alias("n_bigrams"),
                _max_run_length(F.array_sort(s["g2"])).alias("top_bigram_n"),
                F.size(s["g5"]).alias("n_grams5"),
                F.size(F.array_distinct(s["g5"])).alias("n_distinct5"),
            ),
        ),
        1,
    )
    base = df.select(F.col(id_col), F.inline(F.array(stats)))
    return base.filter(F.col("n_bigrams") > 0).select(
        id_col,
        "n_bigrams",
        "top_bigram_n",
        F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
        "n_grams5",
        F.round(
            (F.col("n_grams5") - F.col("n_distinct5"))
            / F.greatest(F.col("n_grams5"), F.lit(1)),
            6,
        ).alias("dup5_frac"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top TF-IDF term (tf * ln(N/df), ties broken
    lexicographically). Two token-level aggregations (map-side combined)
    joined on ``term``; the corpus size joins in as a single-row
    broadcast, never a driver-side constant baked into the plan.

    The term→df side joins via an ordinary shuffle join: ``term`` is a
    near-uniform key and at 100-TB corpus scale an open vocabulary can
    exceed broadcast limits, so it is never shipped to every executor.
    Scales: the wide explode is rows=tokens, but both aggs reduce
    before any join."""
    t = F.trim(F.lower(F.col(text_col)))
    tok = docs.filter(t != "").select(
        id_col, F.explode(F.split(t, r"\s+")).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("term").alias("top_term"), "tfidf")
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    n_buckets: int = 3,
) -> DataFrame:
    """Corpus-trained unigram-LM score per document — the CCNet-style
    perplexity-filter primitive (Wenzek et al. 2020, public): mean
    ``-ln p(term)`` under add-alpha-smoothed unigram probabilities
    estimated from the corpus itself, plus an ``ntile`` bucket
    (1 = most typical … n = least).  Production pipelines keep the
    middle buckets: the head is repetitive boilerplate, the tail is
    noise/garbled text.

    Scale shape: one explode (rows = tokens), one map-side-combined
    term-count shuffle, one shuffle join of tokens→term-counts on the
    near-uniform ``term`` key (NOT broadcast — open vocabulary, same
    reasoning as :func:`tfidf_top_terms`), one per-doc aggregation.
    Corpus totals (N, |V|) ride along as a 1-row broadcast.  Nothing
    leaves the JVM.

    Bucketing never pays a global sort: thresholds are
    ``percentile_approx`` cut points computed in one extra 1-row
    aggregate and applied as a broadcast comparison — the 100 TB-safe
    replacement for a global ``ntile`` window (a single-reducer sort).
    Exact-rank tiles, when needed for a closed-form oracle, are a
    downstream ``ntile`` over this function's output."""
    t = F.trim(F.lower(F.col(text_col)))
    tok = docs.filter(t != "").select(
        id_col, F.explode(F.split(t, r"\s+")).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    totals = freq.agg(
        F.sum("c").alias("n_tokens"), F.count("*").alias("vocab")
    )
    scored = (
        tok.join(freq, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(
                    -F.log(
                        (F.col("c") + F.lit(alpha))
                        / (F.col("n_tokens") + F.lit(alpha) * F.col("vocab"))
                    )
                ),
                6,
            ).alias("avg_neg_logprob"),
            F.count("*").alias("n_tok"),
        )
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.agg(
        F.percentile_approx(
            "avg_neg_logprob", F.array(*[F.lit(p) for p in probs]), 10_000
        ).alias("cuts")
    )
    bucket = F.lit(1)
    for i in range(len(probs)):
        bucket = bucket + F.when(
            F.col("avg_neg_logprob") > F.element_at("cuts", i + 1), 1
        ).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn("lm_bucket", bucket)
        .drop("cuts")
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per document — the next
    order of :func:`unigram_logprob`'s CCNet-style filter (Wenzek et
    al. 2020 filter on KenLM perplexity; this is the self-trained
    stand-in).  Per document: the mean ``-ln p(w_i | w_{i-1})`` over
    its consecutive token pairs under add-alpha-smoothed conditional
    probabilities ``p(w2|w1) = (c(w1,w2) + α) / (c(w1·) + α·V)``,
    where ``c(w1·)`` counts ``w1`` as a bigram PREFIX (so the
    conditionals sum to 1 over a V-word vocabulary) and ``V`` is the
    observed SUCCESSOR vocabulary (distinct ``w2``) — chosen over the
    full unigram vocabulary so the whole model derives from the bigram
    count table without a second corpus aggregation.  Output: ``(id,
    n_bigrams, avg_neg_logprob, ppl)`` with ``ppl = exp(avg)``;
    documents with fewer than two tokens have no bigrams and are
    absent.

    Scale shape (same reasoning as :func:`unigram_logprob` /
    :func:`tfidf_top_terms`): one bigram explode (rows = tokens-1 per
    doc), one map-side-combined count shuffle for the bigram model —
    prefix counts and ``V`` then reduce from the MODEL (vocab-sized),
    never re-scanning the corpus — and ONE shuffle join of the
    exploded corpus against the model on the near-uniform ``(w1, w2)``
    key — NOT broadcast: the bigram vocabulary is open and grows with
    the corpus.  ``V`` rides along as a 1-row broadcast.

    The count table is lineage-cut (lazy ``localCheckpoint``, the
    ``minhash_near_dups`` trick): its three consumers (prefix sums,
    ``V``, the model join) are pruned to different columns, which
    defeats ``ReuseExchange`` canonicalization — without the cut each
    consumer re-tokenizes the corpus (measured: 4 corpus scans in the
    final adaptive plan, 2 after).  Cutting the MODEL (vocab-sized) is
    cheap; the exploded bigram frame (corpus-sized) is deliberately
    not cut, so scoring pays one more scan instead of a
    bigger-than-corpus checkpoint write.  Two corpus scans total;
    nothing leaves the JVM."""
    t = F.trim(F.lower(F.col(text_col)))
    toks = docs.filter(t != "").select(
        id_col, F.split(t, r"\s+").alias("w")
    )
    bg = toks.filter(F.size("w") >= 2).select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i - 1] AS w1, w[i] AS w2))"
            )
        ).alias("p"),
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, "w1")
    vocab = c2.agg(F.count_distinct("w2").alias("v"))
    nll = -F.log(
        (F.col("c2") + F.lit(alpha))
        / (F.col("c1") + F.lit(alpha) * F.col("v"))
    )
    return (
        bg.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_neg_logprob"),
            F.round(F.exp(F.avg(nll)), 6).alias("ppl"),
        )
    )


# C0/C1 control characters except \t and \n
_CTL_RANGE = r"[\x00-\x08\x0B-\x1F\x7F-\x9F]"
_CTL_RE = None  # compiled lazily inside the UDF workers


def nfc_clean_udf():
    """Vectorized unicode cleaner: NFC normalization + C0/C1 control
    stripping (keeps tab/newline), as an Arrow-batched pandas UDF.

    This is the one text op that genuinely needs Python — Spark SQL has
    no NFC built-in — so it takes the sanctioned slow path: a scalar
    ``pandas_udf`` (Arrow batches, not per-row pickling), applied as a
    narrow map with no shuffle.  Both Python's ``unicodedata`` and
    DuckDB's ``nfc_normalize`` implement Unicode NFC, so the result is
    byte-identical across engines (oracle-checked)."""
    import pandas as pd  # noqa: F401 (referenced by the UDF type hints)
    from pyspark.sql.functions import pandas_udf

    def _clean(s):
        import re
        import unicodedata

        ctl = re.compile(_CTL_RANGE)
        return s.map(
            lambda x: None
            if x is None
            else ctl.sub("", unicodedata.normalize("NFC", x))
        )

    # annotate with the real pandas types (the module-wide lazy
    # annotations can't be resolved by pandas_udf's hint inference)
    _clean.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_clean, "string")


GOPHER_REQUIRED_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    min_required_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, Appendix A):
    per-doc metrics + one boolean per rule + the overall keep flag.

    All metrics are single-pass array expressions over the token list —
    narrow, whole-stage-codegen, zero shuffles; the token array is
    let-bound once per row (HOF captures re-evaluate, see
    :func:`_word_grams`).  Line-shape rules (bullet/ellipsis fractions)
    are omitted: the fixture corpus is single-line text.
    """
    toks = tokens(normalize_text(F.col(text_col)))
    bound = F.struct(toks.alias("w"), F.size(toks).alias("n"))

    def metrics(s: Column) -> Column:
        w, n = s["w"], s["n"]
        mean_len = F.when(
            n > 0,
            F.aggregate(
                w, F.lit(0.0), lambda acc, x: acc + F.length(x)
            )
            / n,
        )
        alpha = F.when(
            n > 0, F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / n
        )
        hits = F.size(
            F.filter(
                F.array(*[F.lit(x) for x in GOPHER_REQUIRED_WORDS]),
                lambda s_: F.array_contains(w, s_),
            )
        )
        return F.struct(
            n.alias("n_words"),
            F.round(mean_len, 6).alias("mean_word_len"),
            F.round(alpha, 6).alias("alpha_word_frac"),
            hits.alias("required_word_hits"),
        )

    m = F.element_at(F.transform(F.array(bound), metrics), 1)
    out = docs.select(id_col, m.alias("m")).select(
        id_col,
        "m.n_words",
        "m.mean_word_len",
        "m.alpha_word_frac",
        "m.required_word_hits",
    )
    ok_words = F.col("n_words").between(min_words, max_words)
    ok_mwl = F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
    ok_alpha = F.col("alpha_word_frac") >= min_alpha_word_frac
    ok_req = F.col("required_word_hits") >= min_required_hits
    return out.select(
        "*",
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_frac"),
        ok_req.alias("ok_required_words"),
        (ok_words & ok_mwl & ok_alpha & ok_req).alias("keep"),
    )


def hashed_tfidf_vectors(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """(id, vec): dense hashed TF-IDF document vectors
    (``array<double>``, length ``dim``) — the bridge from text to the
    vector operators (k-means cells via ``similarity.ivf_build``, ANN,
    PCA).  Token buckets come from ``xxhash64 % dim`` by default;
    ``portable=True`` buckets with the md5-derived 60-bit hash
    (``dedup.md5_hash60 % dim``) so any engine with md5 reproduces the
    vectors — the hook that makes downstream k-means clustering
    oracle-replayable.  Two map-side-combined aggregations (tf per
    (doc, bucket), df per bucket) + a broadcast of the ``dim``-row idf
    table; densification is a per-row ``transform`` over a
    ``map_from_entries`` lookup — no pivot, no UDF."""
    if portable:
        from .dedup import md5_hash60

        bucket = md5_hash60(F.col("w")) % dim
    else:
        bucket = F.abs(F.xxhash64(F.col("w"))) % dim
    t = F.trim(F.lower(F.col(text_col)))
    tok = docs.filter(t != "").select(
        id_col, F.explode(F.split(t, r"\s+")).alias("w")
    ).select(id_col, bucket.alias("b"))
    tf = tok.groupBy(id_col, "b").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("b").agg(F.count_distinct(F.col(id_col)).alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    weighted = (
        tf.join(F.broadcast(df_), "b")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "b",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    m = F.map_from_entries(F.collect_list(F.struct("b", "w")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        # try_element_at: NULL (not an ANSI error) on absent buckets;
        # cast aligns the int sequence with the long map keys
        lambda i: F.coalesce(
            F.try_element_at(F.col("m"), i.cast("long")), F.lit(0.0)
        ),
    )
    return (
        weighted.groupBy(id_col)
        .agg(m.alias("m"))
        .select(id_col, dense.alias("vec"))
    )


def source_token_drift(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    vocab_size: int = 200,
) -> DataFrame:
    """Per-source token-distribution drift vs the corpus — the
    source-mixture monitor of a training-data pipeline (flags a crawl
    snapshot or source whose unigram distribution shifted).  For each
    source, the Jensen-Shannon divergence (natural log) between the
    source's unigram distribution and the corpus distribution, both
    restricted to the global top-``vocab_size`` vocabulary
    (count-desc, term-asc tie-break — deterministic, so the DuckDB
    oracle replays it exactly), plus the source's vocabulary coverage
    (in-vocab token share).

    Scale shape: the corpus is scanned ONCE — explode into one
    map-side-combined (source, term) count shuffle — and every other
    frame (global counts, top-K vocab, per-source totals, in-vocab
    counts) derives from that compact counts frame, which is
    |sources|·|vocab(source)| rows, far smaller than the token stream
    (lineage-cut so its 3 consumers do not re-tokenize).  The top-K
    vocabulary is ``ORDER BY count DESC LIMIT K`` — planned as
    TakeOrderedAndProject (per-partition partial top-K, O(K) heap per
    partition, no global sort of the open vocabulary).  The K-row
    vocab and the bounded source list broadcast; the source×vocab grid
    is K·|sources| rows, model-sized.  Nothing leaves the JVM."""
    t = F.trim(F.lower(F.col(text_col)))
    st = (
        docs.filter(t != "")
        .select(
            F.col(source_col).alias("source"),
            F.explode(F.split(t, r"\s+")).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    g = st.groupBy("term").agg(F.sum("c").alias("cg"))
    vocab = g.orderBy(F.desc("cg"), "term").limit(vocab_size)
    tg = vocab.agg(F.sum("cg").alias("tg"))
    src_all = st.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    sc = st.join(F.broadcast(vocab.select("term")), "term").select(
        "source", "term", F.col("c").alias("cs")
    )
    ts = sc.groupBy("source").agg(F.sum("cs").alias("ts"))
    grid = (
        src_all.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(ts), "source", "left")
        .join(F.broadcast(sc), ["source", "term"], "left")
        .crossJoin(F.broadcast(tg))
    )
    p = F.when(
        F.coalesce(F.col("cs"), F.lit(0)) > 0, F.col("cs") / F.col("ts")
    ).otherwise(F.lit(0.0))
    q = F.col("cg") / F.col("tg")
    m = (p + q) / F.lit(2.0)
    contrib = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) * F.lit(
        0.5
    ) + q * F.log(q / m) * F.lit(0.5)
    return grid.groupBy("source", "n_tokens").agg(
        F.round(F.sum(contrib), 6).alias("js_divergence"),
        F.count("cs").cast("long").alias("n_vocab_present"),
        F.round(
            F.coalesce(F.max("ts"), F.lit(0)) / F.first("n_tokens"), 6
        ).alias("vocab_coverage"),
    ).select(
        "source", "js_divergence", "n_vocab_present", "vocab_coverage", "n_tokens"
    )


def stupid_backoff_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Held-out Stupid Backoff trigram scoring (Brants et al. 2007 —
    the web-scale LM that skips normalization entirely): the corpus is
    md5-hash-split 75/25, n-gram count tables train on the 75%, and
    each held-out document is scored ``mean -ln S(w3|w1,w2)`` with

        S = c3/c(w1,w2)            if the trigram was seen in train
          | 0.4 · c(w2,w3)/c(w2)   else if the bigram was seen
          | 0.16 · (c(w3)+1)/(N+V) otherwise (add-one unigram floor,
                                   so unseen words score finitely)

    Unlike the self-trained :func:`bigram_logprob` (where every scored
    n-gram is by construction in its own training set), the held-out
    split makes the backoff ladder REAL — per-doc hit counts at each
    level come back as diagnostics.  Output: ``(id, n_trigrams,
    n_tri_hits, n_bi_hits, avg_neg_logscore, sb_ppl)``.

    Scale shape: three count shuffles over the train split (map-side
    combined), each lineage-cut like :func:`bigram_logprob`'s table
    (multiple differently-pruned consumers defeat ReuseExchange);
    scoring is model-keyed shuffle joins — the n-gram vocabulary is
    open and grows with the corpus, so NOT broadcast — plus a 1-row
    (N, V) broadcast.  Nothing leaves the JVM."""
    t = F.trim(F.lower(F.col(text_col)))
    is_train = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin(
        *list("0123456789ab")
    )
    toks = docs.filter(t != "").select(
        id_col, F.split(t, r"\s+").alias("w"), is_train.alias("train")
    )

    def tri(df: DataFrame) -> DataFrame:
        return df.filter(F.size("w") >= 3).select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    " i -> struct(w[i - 1] AS w1, w[i] AS w2, w[i + 1] AS w3))"
                )
            ).alias("g"),
        ).select(id_col, "g.w1", "g.w2", "g.w3")

    train = toks.filter("train")
    c3 = (
        tri(train)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3"))
        .localCheckpoint(eager=False)
    )
    c2 = (
        train.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i - 1] AS a, w[i] AS b))"
                )
            ).alias("g")
        )
        .groupBy("g.a", "g.b")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=False)
    )
    c1 = (
        train.select(F.explode("w").alias("u"))
        .groupBy("u")
        .agg(F.count("*").alias("cu"))
        .localCheckpoint(eager=False)
    )
    stats = c1.agg(
        F.sum("cu").alias("n_total"), F.count("*").alias("v1")
    )
    held = tri(toks.filter(~F.col("train")))
    j = (
        held.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select(
                F.col("a").alias("w1"), F.col("b").alias("w2"),
                F.col("cb").alias("c12"),
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            c2.select(
                F.col("a").alias("w2"), F.col("b").alias("w3"),
                F.col("cb").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c1.select(F.col("u").alias("w2"), F.col("cu").alias("cw2")), "w2", "left")
        .join(c1.select(F.col("u").alias("w3"), F.col("cu").alias("cw3")), "w3", "left")
        .crossJoin(F.broadcast(stats))
    )
    score = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c12"))
        .when(
            F.col("c23").isNotNull(),
            F.lit(alpha) * F.col("c23") / F.col("cw2"),
        )
        .otherwise(
            F.lit(alpha * alpha)
            * (F.coalesce(F.col("cw3"), F.lit(0)) + 1)
            / (F.col("n_total") + F.col("v1"))
        )
    )
    nll = -F.log(score)
    return j.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        F.sum(F.col("c3").isNotNull().cast("long")).alias("n_tri_hits"),
        F.sum((F.col("c3").isNull() & F.col("c23").isNotNull()).cast("long")).alias(
            "n_bi_hits"
        ),
        F.round(F.avg(nll), 6).alias("avg_neg_logscore"),
        F.round(F.exp(F.avg(nll)), 6).alias("sb_ppl"),
    )


def rake_keyphrases(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010), top phrase per
    document: candidate phrases are maximal stopword-free token runs
    (gaps-and-islands on token position), each word scores
    ``degree/frequency`` within its document (degree = the summed
    length of phrases containing it — co-occurrence reach; frequency =
    its occurrence count), and a phrase scores the sum of its words.
    The multi-word complement of ``tfidf_top_terms``' single-term
    keywords, sharing the deterministic :data:`STOPWORDS` list so the
    oracle mirrors the phrase boundaries exactly.

    Scale shape: one tokenize/explode pass, a doc-partitioned
    ROW_NUMBER window for the islands (never global), then doc-local
    hash aggregations and joins — every key includes ``id_col``, so
    shuffles are uniform and nothing cross-document exists at all.
    Scores are exact integer ratios summed per phrase and rounded(6)
    before the per-doc argmax (phrase-text tie-break)."""
    from pyspark.sql import Window

    toks = docs.select(
        id_col,
        F.posexplode(tokens(normalize_text(F.col(text_col)))).alias(
            "pos", "w"
        ),
    )
    w_isl = Window.partitionBy(id_col).orderBy("pos")
    words = toks.filter(~F.col("w").isin(*STOPWORDS)).withColumn(
        "grp", F.col("pos") - F.row_number().over(w_isl)
    )
    plen = words.groupBy(id_col, "grp").agg(F.count("*").alias("plen"))
    wstats = (
        words.join(plen, [id_col, "grp"])
        .groupBy(id_col, "w")
        .agg(F.sum("plen").alias("deg"), F.count("*").alias("freq"))
        .withColumn("wscore", F.col("deg") / F.col("freq"))
    )
    phrases = (
        words.join(wstats, [id_col, "w"])
        .groupBy(id_col, "grp")
        .agg(
            F.round(F.sum("wscore"), 6).alias("score"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("n_words"),
        )
        .groupBy(id_col, "phrase")
        .agg(
            F.max("score").alias("score"),
            F.max("n_words").alias("n_words"),
        )
    )
    w_top = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), "phrase"
    )
    return (
        phrases.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(id_col, "phrase", "n_words", "score")
    )


def textrank_top_sentence(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    damping: float = 0.85,
    iters: int = 2,
) -> DataFrame:
    """TextRank extractive summarization (Mihalcea & Tarau 2004), top
    sentence per document: sentences are nodes, edge weight = distinct
    word overlap / (|Wa| + |Wb|), and ``iters`` unrolled power-iteration
    rounds of ``s_i = (1-d)/n + d·Σ_j w_ji·s_j/out_j`` from the uniform
    start rank the centrality argmax.  The sentence-level complement of
    :func:`rake_keyphrases`' phrase extraction.

    Scale shape: everything is doc-local — the sentence self-join, the
    out-degree aggregation, and each round's contribution sum all key
    on ``id_col`` (sentence counts per doc are tiny, so the "quadratic"
    pair frame is bounded per row and uniform across the corpus); the
    rounds are unrolled joins, no driver loop, no UDF.  Scores
    round(6) before the per-doc argmax with sentence-index
    tie-breaks."""
    from pyspark.sql import Window

    raw = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), r"[.!?]+")).alias("i", "sent"),
    ).withColumn("sent", F.trim("sent"))
    sw = (
        raw.filter(F.col("sent") != "")
        .withColumn(
            "ws", F.array_distinct(F.split(F.lower(F.col("sent")), r"\s+"))
        )
        .withColumn("nw", F.size("ws"))
        .filter(F.col("nw") > 0)
    )
    n = sw.groupBy(id_col).agg(F.count("*").alias("n_sents"))
    a = sw.select(
        id_col,
        F.col("i").alias("src"),
        F.col("ws").alias("ws_a"),
        F.col("nw").alias("nw_a"),
    )
    b = sw.select(
        id_col,
        F.col("i").alias("dst"),
        F.col("ws").alias("ws_b"),
        F.col("nw").alias("nw_b"),
    )
    edges = (
        a.join(b, id_col)
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "ov", F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
        )
        .filter(F.col("ov") > 0)
        .select(
            id_col,
            "src",
            "dst",
            (F.col("ov") / (F.col("nw_a") + F.col("nw_b"))).alias("w"),
        )
    )
    out_deg = edges.groupBy(id_col, "src").agg(F.sum("w").alias("out_w"))
    e = edges.join(out_deg, [id_col, "src"])
    base = (1 - damping) * (F.lit(1.0) / F.col("n_sents"))
    scores = sw.select(id_col, "i").join(n, id_col).select(
        id_col, "i", (F.lit(1.0) / F.col("n_sents")).alias("s")
    )
    for _ in range(iters):
        contrib = (
            e.join(
                scores.select(
                    id_col, F.col("i").alias("src"), F.col("s").alias("s_src")
                ),
                [id_col, "src"],
            )
            .groupBy(id_col, F.col("dst").alias("i"))
            .agg(F.sum(F.col("w") * F.col("s_src") / F.col("out_w")).alias("c"))
        )
        scores = (
            sw.select(id_col, "i")
            .join(n, id_col)
            .join(contrib, [id_col, "i"], "left")
            .select(
                id_col,
                "i",
                (base + damping * F.coalesce("c", F.lit(0.0))).alias("s"),
            )
        )
    w_top = Window.partitionBy(id_col).orderBy(F.desc("sr"), "i")
    return (
        scores.withColumn("sr", F.round("s", 6))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .join(sw.select(id_col, "i", "sent"), [id_col, "i"])
        .join(n, id_col)
        .select(
            id_col,
            F.col("i").alias("sent_idx"),
            F.col("sent").alias("sentence"),
            F.col("n_sents").cast("long").alias("n_sentences"),
            F.col("sr").alias("score"),
        )
    )
