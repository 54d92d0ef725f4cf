r"""Deduplication operators (SURVEY.md §2b "dedup" + north star):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- Exact dedup is a hash-groupBy — one shuffle on the 128-bit digest,
  perfectly balanced regardless of document skew.
- N-gram Jaccard is exact pairwise similarity via an inverted index
  (explode shingles → self-join on shingle → count per pair).  Quadratic
  in the worst case; at 100 TB use it only on LSH candidate pairs.
- MinHash+LSH is the scale path: k deterministic hash slots → b bands ×
  r rows → band-bucket join.  Shuffles are on band signatures (uniform);
  candidate verification re-runs exact Jaccard on the candidates only.
- SimHash gives 64-bit signatures; near-dup = small Hamming distance,
  banded into 4×16-bit keys for blocking.

All hashing is ``xxhash64``/``md5`` built-ins — JVM-side, deterministic
across runs and cluster sizes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import (
    fingerprint_md5,
    normalize_text,
    rolling_fingerprints,
    tokens,
    word_ngram_hashes,
    word_ngrams,
)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text, in first
    occurrence order (``textstats.word_ngrams`` made a set)."""
    return F.array_distinct(word_ngrams(text, n))


def word_shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct 64-bit ``xxhash64`` shingles — the n token slots feed
    the hash directly (``textstats.word_ngram_hashes`` made a set), so
    no shingle string is ever allocated and every downstream
    explode/join/shuffle moves 8-byte longs instead of n-word text.
    Set-cardinality semantics are hash-collision-exact to ~m²/2⁶⁴."""
    return F.array_distinct(word_ngram_hashes(text, n))


def _shuffle_parts(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _jaccard(inter: Column, n_a: Column, n_b: Column) -> Column:
    """The one Jaccard score every verify step reports:
    ``|A∩B| / (|A| + |B| - |A∩B|)`` rounded to 6 places (the oracles
    round the same way)."""
    return F.round(inter / (n_a + n_b - inter), 6)


def _verify_counts(inter: DataFrame, inv: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs ``(id_a, id_b, inter)`` → ``(id_a, id_b,
    jaccard)`` at or above ``threshold``, with both set sizes counted
    from the (id, shingle) index ``inv``."""
    sizes = inv.groupBy("id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b"
        )
        .withColumn("jaccard", _jaccard(F.col("inter"), F.col("n_a"), F.col("n_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _block_pairs(keyed: DataFrame, keys: list[str], *extra: Column) -> DataFrame:
    """The blocking self-join: distinct ``(id_a, id_b)`` with ``id_a <
    id_b`` over rows sharing every ``keys`` value, plus any ``extra``
    columns computed from the ``a``/``b`` sides."""
    return (
        keyed.alias("a")
        .join(keyed.alias("b"), keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), *extra)
        .distinct()
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    canonical (min) id and the duplicate count."""
    return (
        df.select(fingerprint_md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one (min-id) row per distinct normalized content."""
    h = fingerprint_md5(F.col(text_col))
    w_min = exact_dedup_groups(df, text_col, id_col).select(
        "content_hash", F.col("canonical_id").alias(id_col)
    )
    return df.withColumn("content_hash", h).join(
        w_min, ["content_hash", id_col], "left_semi"
    ).drop("content_hash")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via inverted index.

    explode(shingles) → self-join on shingle (skew-safe: shingle keys are
    near-uniform after normalization) → |A∩B| per pair → Jaccard with
    precomputed |A|,|B|.
    """
    inv = shingle_index(df, text_col, id_col, n)
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return _verify_counts(pairs, inv, threshold)


def md5_hash60(col: Column) -> Column:
    """Portable 60-bit hash: the first 15 hex digits of md5, parsed as
    an integer.  Unlike ``xxhash64`` (JVM-specific seeds) this is
    reproducible in any engine with an md5 function — DuckDB replays it
    as ``('0x' || substr(md5(w), 1, 15))::BIGINT`` — which makes
    SimHash/MinHash outputs cross-engine hash-checkable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_seeded(col: Column, seed: int) -> Column:
    """Seed-parameterized ``md5_hash60`` (prefix the seed before
    hashing) — the portable stand-in for ``xxhash64(col, seed)`` in
    MinHash signature slots."""
    return md5_hash60(F.concat(F.lit(f"{seed}:"), col.cast("string")))


def _shingle_hashes(text: Column, n: int, portable: bool) -> Column:
    """Distinct shingle hashes: ``xxhash64`` over the words, or (portable)
    the distinct shingle strings hashed with :func:`md5_hash60`."""
    if portable:
        return F.transform(word_shingles(text, n), md5_hash60)
    return word_shingle_hashes(text, n)


def shingle_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Inverted index: one (id, shingle-hash) row per distinct shingle.
    The shingle pipeline (tokenize -> slice -> hash) runs exactly once
    per document here; every MinHash/Jaccard consumer reuses these rows
    instead of re-deriving arrays (projection collapse would otherwise
    re-evaluate the whole chain once per derived column).  Shingles are
    64-bit hashes, not strings — intersection/union counts are
    identical w.h.p. and the index shuffles 8 bytes per entry.

    ``portable=True`` hashes the shingle *string* with the md5-derived
    60-bit hash (``md5_hash60``) instead of xxhash64 — slower (one md5
    + string materialization per shingle) but replayable by any engine
    with md5, which makes downstream MinHash output cross-engine
    hash-checkable."""
    shingles = _shingle_hashes(F.col(text_col), n, portable)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Deterministic MinHash: slot i = min over shingles of
    xxhash64(shingle, seed=i).

    Computed over the exploded shingle index: each shingle string is
    hashed ``num_hashes`` times as parallel MIN aggregates (map-side
    partial agg, one uniform shuffle on id) -- far cheaper than array
    transforms, whose projection collapse re-derives the shingle array
    once per signature slot."""
    inv = shingle_index(df, text_col, id_col, shingle_n)
    return minhash_signatures_from_index(inv, num_hashes)


def minhash_signatures_from_index(
    inv: DataFrame, num_hashes: int = 32, portable: bool = False
) -> DataFrame:
    """MinHash signatures over a prebuilt (id, shingle) index — lets a
    lineage-cut or catalog-materialized index feed every consumer.
    ``portable=True`` swaps the per-slot ``xxhash64(shingle, i)`` for
    the engine-replayable ``md5_hash60_seeded``."""
    slot = (
        (lambda i: md5_hash60_seeded(F.col("shingle"), i))
        if portable
        else (lambda i: F.xxhash64(F.col("shingle"), F.lit(i)))
    )
    mins = inv.groupBy("id").agg(
        *[F.min(slot(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_candidates_from_index(
    inv: DataFrame, num_hashes: int = 32, bands: int = 8, portable: bool = False
) -> DataFrame:
    """LSH banding over a prebuilt (id, shingle) index.  In portable
    mode the bucket key is the raw comma-joined band slice (a string —
    identical in any engine) instead of its xxhash64."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures_from_index(inv, num_hashes, portable)

    def band_key(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[
                F.element_at("signature", b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ],
        )
        return joined if portable else F.xxhash64(joined)

    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    return _block_pairs(banded, ["band", "bucket"])


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The full scale pipeline: LSH candidates → exact Jaccard verify.
    Only candidate pairs (tiny vs n²) pay the verification join, and it
    runs over the inverted index (shingle-count intersection) rather
    than shuffling full shingle arrays.

    The index is lineage-cut (lazy ``localCheckpoint``) because four
    subtrees consume it — signatures, sizes, and both verify sides;
    without the cut each consumer re-tokenizes the corpus.  In a
    recurring pipeline, point the consumers at
    :func:`materialize_shingle_index` instead."""
    inv = shingle_index(df, text_col, id_col, shingle_n, portable).localCheckpoint(
        eager=False
    )
    cand = minhash_lsh_candidates_from_index(inv, num_hashes, bands, portable)
    inter = (
        cand.join(inv.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(inv.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _verify_counts(inter, inv, threshold)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """``bits``-bit SimHash per document: explode tokens, hash each once
    (``xxhash64`` by default; pass ``hash_fn=md5_hash60`` with
    ``bits=60`` for a cross-engine-portable signature), then ``bits``
    parallel SUM(+1/-1) bit votes in a single map-side-combined
    aggregation (one uniform shuffle on id).  Docs with no tokens are
    excluded."""
    hf = hash_fn or F.xxhash64
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("w"),
    ).select("id", hf(F.col("w")).alias("h"))
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        bit_val = F.lit(2**b if b < 63 else -(2**63)).cast("long")
        term = F.when(F.col(f"b{b}") > 0, bit_val).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bits: int = 64,
    hash_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """SimHash blocking: 4 equal-width bands (any pair within
    Hamming ≤ 3 of the key shares at least one exact band by
    pigeonhole), then verify the Hamming distance on candidates."""
    band_bits = bits // 4
    band_mask = (1 << band_bits) - 1
    sigs = simhash_signatures(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sig", b * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.key")
    hamming = hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming")
    return _block_pairs(banded, ["band", "key"], hamming).filter(
        F.col("hamming") <= max_distance
    )


def winnow_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    sample_mod: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing-style near-dup candidates: rolling ``window``-token
    fingerprints, mod-sampled (keep fp where ``fp % sample_mod == 0`` —
    the hash-uniform simplification of winnowing's per-window min), then
    a self-join on the sampled fingerprint.  Catches *local* overlap
    (shared passages) that whole-document MinHash dilutes; the standard
    plagiarism/boilerplate detector.

    Scale shape: explode is rows × (tokens/sample_mod); the join key is
    a uniform 64-bit hash, so no skew; output is distinct candidate
    pairs, to be verified by exact Jaccard like the MinHash path."""
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                rolling_fingerprints(F.col(text_col), window=window, portable=portable),
                lambda h: h % sample_mod == 0,
            )
        ).alias("fp"),
    ).distinct()
    return _block_pairs(fps, ["fp"])


def materialize_shingle_index(
    df: DataFrame,
    table: str = "shingle_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_buckets: int = 32,
) -> DataFrame:
    """Build the inverted shingle index ONCE and persist it bucketed by
    shingle hash — the production shape for a dedup stack at 100 TB.

    Every near-dup pass (exact Jaccard, MinHash verify, incremental
    re-dedup of a corpus delta) self-joins or aggregates this index on
    ``shingle``; bucketing by the hash pre-pays that shuffle at write
    time, so each subsequent pass joins bucket-locally with zero
    Exchange (same mechanism as ``pipeline.write_bucketed``, asserted
    there).  Re-computing shingles per pass, by contrast, re-tokenizes
    the whole corpus every time.

    Returns the persisted index re-read from the catalog."""
    from ..pipeline import write_bucketed

    inv = shingle_index(df, text_col, id_col, n)
    write_bucketed(inv, table, ["shingle"], n_buckets, sort_keys=["shingle"])
    return df.sparkSession.table(table)


def _bit_masks() -> Column:
    """64 single-bit long masks as an array literal (``shiftleft`` only
    takes a Python-int shift, so masks are table-looked-up instead;
    bit 63 is the sign bit, hence the two's-complement literal)."""
    return F.array(
        *[
            F.lit((1 << b) - ((1 << 64) if b == 63 else 0)).cast("long")
            for b in range(64)
        ]
    )


def _bloom_positions(digest: Column, num_hashes: int, num_bits: int) -> Column:
    """``num_hashes`` deterministic bit positions for a digest: seeded
    ``xxhash64`` mod ``num_bits``.  JVM expressions only — identical on
    every executor and every run."""
    return F.array(
        *[
            F.pmod(F.xxhash64(digest, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def digest_bloom_words(
    corpus: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
):
    """Bloom-filter bitmap over the corpus' content digests as an int64
    numpy array of ``num_bits/64`` words (``num_bits/8`` bytes total).

    Spark's own ``bloom_filter_agg`` is not registered for SQL use, so
    the bitmap is assembled from built-ins: explode each digest's k bit
    positions, ``bit_or`` the per-word masks — map-side partial agg
    makes the shuffle AND the driver collect ≤ ``num_bits/64`` rows
    regardless of corpus size — then scatter the sparse (word, bits)
    set into the dense array driver-side (a numpy fill over ≤16 k
    entries; a distributed range-join densify measured 10× the cost in
    task-scheduling floor alone).  The result is a *model*, not data —
    fixed ~128 KB at the 1 Mbit default whether the corpus is 1 GB or
    100 TB, which is the whole point: the alternative broadcast (the
    full digest set) grows linearly with the corpus.
    """
    import numpy as np

    n_words = num_bits // 64
    digests = corpus.select(fingerprint_md5(F.col(text_col)).alias("digest"))
    word_bits = (
        digests.select(
            F.explode(
                _bloom_positions(F.col("digest"), num_hashes, num_bits)
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.element_at(
                _bit_masks(), (F.col("pos") % 64).cast("int") + 1
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    words = np.zeros(n_words, dtype=np.int64)
    for r in word_bits.collect():
        words[int(r["w"])] = r["bits"]
    return words


def build_digest_bloom(
    corpus: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """ONE-row DataFrame ``{words: array<long>}`` wrapper around
    :func:`digest_bloom_words` for callers that want to
    ``crossJoin(broadcast(...))`` the bitmap instead of embedding it."""
    words = digest_bloom_words(corpus, text_col, num_bits, num_hashes)
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [([int(x) for x in words],)], "words: array<long>"
    )


def bloom_might_contain(
    words: Column, digest: Column, num_hashes: int = 5, num_bits: int = 1 << 20
) -> Column:
    """True iff every one of the digest's k bloom bits is set — i.e.
    "possibly in the corpus"; False is a *certain* miss."""
    masks = _bit_masks()
    return F.forall(
        _bloom_positions(digest, num_hashes, num_bits),
        lambda p: (
            F.element_at(words, (p / 64).cast("int") + 1).bitwiseAND(
                F.element_at(masks, (p % 64).cast("int") + 1)
            )
            != 0
        ),
    )


def bloom_new_docs(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """EXACT set of delta rows whose normalized content digest does not
    appear in ``corpus`` — the nightly-ingest "which of these documents
    are actually new?" gate, bloom-pruned.

    Two-phase: (1) probe every delta row against the broadcast bloom —
    rows the bloom misses are *certainly* new and never touch the
    corpus; (2) only the "possibly seen" candidates pay the anti-join
    against the corpus digest set, which removes the bloom's false
    positives, so the output is exact.  At 100 TB the corpus side of
    phase 2 is a digest-only projection joined by a uniform 128-bit
    key, and the candidate fraction ≈ true-dup rate + FP rate (~0.6 %
    at the 1 Mbit/5-hash default for 10⁵ corpus digests) — the join
    input shrinks by whatever fraction of the delta is genuinely new.
    (A production deployment materializes the corpus digest projection
    once per ingest cycle rather than re-deriving it per call; both
    scans here are single-pass projections.)
    """
    # The bitmap is a MODEL (fixed 128 KB at defaults), not data — same
    # class as the IVF/k-means codebooks in operators/similarity.py, so
    # collecting it to the driver and embedding it as ONE array literal
    # is legitimate and measured fastest: both output branches share it
    # for free (a crossJoin(broadcast) subtree was rebuilt per branch —
    # Catalyst did not reuse the exchange across the union — and a
    # localCheckpoint blocked broadcast reuse entirely, 3× slower).
    # the bitmap is built driver-side once (digest_bloom_words collects
    # ≤16 k sparse words) and shipped via a one-row broadcast frame —
    # NOT as a column literal: pushing a 16 k-element array through
    # F.lit costs ~3 s of py4j per plan build, and F.lit(list) would
    # additionally expand to a per-row CreateArray (measured 11 s)
    bloom = build_digest_bloom(corpus, text_col, num_bits, num_hashes)
    probed = (
        new_docs.withColumn("__digest", fingerprint_md5(F.col(text_col)))
        .crossJoin(F.broadcast(bloom))
        .withColumn(
            "__maybe",
            bloom_might_contain(
                F.col("words"), F.col("__digest"), num_hashes, num_bits
            ),
        )
        .drop("words")
    )
    definite_new = probed.filter(~F.col("__maybe"))
    candidates = probed.filter(F.col("__maybe"))
    corpus_digests = corpus.select(fingerprint_md5(F.col(text_col)).alias("__digest"))
    confirmed_new = candidates.join(corpus_digests, "__digest", "left_anti")
    return definite_new.unionByName(confirmed_new).drop("__digest", "__maybe")


def incremental_near_dups(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a corpus DELTA against the existing (materialized) shingle
    index without touching old documents' text: new docs' shingles join
    the index, overlap counts become Jaccard via the stored per-id
    shingle counts.  Output: ``(new_id, old_id, jaccard)`` for pairs at
    or above ``threshold``.

    This is the nightly-ingest shape at 100 TB — the daily delta is
    O(delta) work against a bucket-local index join, not an O(corpus)
    re-shingle.  New-vs-new duplicates are found by the standard pass
    over the (small) delta itself."""
    new_inv = shingle_index(new_docs, text_col, id_col, n)
    new_sizes = new_inv.groupBy("id").agg(F.count("*").alias("n_new"))
    inter = (
        new_inv.select(F.col("id").alias("new_id"), "shingle")
        .join(index.select(F.col("id").alias("old_id"), "shingle"), "shingle")
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("inter"))
    )
    # size only the old docs that actually collided with the delta —
    # a semi-join first keeps the per-call work O(delta); aggregating
    # the whole index here would re-scan the corpus every ingest
    old_sizes = (
        index.join(
            inter.select(F.col("old_id").alias("id")).distinct(),
            "id",
            "left_semi",
        )
        .groupBy("id")
        .agg(F.count("*").alias("n_old"))
    )
    return (
        inter.join(new_sizes.select(F.col("id").alias("new_id"), "n_new"), "new_id")
        .join(old_sizes.select(F.col("id").alias("old_id"), "n_old"), "old_id")
        .withColumn("jaccard", _jaccard(F.col("inter"), F.col("n_new"), F.col("n_old")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )


def duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-passage extraction — the exact-substring half of
    the classic training-data dedup recipe (suffix-array ExactSubstr),
    re-expressed relationally so it distributes: a passage is a maximal
    run of word ``k``-grams each of which occurs in at least
    ``min_docs`` distinct documents.

    Output: one row per (document, maximal span) with 1-based word
    offsets ``span_start``/``span_end`` (inclusive) and the number of
    shared ``k``-grams the span merges.  Positions index the document's
    raw whitespace tokens, so a downstream pass can cut the span out
    losslessly.

    Scale shape:
    - every k-gram is carried as a 64-bit ``xxhash64`` from the moment
      of creation — the corpus-wide shuffle moves 8-byte longs, never
      the gram text (exact up to 64-bit collisions, ~m^2/2^64);
    - the shared-gram filter is one hash aggregation on the gram hash
      (partial aggregation map-side; natural-language k-grams with
      k >= 5 have no hot key worth salting);
    - the candidate join keys on the same hash, so AQE can broadcast
      the (small) shared-gram side when duplication is rare;
    - the island merge (gaps-and-islands via ``pos - row_number``)
      shuffles once on ``id_col`` — the partitioning a per-document
      redaction step downstream would reuse.
    """
    from pyspark.sql import Window

    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = (
        df.select(F.col(id_col), ws.alias("ws"))
        .filter(F.size("ws") >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (k - 1)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(F.col("ws"), i, k))
                    ),
                )
            ).alias("pos0", "gh"),
        )
        .select(id_col, (F.col("pos0") + F.lit(1)).cast("long").alias("pos"), "gh")
    )
    # Pin the gram shuffle to full width: the frame is byte-light (8-byte
    # hashes) but every downstream op is CPU-bound per row, the shape
    # AQE's byte-based coalescing collapses onto one task at small SF.
    # Both the shared-gram agg and the candidate join key on gh, so the
    # one explicit exchange serves both sides with no extra shuffle.
    grams = grams.repartition(_shuffle_parts(df), "gh")
    shared = (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    dup = grams.join(shared, "gh").drop("gh")
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .drop("grp")
    )


def redact_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cut every duplicated passage (``duplicate_passages`` span) out of
    every document — the apply step of exact-substring dedup.  Returns
    one row per input document: ``clean_text`` (the surviving tokens,
    single-space joined; empty string if the whole document was
    duplicated) and ``n_removed`` (tokens cut).

    Scale shape: the span table is tiny relative to the corpus (one row
    per maximal duplicate run), so the word-level anti-join is an equi
    join on ``id_col`` with the range predicate evaluated as a join
    residual — no cartesian anywhere — and the groupBy that rebuilds the
    text reuses the same ``id_col`` hash partitioning.  ``collect_list``
    is per-document (document-sized, not corpus-sized)."""
    spans = duplicate_passages(df, text_col, id_col, k, min_docs).select(
        F.col(id_col).alias("_sdoc"),
        "span_start",
        "span_end",
    )
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    words = df.select(F.col(id_col), F.posexplode(ws).alias("pos0", "word")).select(
        id_col, (F.col("pos0") + F.lit(1)).cast("long").alias("p"), "word"
    )
    kept = words.join(
        spans,
        on=(
            (words[id_col] == spans["_sdoc"])
            & (words["p"] >= spans["span_start"])
            & (words["p"] <= spans["span_end"])
        ),
        how="left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        df.select(F.col(id_col), F.size(ws).alias("n_words"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def _shingle_sets(df: DataFrame, id_col: str, hashes: Column) -> DataFrame:
    """``(id, sh)``: each document's sorted shingle-hash set, empty sets
    dropped, materialized once.  The frame feeds three or four
    consumers (prefix explode, containment's index side, both verify
    joins) through different exchanges (tok / tok / id_a / id_b), which
    ReuseExchange cannot collapse — without the cut the per-shingle
    hash kernel executes once per consumer.  One eager materialization
    runs it once (id + hash array rows: ~|tokens| longs, far smaller
    than the text it derives from)."""
    return (
        df.select(F.col(id_col).alias("id"), F.array_sort(hashes).alias("sh"))
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=True)
    )


def _prefix_len(threshold: float) -> Column:
    """Prefix-filter length of ``sh``: ``|A| - ceil(t*|A|) + 1`` under
    the hash order (see :func:`prefix_filter_jaccard_pairs`)."""
    return F.size("sh") - F.ceil(F.lit(threshold) * F.size("sh")).cast("int") + 1


def _with_sets(cand: DataFrame, sh: DataFrame, n_parts: int) -> DataFrame:
    """The two-sided verify join: distinct candidate ``(id_a, id_b)``
    pairs, pinned to ``n_parts`` tasks, with both shingle sets
    (``sh_a``, ``sh_b``) joined on by id."""
    return (
        cand.repartition(n_parts, "id_a", "id_b")
        .dropDuplicates()
        .join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs via AllPairs/PPJoin prefix filtering — the
    third candidate-generation family alongside the full inverted index
    (``ngram_jaccard_pairs``) and MinHash banding
    (``minhash_near_dups``), and the only one that is both EXACT (no
    probabilistic recall) and sub-inverted-index in shuffle volume.

    Prefix-filter lemma (the AllPairs/PPJoin invariant, as used by the
    MapReduce set-similarity join of Vernica et al., SIGMOD 2010): under
    any common total order of the token universe, two sets with
    J >= t must share at least one token among their first
    ``m - ceil(t*m) + 1`` tokens.  Proof: if A's prefix misses every
    common token then ``inter <= ceil(t*|A|) - 1 < t*|A| <=
    t*union <= inter`` — contradiction.  We use xxhash64 order (free:
    the shingles are already hashes), so no document-frequency pass is
    needed to define the order.

    Scale shape: only the prefix — a ``(1-t)`` fraction of each shingle
    set, half at t=0.5, a tenth at t=0.9 — is exploded and shuffled;
    candidate pairs are then verified with one ``array_intersect`` over
    the two full (array-valued, never exploded) shingle sets, joined by
    id.  Shuffle keys are uniform 64-bit hashes; no hot buckets.  Two
    further exact prunes ride the candidate join: the AllPairs
    size-ratio filter (J >= t forces ``t*|A| <= |B| <= |A|/t``) and the
    PPJoin positional bound (a match at prefix positions ``pA``/``pB``
    caps the reachable overlap at ``1 + min(|A|-pA-1, |B|-pB-1)``,
    which must reach ``ceil(t/(1+t)*(|A|+|B|))``; a true pair's
    smallest-order common token always passes, so no recall is lost) —
    together they halve the candidate set before the pair dedup.

    The candidate join is pinned to ``spark.sql.shuffle.partitions``
    tasks via an explicit repartition on the token key: its input is
    byte-light but CPU-quadratic per hot token, exactly the shape AQE's
    byte-based advisory coalescing collapses onto one task at small SF
    (measured 1-partition stages, 3.6 s -> 1.9 s fixed).  At cluster
    scale the byte volume keeps the stage wide anyway.
    """
    sh = _shingle_sets(df, id_col, word_shingle_hashes(F.col(text_col), n))
    n_parts = _shuffle_parts(df)
    ex = sh.select(
        "id",
        F.size("sh").alias("m"),
        F.posexplode(F.slice("sh", 1, _prefix_len(threshold))).alias("p", "tok"),
    ).repartition(n_parts, "tok")
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.m") + F.col("b.m"))
    )
    ubound = F.lit(1) + F.least(
        F.col("a.m") - F.col("a.p") - 1, F.col("b.m") - F.col("b.p") - 1
    )
    cand = (
        ex.alias("a")
        .join(ex.alias("b"), "tok")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("b.m") * F.lit(threshold) <= F.col("a.m"))
            & (F.col("a.m") * F.lit(threshold) <= F.col("b.m"))
            & (ubound >= alpha)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return (
        _with_sets(cand, sh, n_parts)
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", _jaccard(F.col("inter"), F.size("sh_a"), F.size("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    portable: bool = False,
) -> DataFrame:
    """Exact shingle-CONTAINMENT pairs ``C(A,B) = |A∩B| / |A| >=
    threshold`` — the asymmetric near-dup criterion Jaccard misses: a
    short document wholly embedded in a 10x-longer one has
    ``J ≈ |A|/|B| ≈ 0.1`` (invisible to every Jaccard-tuned candidate
    generator, including MinHash banding) but containment 1.0.  This
    is the standard quote/boilerplate/subset-dup test in web-corpus
    pipelines.

    Candidate generation is the one-sided prefix-filter: if A shares
    >= ``ceil(t*|A|)`` shingles with B, then A's first
    ``|A| - ceil(t*|A|) + 1`` shingles (under the hash total order)
    must hit B somewhere — so only the PROBE side explodes a
    ``(1-t)``-fraction prefix, while the indexed side contributes its
    full (already materialized-index-shaped) shingle rows.  Unlike the
    symmetric PPJoin (:func:`prefix_filter_jaccard_pairs`) there is no
    prefix bound on B — containment puts no lower bound on B's share —
    but the size prune ``|B| >= t*|A|`` still rides the join.
    Verification is one ``array_intersect`` over the two array-valued
    (never exploded) shingle sets.  Returns ORDERED pairs
    ``(id_a, id_b, containment)``: A is the contained side.

    ``portable=True`` hashes shingle strings with :func:`md5_hash60`
    so the DuckDB oracle replays bit-for-bit
    (``plans/llmdata.doc_containment_pairs``); the default xxhash64
    path is the cheap in-engine twin, equal w.h.p."""
    hashes = F.array_distinct(_shingle_hashes(F.col(text_col), n, portable))
    sh = _shingle_sets(df, id_col, hashes)
    n_parts = _shuffle_parts(df)
    probe = sh.select(
        F.col("id").alias("id_a"),
        F.size("sh").alias("m_a"),
        F.explode(F.slice("sh", 1, _prefix_len(threshold))).alias("tok"),
    ).repartition(n_parts, "tok")
    index = sh.select(
        F.col("id").alias("id_b"),
        F.size("sh").alias("m_b"),
        F.explode("sh").alias("tok"),
    ).repartition(n_parts, "tok")
    cand = (
        probe.join(index, "tok")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("m_b") >= F.lit(threshold) * F.col("m_a"))
        )
        .select("id_a", "id_b")
    )
    return (
        _with_sets(cand, sh, n_parts)
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
