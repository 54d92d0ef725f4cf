"""Near-duplicate detection (``operators/dedup.py`` and the word n-gram
builders in ``operators/textstats.py``): the shinglers' literal
outputs, exact dedup, n-gram Jaccard, MinHash/LSH, SimHash, prefix
filtering and containment, winnowing, the persisted shingle index and
its incremental delta dedup, the digest bloom gate, and duplicated
passages.  Each approximate operator is checked against the exact
inverted-index pairs or a planted fixture."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.operators import dedup, textstats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


# --- shinglers -------------------------------------------------------

def test_shinglers_edge_cases(spark):
    """Literal outputs of every word n-gram builder (n = 3): null,
    empty and whitespace-only text, fewer than n and exactly n words,
    repeated grams (the distinct forms keep first-occurrence order) and
    mixed case with tabs and double spaces (normalized first).  The
    dedup operators shingle behind ``localCheckpoint``, so plan dumps
    cannot show this step; this test pins it directly.

    Hash forms: ``word_ngram_hashes``/``word_shingle_hashes`` hash the
    n words as separate ``xxhash64`` arguments; ``rolling_fingerprints``
    hashes the space-joined gram (``xxhash64``, or the first 15 hex
    digits of its md5 when portable)."""
    texts = [None, "", "   ", "a b", "a b c", "a b c a b c a b c", "A  b\tC d"]
    cycle = ["a b c", "b c a", "c a b"]
    grams = [None, [], [], [], ["a b c"], cycle * 2 + ["a b c"], ["a b c", "b c d"]]
    distinct = [None, [], [], [], ["a b c"], cycle, ["a b c", "b c d"]]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    t = F.col("text")
    got = df.orderBy("i").select(
        textstats.word_ngrams(t, 3).alias("ngrams"),
        textstats.word_ngram_hashes(t, 3).alias("ngram_hashes"),
        dedup.word_shingles(t, 3).alias("shingles"),
        dedup.word_shingle_hashes(t, 3).alias("shingle_hashes"),
        textstats.rolling_fingerprints(t, window=3).alias("fps"),
        textstats.rolling_fingerprints(t, 3, portable=True).alias("fps_md5"),
    ).collect()

    every = sorted({g for gs in grams if gs for g in gs})
    words = [F.xxhash64(*map(F.lit, g.split())) for g in every]
    joined = [F.xxhash64(F.lit(g)) for g in every]
    ref = spark.range(1).select(F.array(*words), F.array(*joined)).first()
    word_hash, joined_hash = dict(zip(every, ref[0])), dict(zip(every, ref[1]))
    md5_hash = {g: int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in every}

    def hashed(gs, h):
        return None if gs is None else [h[g] for g in gs]

    assert [r.ngrams for r in got] == grams
    assert [r.shingles for r in got] == distinct
    assert [r.ngram_hashes for r in got] == [hashed(g, word_hash) for g in grams]
    assert [r.shingle_hashes for r in got] == [hashed(g, word_hash) for g in distinct]
    assert [r.fps for r in got] == [hashed(g, joined_hash) for g in grams]
    assert [r.fps_md5 for r in got] == [hashed(g, md5_hash) for g in grams]


# --- exact dedup ------------------------------------------------------

def test_exact_dedup_keeps_one_per_content(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in [(1, "a b"), (2, "A  b"), (3, "c")]]
    )
    kept = sorted(r.doc_id for r in dedup.exact_dedup(df).collect())
    # "a b" and "A  b" normalize identically -> min id 1 survives
    assert kept == [1, 3]


# --- n-gram Jaccard and MinHash/LSH -----------------------------------

@pytest.mark.parametrize(
    "pin_sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_minhash_full_recall_on_pinned_fixtures(spark, pin_sf_dir):
    """``doc_dedup_keep_best_quality``'s oracle computes exact
    all-pairs Jaccard while the Spark side uses MinHash-LSH candidates
    (32 hashes / 16 bands), so its hash check is only sound if LSH
    recovers EVERY J>=0.5 pair on the pinned fixtures.  Pin recall=1
    at both correctness SFs; if a regenerated fixture breaks this, the
    driver row for that query is a fixture artifact, not a product bug
    (see the query docstring in plans/llmdata.py)."""
    d = load_table(spark, pin_sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(
            d, threshold=0.5, num_hashes=32, bands=16
        ).collect()
    }
    assert exact <= approx, f"missed true pairs: {sorted(exact - approx)[:5]}"


def test_minhash_recall_vs_exact(docs):
    """LSH candidates must recover (almost) all true near-dup pairs."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9"
    # verification step guarantees no false positives above threshold
    assert approx <= exact


def test_minhash_portable_twin_matches_xxhash_path(docs):
    """``doc_dedup_minhash_portable`` (md5-derived hashes, the
    oracle-replayable twin) must surface the same verified pair set as
    the xxhash64 scale path on the fixture — the twin exists to make
    the pipeline cross-engine checkable, not to change its answer."""
    fast = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()
    }
    portable = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_near_dups(
            docs, threshold=0.5, portable=True
        ).collect()
    }
    assert fast, "fixture should contain planted near-dups"
    assert portable == fast


def test_minhash_banding_equals_exact(docs):
    """The banded pipeline the declared ``doc_dedup_ngram_jaccard``
    query runs (16 bands x 2 rows — candidate prob 1-(1-J^2)^16, ~1
    above the 0.5 threshold, without the hot-bucket blowup of 1-row
    banding) must reproduce the exact inverted-index output verbatim
    on the fixture."""
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    routed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_near_dups(
            docs, threshold=0.5, num_hashes=32, bands=16
        ).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    assert routed == exact


def test_minhash_band_math(docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    row = sigs.first()
    assert len(row.signature) == 16
    # slots must differ (a bug that reuses one seed yields equal slots)
    assert len(set(row.signature)) > 1


# --- SimHash ----------------------------------------------------------

def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark shuffles data across the cluster nodes"),
            Row(doc_id=2, text="spark shuffles data across the cluster nodes"),
            Row(doc_id=3, text="completely different words entirely unrelated topic"),
        ]
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dups(df, max_distance=3).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --- prefix filtering and containment ---------------------------------

def test_prefix_filter_equals_exact(docs):
    """Prefix filtering is exact by construction (no probabilistic
    recall): it must reproduce the inverted-index output verbatim —
    the AllPairs lemma says any pair at J >= t shares a prefix token,
    and the verify step computes true Jaccard on the full sets."""
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    assert pref == exact


def test_prefix_filter_explodes_less(docs):
    """The point of prefix filtering: the exploded/shuffled token count
    must be well under the full inverted index (~(1-t)+1/m of it at
    threshold t)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.dedup import (
        word_shingle_hashes,
    )

    sh = docs.select(
        F.array_sort(word_shingle_hashes(F.col("text"), 3)).alias("sh")
    ).filter(F.size("sh") > 0)
    full = sh.select(F.sum(F.size("sh"))).first()[0]
    plen = F.size("sh") - F.ceil(0.5 * F.size("sh")).cast("int") + 1
    pref = sh.select(F.sum(plen)).first()[0]
    assert pref < 0.6 * full, f"prefix {pref} not < 60% of index {full}"


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """containment_pairs: a short doc embedded verbatim in a much
    longer one is found at containment ~1.0 even though its Jaccard is
    far below any dedup threshold — the asymmetric criterion the
    operator exists for."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.dedup import (
        containment_pairs,
        prefix_filter_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, short),
            (2, short + " " + filler),  # contains all of doc 1
            (3, "completely different text about other things entirely"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (2, 1) not in pairs  # asymmetric: the long doc is not contained
    assert not any(3 in p for p in pairs)
    # the same pair is invisible to symmetric Jaccard at any dedup threshold
    j = prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    assert not any({r.id_a, r.id_b} == {1, 2} for r in j)
    # portable and xxhash64 hashing agree on the pair set
    pp = {
        (r.id_a, r.id_b)
        for r in containment_pairs(docs, threshold=0.8, portable=True).collect()
    }
    assert pp == set(pairs)


# --- winnowing --------------------------------------------------------

def test_winnow_finds_shared_passage(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import dedup

    passage = "the quick brown fox jumps over the lazy dog every single day"
    rows = [
        (1, "unrelated preamble words here " + passage),
        (2, passage + " followed by a totally different ending entirely"),
        (3, "no overlap with anything else at all in this document text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.winnow_candidates(df, window=8, sample_mod=2).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


# --- persisted shingle index and incremental dedup --------------------

def test_materialized_shingle_index_joins_without_exchange(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").limit(200)
    inv = dedup.materialize_shingle_index(docs, table="t_shidx", n_buckets=8)
    # the recurring dedup self-join: bucket-local, no shuffle on shingle
    joined = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id"), F.col("b.id"))
        .count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(shingle" not in plan, plan
    # and it produces the same pair counts as the on-the-fly index
    fresh = dedup.shingle_index(docs)
    want = (
        fresh.alias("a")
        .join(fresh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id"), F.col("b.id"))
        .count()
    )
    assert joined.exceptAll(want).count() == 0 and want.exceptAll(joined).count() == 0


def test_incremental_near_dups_against_index(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").limit(100)
    index = dedup.materialize_shingle_index(docs, table="t_shidx_inc", n_buckets=8)
    # the delta: one exact copy of an existing doc (new id) + one fresh doc
    base = docs.limit(1).collect()[0]
    delta = spark.createDataFrame(
        [
            (999_001, base.text),
            (999_002, "entirely novel words never appearing in the corpus fixture"),
        ],
        "doc_id long, text string",
    )
    hits = dedup.incremental_near_dups(delta, index, threshold=0.5).collect()
    assert any(r.new_id == 999_001 and r.old_id == base.doc_id and r.jaccard == 1.0 for r in hits)
    assert all(r.new_id != 999_002 for r in hits)


# --- digest bloom gate ------------------------------------------------

def test_bloom_new_docs_exact_and_pruning(spark):
    """The bloom-pruned incremental gate must (a) equal the plain
    anti-join result exactly and (b) actually short-circuit genuinely
    new rows past the corpus join (bloom miss = certain new)."""
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"corpus doc {i}") for i in range(200)]
    )
    delta = spark.createDataFrame(
        # 5 exact dups of corpus content (normalized), 5 new docs
        [Row(doc_id=1000 + i, text=f"Corpus  DOC {i}") for i in range(5)]
        + [Row(doc_id=2000 + i, text=f"fresh doc {i}") for i in range(5)]
    )
    got = sorted(r.doc_id for r in dedup.bloom_new_docs(delta, corpus).collect())
    assert got == [2000, 2001, 2002, 2003, 2004]

    # pruning: with 1 Mbit / 5 hashes over 200 digests, FP rate ~0 —
    # every fresh row must be a bloom miss (never joins the corpus)
    bloom = dedup.build_digest_bloom(corpus)
    probed = (
        delta.withColumn(
            "digest",
            F.md5(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
            ),
        )
        .crossJoin(F.broadcast(bloom))
        .select(
            "doc_id",
            dedup.bloom_might_contain(F.col("words"), F.col("digest")).alias(
                "maybe"
            ),
        )
    )
    maybe = {r.doc_id: r.maybe for r in probed.collect()}
    assert all(maybe[1000 + i] for i in range(5)), "true dups must hit"
    assert not any(maybe[2000 + i] for i in range(5)), "fresh rows must miss"


def test_bloom_bitmap_shape(spark):
    bloom = dedup.build_digest_bloom(
        spark.createDataFrame([Row(text="x")]), num_bits=1 << 10
    ).collect()
    assert len(bloom) == 1
    words = bloom[0].words
    assert len(words) == (1 << 10) // 64
    # exactly <= 5 bits set for one digest (hash collisions may overlap)
    assert 1 <= sum(bin(w & ((1 << 64) - 1)).count("1") for w in words) <= 5


# --- duplicated passages ----------------------------------------------

def test_duplicate_passages_planted_span(spark):
    """A 6-word passage planted in two docs yields one maximal span per
    doc at the right 1-based word offsets (6 words -> 2 five-grams),
    and a doc sharing nothing is absent."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.dedup import (
        duplicate_passages,
    )

    shared = "the quick brown fox jumps high"
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} zeta eta theta iota kappa"),
        (3, "totally unrelated words only here nothing repeats at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.span_start, r.span_end, r.n_grams)
        for r in duplicate_passages(df, k=5).collect()
    }
    # doc 1: shared starts at word 3 -> grams at pos 3,4 -> span [3, 8]
    # doc 2: shared starts at word 1 -> grams at pos 1,2 -> span [1, 6]
    assert out == {1: (3, 8, 2), 2: (1, 6, 2)}


def test_redact_passages_planted(spark):
    """The planted shared passage is cut from both docs, the untouched
    doc survives verbatim with n_removed=0, and output stays 1:1 with
    the corpus."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.dedup import (
        redact_passages,
    )

    shared = "the quick brown fox jumps high"
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} zeta eta theta iota kappa"),
        (3, "totally unrelated words only here nothing repeats at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in redact_passages(df, k=5).collect()
    }
    assert out == {
        1: ("alpha beta gamma delta", 6),
        2: ("zeta eta theta iota kappa", 6),
        3: (docs[2][1], 0),
    }
