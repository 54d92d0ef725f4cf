"""Oracle-differential + property tests for corpus-curation operators
(chunking, balanced sampling, split assignment)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.operators import curation

from test_oracle import oracle_test, test_registry_keys_align  # noqa: F401

test_curation_matches_oracle = oracle_test("curation")


def test_chunks_cover_full_text(spark, sf_dir):
    # concatenating stride-aligned chunk prefixes reconstructs the text
    docs = load_table(spark, sf_dir, "documents")
    chunks = curation.chunk_text(docs, size=100, stride=100)  # no overlap
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk")))
                .getField("chunk")
            ).alias("rebuilt")
        )
        .join(docs.select("doc_id", "text"), "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
    )
    assert rebuilt.count() == 0


def test_chunk_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    chunks = curation.chunk_text(docs, size=120, stride=100)
    assert chunks.filter(F.col("chunk_len") > 120).count() == 0
    assert chunks.filter(F.col("chunk_len") <= 0).count() == 0


def test_chunk_no_contained_trailing_and_no_empty(spark):
    """A trailing window wholly contained in its predecessor must not
    be emitted (it would duplicate training text), and empty documents
    produce no chunks."""
    docs = spark.createDataFrame(
        [
            (1, "x" * 110),  # len < size: exactly one chunk
            (2, ""),  # empty: no chunks
            (3, "y" * 250),  # needs starts 0,100,200 to reach the end
            (4, "z" * 120),  # len == size: one chunk
        ],
        "doc_id long, text string",
    )
    rows = curation.chunk_text(docs, size=120, stride=100).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc.get(1, [])) == 1 and by_doc[1][0].chunk_len == 110
    assert 2 not in by_doc
    got3 = sorted((r.chunk_idx, r.chunk_len) for r in by_doc[3])
    assert got3 == [(0, 120), (1, 120), (2, 50)]
    assert len(by_doc.get(4, [])) == 1 and by_doc[4][0].chunk_len == 120
    # coverage: every char position of doc 3 appears in some chunk
    covered = set()
    for r in by_doc[3]:
        covered.update(range(r.chunk_idx * 100, r.chunk_idx * 100 + r.chunk_len))
    assert covered == set(range(250))


def test_balanced_sample_quota_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    s1 = curation.balanced_sample(docs, per_group=7)
    counts = s1.groupBy("source").count().collect()
    assert counts and all(r["count"] <= 7 for r in counts)
    s2 = curation.balanced_sample(docs.orderBy(F.rand(seed=1)), per_group=7)
    assert {r.doc_id for r in s1.collect()} == {r.doc_id for r in s2.collect()}


def test_stratified_sample_proportional_and_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    frac = 0.2
    sizes = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    s1 = curation.stratified_sample(docs, fraction=frac)
    got = {r.source: r["count"] for r in s1.groupBy("source").count().collect()}
    import math

    for src, n in sizes.items():
        assert got.get(src, 0) == math.ceil(frac * n), src
    # input order must not change the picked set
    s2 = curation.stratified_sample(docs.orderBy(F.rand(seed=7)), fraction=frac)
    assert {r.doc_id for r in s1.collect()} == {r.doc_id for r in s2.collect()}


def test_split_assignment_stable_and_total(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = curation.assign_splits(docs)
    assert out.count() == docs.count()
    # subsetting the corpus never moves a doc between splits
    sub = curation.assign_splits(docs.filter(F.col("doc_id") % 3 == 0))
    joined = out.select("doc_id", "split").join(
        sub.select("doc_id", F.col("split").alias("split2")), "doc_id"
    )
    assert joined.filter(F.col("split") != F.col("split2")).count() == 0


def test_weighted_sample_favors_heavy_and_is_deterministic(spark):
    """A-ES with 100:1 weights must draw overwhelmingly from the heavy
    class, and two invocations must return byte-identical samples."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.curation import (
        weighted_sample,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, 100.0).otherwise(1.0).alias("w"),
    )
    s1 = weighted_sample(df, "w", k=200)
    picked = [r.doc_id for r in s1.collect()]
    heavy = sum(1 for i in picked if i < 1000)
    assert heavy > 170, f"only {heavy}/200 from the 100x-weight class"
    s2 = [r.doc_id for r in weighted_sample(df, "w", k=200).collect()]
    assert picked == s2


class TestDsir:
    def _frames(self, spark):
        # target: pure "cat" domain; raw: 30 cat-like + 70 dog-like docs
        tgt = spark.createDataFrame(
            [(10_000 + i, "cat feline whiskers purr cat feline") for i in range(20)],
            ["doc_id", "text"],
        )
        raw_rows = [
            (i, "cat feline purr whiskers cat") for i in range(30)
        ] + [
            (100 + i, "dog canine bark fetch dog canine") for i in range(70)
        ]
        raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
        return raw, tgt

    def test_weights_rank_target_like_docs_higher(self, spark):
        raw, tgt = self._frames(spark)
        w = curation.dsir_importance_weights(raw, tgt, n_buckets=64)
        rows = {r.doc_id: r.logw for r in w.collect()}
        cat_mean = sum(rows[i] for i in range(30)) / 30
        dog_mean = sum(rows[100 + i] for i in range(70)) / 70
        assert cat_mean > dog_mean + 1.0, (cat_mean, dog_mean)

    def test_resample_skews_toward_target_domain(self, spark):
        raw, tgt = self._frames(spark)
        picked = [
            r.doc_id
            for r in curation.dsir_resample(raw, tgt, k=30, n_buckets=64).collect()
        ]
        assert len(picked) == 30
        cat_like = sum(1 for d in picked if d < 100)
        # 30% of the pool is cat-like but should dominate the draw
        assert cat_like >= 25, f"only {cat_like}/30 target-like"

    def test_resample_is_deterministic(self, spark):
        raw, tgt = self._frames(spark)
        a = [r.doc_id for r in curation.dsir_resample(raw, tgt, k=15).collect()]
        b = [r.doc_id for r in curation.dsir_resample(raw, tgt, k=15).collect()]
        assert a == b

    def test_logratio_table_is_model_sized(self, spark):
        raw, tgt = self._frames(spark)
        rf = curation.hashed_ngram_features(raw, n_buckets=32)
        tf_ = curation.hashed_ngram_features(tgt, n_buckets=32)
        lr = curation.dsir_logratio_table(rf, tf_, n_buckets=32)
        assert lr.count() <= 32


def test_decontaminate_fuzzy_flags_paraphrase_not_unrelated(spark):
    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # one word changed — high shingle overlap
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
            # disjoint vocabulary
            (2, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.best_match, r.jaccard)
        for r in curation.decontaminate_fuzzy(
            train, bench, threshold=0.4, shingle_n=3
        ).collect()
    }
    assert 1 in got and got[1][0] == 1000 and got[1][1] >= 0.4
    assert 2 not in got


def test_budget_select_two_phase_equals_global_window(spark, sf_dir):
    """The range-partitioned two-phase prefix sum must reproduce the
    naive single-partition global window exactly (same selected set,
    same cumulative values) — the two-phase form exists purely so no
    task ever holds the global order."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("cost")
    )
    got = {
        (r.doc_id, r.cum_cost)
        for r in curation.budget_select(
            d, "cost", "cost", budget=50_000, id_col="doc_id"
        ).collect()
    }
    w = Window.orderBy(F.col("cost").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.doc_id, r.cum)
        for r in d.withColumn("cum", F.sum("cost").over(w))
        .filter(F.col("cum") <= 50_000)
        .collect()
    }
    assert want and got == want


def test_global_cumsum_equals_global_window(spark, sf_dir):
    """operators.curation.global_cumsum (range-partitioned two-phase
    prefix sum, VERDICT r7 #5) must reproduce the naive unpartitioned
    running-sum window exactly — including negative values (the
    orders_open_backlog difference-array deltas it now powers)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 7 - 3).cast("long").alias("delta"),
    )
    got = {
        (r.o_orderkey, r.run)
        for r in curation.global_cumsum(
            d, ["o_orderkey"], "delta", out_col="run"
        ).collect()
    }
    w = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.o_orderkey, r.run)
        for r in d.withColumn("run", F.sum("delta").over(w)).collect()
    }
    assert want and got == want


def test_global_rank_equals_row_number(spark):
    """operators.curation.global_rank over a forced 5-partition range
    layout must equal row_number over the same total order, with heavy
    ties in the leading key; an empty input ranks to an empty frame."""
    import random

    from pyspark.sql import Window

    random.seed(3)
    rows = [(i, random.randint(0, 3)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    key = [F.col("v").desc(), F.col("id").asc()]
    got = {
        r.id: r.global_rank
        for r in curation.global_rank(df, key, num_partitions=5).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(Window.orderBy(*key)))
        .collect()
    }
    assert got == want
    empty = spark.createDataFrame([], "id long, v long")
    assert curation.global_rank(empty, key, num_partitions=5).collect() == []


def test_exact_ntile_matches_spark_ntile(spark):
    """operators.curation.exact_ntile (two-phase prefix-sum rank) must
    reproduce F.ntile over a global Window exactly, across remainder
    shapes (N % k), ties in the value column, N < k, and empty input."""
    import random

    from pyspark.sql import Window

    from gcp_cloudsql_airflow_bigquery_spark.operators.curation import (
        exact_ntile,
    )

    random.seed(1)
    for n, k in [(10, 4), (3, 5), (100, 7), (1, 1), (57, 10), (16, 16), (0, 3)]:
        rows = [(i, random.randint(0, 20)) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long")
        key = [F.col("v").asc(), F.col("id").asc()]
        got = {r.id: r.bucket for r in exact_ntile(df, k, key).collect()}
        w = Window.orderBy("v", "id")
        want = {
            r.id: r.nt
            for r in df.withColumn("nt", F.ntile(k).over(w)).collect()
        }
        assert got == want, (n, k)


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402


@given(
    rows=hst.lists(hst.integers(0, 9), min_size=1, max_size=60),
    k=hst.integers(1, 12),
)
@settings(max_examples=10, deadline=None)
def test_exact_ntile_matches_spark_ntile_hypothesis(spark, rows, k):
    """Random value multisets (heavy ties) and bucket counts: the
    two-phase exact_ntile must equal F.ntile everywhere."""
    from pyspark.sql import Window

    from gcp_cloudsql_airflow_bigquery_spark.operators.curation import (
        exact_ntile,
    )

    df = spark.createDataFrame(list(enumerate(rows)), ["id", "v"])
    key = [F.col("v").asc(), F.col("id").asc()]
    got = {r.id: r.bucket for r in exact_ntile(df, k, key).collect()}
    w = Window.orderBy("v", "id")
    want = {
        r.id: r.nt for r in df.withColumn("nt", F.ntile(k).over(w)).collect()
    }
    assert got == want
