"""Property tests for LLM-data operators (SURVEY.md §5
"non-SQL-expressible ops"): multimodal plumbing, corpus language
models, sketches, graph and entity-resolution helpers.  Near-duplicate
detection is in ``tests/test_dedup.py``."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.operators import (
    dedup,
    multimodal,
    textstats,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# --- multimodal plumbing ---------------------------------------------------

def test_multimodal_feature_extraction(spark, docs):
    media = multimodal.attach_fake_media(docs.limit(60))
    # compare names+types; nullability follows the source columns
    assert [(f.name, f.dataType) for f in media.schema] == [
        (f.name, f.dataType) for f in multimodal.MEDIA_SCHEMA
    ]
    feats = multimodal.extract_features(media)
    assert [(f.name, f.dataType) for f in feats.schema] == [
        (f.name, f.dataType) for f in multimodal.FEATURE_SCHEMA
    ]
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r.feature) == multimodal.FEATURE_DIM for r in rows)
    assert all(r.n_bytes == 128 for r in rows)  # 4×32-byte sha256 payload
    # deterministic: same input -> same features
    again = multimodal.extract_features(media).collect()
    assert {r.media_id: r.checksum for r in rows} == {
        r.media_id: r.checksum for r in again
    }


def test_multimodal_video_frame_sampling(spark, docs):
    media = multimodal.attach_fake_media(docs.limit(30))
    frames = multimodal.sample_video_frames(media, every_ms=1000)
    vids = media.filter(F.col("kind") == "video").collect()
    got = frames.groupBy("media_id").count().collect()
    assert {r.media_id for r in got} == {v.media_id for v in vids}
    expected = {v.media_id: (max(v.duration_ms - 1, 0)) // 1000 + 1 for v in vids}
    assert {r.media_id: r["count"] for r in got} == expected


def test_ppm_codec_roundtrip():
    rgb = bytes((x * 7 + c) % 256 for x in range(16) for c in range(3))
    blob = multimodal.encode_ppm(4, 4, rgb)
    assert multimodal.decode_ppm(blob) == (4, 4, rgb)
    # comment + whitespace grammar
    with_comment = b"P6\n# a comment\n4 4\n255\n" + rgb
    assert multimodal.decode_ppm(with_comment) == (4, 4, rgb)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5\n4 4\n255\n" + rgb)  # wrong magic
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(blob[:-1])  # truncated payload


def test_wav_codec_roundtrip():
    samples = [0, 1000, -1000, 32767, -32768, 5]
    blob = multimodal.encode_wav_pcm16(samples, rate=8000)
    assert multimodal.decode_wav_pcm16(blob) == (8000, samples)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_wav_pcm16(b"RIFFxxxxNOPE")
    with _pytest.raises(ValueError):
        multimodal.decode_wav_pcm16(blob[:20])  # missing data chunk


def test_multimodal_pure_decode_end_to_end(spark, docs):
    """The de-stubbed path: REAL PPM/WAV blobs encoded distributedly,
    decoded through the same mapInPandas plumbing, features checked
    against a driver-side reference decode of the same blob."""
    media = multimodal.attach_codec_media(docs.limit(30))
    blobs = {r.media_id: (r.kind, bytes(r.content)) for r in media.collect()}
    # the payloads really are the claimed formats
    assert any(b.startswith(b"P6") for _, b in blobs.values())
    assert any(b.startswith(b"RIFF") for _, b in blobs.values())

    feats = multimodal.extract_features(media, decode_backend="pure")
    rows = {r.media_id: list(r.feature) for r in feats.collect()}
    assert len(rows) == 30
    for mid, (kind, blob) in blobs.items():
        want = multimodal._pure_decode_features(kind, blob)
        got = rows[mid]
        assert len(got) == multimodal.FEATURE_DIM
        assert got == pytest.approx(want, rel=1e-6), (mid, kind)
    # image features carry real pixel statistics: the luma histogram
    # bins (last 8 slots) of any decoded image sum to 1
    img = next(m for m, (k, _) in blobs.items() if k == "image")
    assert sum(rows[img][8:]) == pytest.approx(1.0, abs=1e-6)


def test_multimodal_real_backend_gated(spark, docs):
    media = multimodal.attach_fake_media(docs.limit(5))
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(media, decode_backend="pil")
    with pytest.raises(NotImplementedError):
        multimodal.sample_video_frames(media, decode_backend="ffmpeg")


def test_connected_components_hand_graph(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        connected_components,
    )

    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 21)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "src long, dst long",
    )
    got = {
        r.node: r.label for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_unigram_logprob_buckets(docs):
    # CCNet-style LM filter: score is corpus-trained mean -ln p(term);
    # buckets come from percentile_approx cut points (never a global
    # ntile sort). Monotonic in score, every bucket populated.
    from gcp_cloudsql_airflow_bigquery_spark.operators import textstats

    out = textstats.unigram_logprob(docs, n_buckets=3)
    rows = out.orderBy("avg_neg_logprob", "doc_id").collect()
    assert {r.lm_bucket for r in rows} == {1, 2, 3}
    # non-decreasing bucket along the score order
    buckets = [r.lm_bucket for r in rows]
    assert buckets == sorted(buckets)
    # scores are finite and positive (-ln of probabilities < 1)
    assert all(r.avg_neg_logprob > 0 for r in rows)


def test_unigram_logprob_rare_terms_score_higher(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import textstats

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common common common"),
            Row(doc_id=2, text="common common rareword otherrare"),
        ]
    )
    got = {
        r.doc_id: r.avg_neg_logprob
        for r in textstats.unigram_logprob(df, n_buckets=2).collect()
    }
    assert got[2] > got[1]  # rare-term doc is less typical


def test_bigram_logprob_hand_computed(spark):
    """Exact check on a corpus tiny enough to hand-compute the model:
    'a b a b' + 'a b'.  Bigrams: (a,b)x3, (b,a)x1; prefix counts
    c(a·)=3, c(b·)=1; V=2.  p(b|a)=(3+α)/(3+2α), p(a|b)=(1+α)/(1+2α)."""
    import math

    from gcp_cloudsql_airflow_bigquery_spark.operators import textstats

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b"), Row(doc_id=2, text="a b")]
    )
    a = 0.1
    p_ba = (3 + a) / (3 + 2 * a)
    p_ab = (1 + a) / (1 + 2 * a)
    got = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
        for r in textstats.bigram_logprob(df).collect()
    }
    want1 = round(-(2 * math.log(p_ba) + math.log(p_ab)) / 3, 6)
    want2 = round(-math.log(p_ba), 6)
    assert got == {1: (3, want1), 2: (1, want2)}


def test_bigram_logprob_surprising_transitions_score_higher(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import textstats

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat the cat sat the cat sat"),
            Row(doc_id=2, text="the cat sat sat the cat the sat cat"),
            Row(doc_id=3, text="x"),  # single token: no bigrams
        ]
    )
    got = {
        r.doc_id: r.avg_neg_logprob
        for r in textstats.bigram_logprob(df).collect()
    }
    assert 3 not in got  # <2 tokens -> absent
    assert got[2] > got[1]  # shuffled transitions are less predictable


def test_fuzzy_name_pairs_edit_kinds(spark):
    """Deletion blocking must recover every edit kind at k=1 —
    substitution, insertion, deletion, equality — and reject k=2; the
    plan must stay an equi-join (no nested-loop cross product)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.fuzzy import (
        fuzzy_name_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "smith"),
            (2, "smyth"),   # substitution of 1
            (3, "smiths"),  # insertion vs 1
            (4, "mith"),    # deletion vs 1
            (5, "smith"),   # equal to 1
            (6, "smythe"),  # distance 2 from smith, 1 from smyth
        ],
        "k int, n string",
    )
    got = {
        (r.key_a, r.key_b): r.distance
        for r in fuzzy_name_pairs(df, "k", "n").collect()
    }
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert got[(1, 5)] == 0 and got[(2, 6)] == 1
    assert (1, 6) not in got, "distance-2 pair must not match"
    p = (
        fuzzy_name_pairs(df, "k", "n")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; adding a pendant edge changes nothing; a
    4-cycle without diagonals has none. Duplicate/reversed input edges
    must not double-count."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        triangle_count,
    )

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(
        k4 + [(3, 9)] + [(j, i) for i, j in k4], "a long, b long"
    )
    assert triangle_count(edges).collect()[0].n_triangles == 4
    square = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "a long, b long"
    )
    assert triangle_count(square).collect()[0].n_triangles == 0


def test_heavy_hitters_exact_vs_naive(spark):
    """Two-pass candidates+verify must equal the naive full groupBy
    HAVING on a skewed frame, with strict-> at the boundary: key 'b'
    lands exactly on min_frac*n and must be excluded."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.frequency import (
        heavy_hitters,
    )

    # 100 rows: a=60, b=20, rest 20 distinct singletons; min_frac=0.2
    rows = [("a",)] * 60 + [("b",)] * 20 + [(f"x{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    got = {r.k: r.n_rows for r in heavy_hitters(df, "k", 0.2).collect()}
    naive = {
        r.k: r.n
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 0.2 * 100)
        .collect()
    }
    assert got == naive == {"a": 60}


def test_sorted_neighborhood_boundary_exactness(spark):
    """The range-partitioned rank must reproduce the single-partition
    answer exactly — partition boundaries between sorted neighbors must
    not lose pairs."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.fuzzy import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"name{i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, "k long, n string")
    multi = {
        (r.key_a, r.key_b, r.distance)
        for r in sorted_neighborhood_pairs(
            df, "k", "n", window=3, max_distance=2, num_partitions=8
        ).collect()
    }
    single = {
        (r.key_a, r.key_b, r.distance)
        for r in sorted_neighborhood_pairs(
            df, "k", "n", window=3, max_distance=2, num_partitions=1
        ).collect()
    }
    assert multi == single
    assert multi, "consecutive nameNNN strings are within 2 edits"
    # name000's 3 successors are 001,002,003 at distance <= 2
    succ = {b for a, b, _ in multi if a == 0}
    assert succ == {1, 2, 3}


def test_count_min_sketch_properties(spark):
    """CMS invariants: never under-counts; exact when cardinality is
    far below width; merging per-half sketches estimates identically to
    the whole-data sketch; error bounded by 2N/width with slack."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.frequency import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    n = 20_000
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(200)).alias("k"), "id"
    )
    truth = {r.k: r.n for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    keys = df.select("k").distinct()

    cms = cms_build(df, "k")
    est = {r.k: r.est_count for r in cms_estimate(cms, keys, "k").collect()}
    assert set(est) == set(truth)
    for k, t in truth.items():
        assert est[k] >= t, f"under-count at {k}"
        assert est[k] - t <= 2 * n / 1024 * 4, f"error too large at {k}"

    halves = [df.filter(F.col("id") % 2 == i) for i in (0, 1)]
    merged = cms_merge(*[cms_build(h, "k") for h in halves])
    est_m = {r.k: r.est_count for r in cms_estimate(merged, keys, "k").collect()}
    assert est_m == est

    tiny = spark.range(50).select(F.col("id").alias("k"))
    est_t = {
        r.k: r.est_count
        for r in cms_estimate(cms_build(tiny, "k"), tiny.distinct(), "k").collect()
    }
    assert all(v == 1 for v in est_t.values())


def test_pca_projection_properties(emb):
    """The per-component variance of the projections must equal the top
    eigenvalues of the covariance (descending), cross-component
    covariance must vanish (orthogonal directions), and the explained
    variance ratios must be sorted descending in (0, 1]."""
    import numpy as np

    from gcp_cloudsql_airflow_bigquery_spark.operators.linalg import (
        pca_project,
    )

    out = pca_project(emb, k=4).collect()
    P = np.asarray([r.components for r in out])
    evr = out[0].explained_variance_ratio
    assert all(a >= b for a, b in zip(evr, evr[1:])) and 0 < evr[0] <= 1
    C = np.cov(P, rowvar=False)
    var = np.diag(C)
    assert all(a >= b - 1e-9 for a, b in zip(var, var[1:])), "variance not sorted"
    off = C - np.diag(var)
    assert np.abs(off).max() < 1e-6, "projected components not decorrelated"
    # projections are centered
    assert np.abs(P.mean(axis=0)).max() < 1e-5


def test_connected_components_long_path(spark):
    """A 200-node path graph (diameter 199) must still resolve to one
    component with the min label — this exercises the contraction
    fallback; pure propagation within the default round budget cannot
    cross this diameter."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        connected_components,
    )

    path = [(i, i + 1) for i in range(199)]
    # plus a node whose only edge is a self-loop: it labels itself
    df = spark.createDataFrame(path + [(500, 500)], "a long, b long")
    out = connected_components(df, "a", "b").collect()
    assert len(out) == 201
    labels = {r.node: r.label for r in out}
    assert {labels[i] for i in range(200)} == {0}
    assert labels[500] == 500


def test_connected_components_jobs_are_its_checkpoints(spark, monkeypatch):
    """Every job connected components submits while it is built is one
    of its eager checkpoints: the convergence sums and the fallback's
    edge-set signature ride those jobs.  AQE is off so that each
    checkpoint is exactly one job."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame([(i, i + 1) for i in range(199)], "a long, b long")
    calls = {"n": 0}
    real = type(df).localCheckpoint

    def counting(self, *a, **kw):
        calls["n"] += 1
        return real(self, *a, **kw)

    monkeypatch.setattr(type(df), "localCheckpoint", counting)
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc_build", "connected components construction")
    try:
        connected_components(df, "a", "b")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup("cc_build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert calls["n"] > 5  # reached the star-contraction fallback
    assert len(jobs) == calls["n"]


def test_hll_sketch_rollup_accuracy_and_merge(spark, sf_dir):
    """Distinct-user estimates from merged per-day sketches must agree
    with the direct per-type sketch exactly (same binary state space)
    and with the exact distinct count within HLL error (few % at
    lgk=12)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators.frequency import (
        distinct_sketch_build,
        distinct_sketch_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = distinct_sketch_build(ev, ["event_type", "day"], "user_id")
    merged = {
        r.event_type: r.approx_distinct
        for r in distinct_sketch_rollup(daily, ["event_type"]).collect()
    }
    direct = {
        r.event_type: r.approx_distinct
        for r in distinct_sketch_rollup(
            distinct_sketch_build(ev, ["event_type"], "user_id"),
            ["event_type"],
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(merged) == set(exact)
    for t, n in exact.items():
        assert abs(merged[t] - n) / n < 0.05, (t, merged[t], n)
        assert abs(direct[t] - n) / n < 0.05


def test_kll_quantile_rollup_accuracy(spark, sf_dir):
    """Merged per-day KLL sketches must reproduce exact per-type
    quantiles within the k=200 rank-error bound (~1.65/sqrt(200) of
    rank -> tight value agreement on this distribution)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = sketches.quantile_sketch_build(ev, ["event_type", "day"], "value")
    est = {
        r.event_type: (r.p50, r.p95)
        for r in sketches.quantile_sketch_rollup(daily, ["event_type"]).collect()
    }
    exact = {
        r.event_type: (r.e50, r.e95)
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("e50"),
            F.expr("percentile(value, 0.95)").alias("e95"),
        )
        .collect()
    }
    for t, (e50, e95) in exact.items():
        assert abs(est[t][0] - e50) / max(e50, 1e-9) < 0.1, (t, est[t], e50)
        assert abs(est[t][1] - e95) / max(e95, 1e-9) < 0.1

def test_theta_overlap_matches_exact_set_ops(spark, sf_dir):
    """Theta intersection/difference estimates must match exact set
    ops at fixture cardinality (sketches are exact below their
    sampling threshold)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    sk = sketches.theta_sketch_build(ev, "event_type", "user_id")
    got = {
        (r.a, r.b): (r.n_both, r.n_only_a)
        for r in sketches.audience_overlap_matrix(sk, "event_type").collect()
    }
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    users = {
        t: {r.user_id for r in ev.filter(F.col("event_type") == t)
            .select("user_id").distinct().collect()}
        for t in types
    }
    assert got, "overlap matrix empty"
    for (a, b), (both, only_a) in got.items():
        assert both == len(users[a] & users[b])
        assert only_a == len(users[a] - users[b])


def test_sketch_state_survives_storage_and_incremental_update(
    spark, sf_dir, tmp_path
):
    """The operational story behind the sketch operators: persist the
    per-day HLL state, 'ingest' one more day by appending only that
    day's sketch, and the rollup over stored state must equal the
    rollup over a full rebuild — no history rescan."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators.frequency import (
        distinct_sketch_build,
        distinct_sketch_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    last_day = ev.agg(F.max("day")).first()[0]
    hist, delta = ev.filter(F.col("day") < F.lit(last_day)), ev.filter(
        F.col("day") == F.lit(last_day)
    )
    store = str(tmp_path / "sketch_state")
    distinct_sketch_build(hist, ["event_type", "day"], "user_id").write.mode(
        "overwrite"
    ).parquet(store)
    distinct_sketch_build(delta, ["event_type", "day"], "user_id").write.mode(
        "append"
    ).parquet(store)
    stored = {
        r.event_type: r.approx_distinct
        for r in distinct_sketch_rollup(
            spark.read.parquet(store), ["event_type"]
        ).collect()
    }
    rebuilt = {
        r.event_type: r.approx_distinct
        for r in distinct_sketch_rollup(
            distinct_sketch_build(ev, ["event_type", "day"], "user_id"),
            ["event_type"],
        ).collect()
    }
    assert stored == rebuilt and stored


def test_logistic_fit_separable_and_monotone(spark):
    """Newton logistic fit must perfectly classify a linearly separable
    synthetic set and produce a decision boundary near the true one on
    a noisy set; scoring is a pure expression (no UDF in the plan)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.linalg import (
        logistic_fit,
        logistic_score,
    )

    # y = 1 iff f1 + f2 > 0, margin 0.2 — separable
    df = spark.range(4000).select(
        ((F.pmod(F.xxhash64("id"), F.lit(1000)) / 500.0) - 1.0).alias("f1"),
        ((F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 500.0) - 1.0).alias("f2"),
    ).withColumn(
        "y", (F.col("f1") + F.col("f2") > 0.2).cast("double")
    ).filter(F.abs(F.col("f1") + F.col("f2") - 0.2) > 0.2)
    beta = logistic_fit(df, ["f1", "f2"], "y", n_iter=12)
    scored = logistic_score(df, ["f1", "f2"], beta)
    acc = scored.select(
        F.avg(((F.col("score") > 0.5) == (F.col("y") == 1.0)).cast("double"))
    ).first()[0]
    assert acc == 1.0, f"separable accuracy {acc}"
    # direction of the separating normal (1, 1)/sqrt(2)
    import math

    n = math.hypot(beta[1], beta[2])
    assert beta[1] / n > 0.6 and beta[2] / n > 0.6
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hashed_tfidf_vectors_shape_and_weighting(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators.textstats import (
        hashed_tfidf_vectors,
    )

    docs = spark.createDataFrame(
        [(1, "aaa bbb aaa"), (2, "aaa ccc"), (3, "")],
        ["doc_id", "text"],
    )
    vecs = {r.doc_id: list(r.vec) for r in hashed_tfidf_vectors(docs, dim=16).collect()}
    assert set(vecs) == {1, 2}  # empty doc drops out
    assert all(len(v) == 16 for v in vecs.values())
    # 'aaa' appears in both docs -> idf ln(3/2); doc 1 has tf 2
    import math

    nz1 = sorted(x for x in vecs[1] if x != 0.0)
    assert any(abs(x - 2 * math.log(3 / 2)) < 1e-9 for x in nz1)


def test_topic_clusters_separate_disjoint_vocabularies(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity
    from gcp_cloudsql_airflow_bigquery_spark.operators.textstats import (
        hashed_tfidf_vectors,
    )

    rows = [(i, "alpha beta gamma delta " * 3) for i in range(20)] + [
        (100 + i, "omega sigma tau upsilon " * 3) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    vecs = hashed_tfidf_vectors(docs, dim=32)
    cents = similarity.ivf_build(vecs, n_centroids=2, iters=3, id_col="doc_id", vec_col="vec")
    assigned = {
        r.doc_id: r.c
        for r in vecs.select(
            "doc_id",
            similarity.ivf_assign(
                similarity._normalize(similarity._as_double("vec")), cents
            ).alias("c"),
        ).collect()
    }
    a = {assigned[i] for i in range(20)}
    b = {assigned[100 + i] for i in range(20)}
    assert len(a) == 1 and len(b) == 1 and a != b


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402


def _py_bigram_logprob(texts, alpha=0.1):
    """Pure-Python reference for bigram_logprob (same conventions:
    lower+trim, \\s+ split, prefix-count conditionals, V = distinct
    successors)."""
    import math
    from collections import Counter

    docs = {}
    for i, t in enumerate(texts):
        w = t.strip().lower()
        toks = [x for x in __import__("re").split(r"\s+", w)] if w else []
        docs[i] = toks
    bigrams = {
        i: list(zip(t, t[1:])) for i, t in docs.items() if len(t) >= 2
    }
    c2 = Counter(p for bs in bigrams.values() for p in bs)
    c1 = Counter()
    for (w1, _), c in c2.items():
        c1[w1] += c
    v = len({w2 for (_, w2) in c2})
    out = {}
    for i, bs in bigrams.items():
        if not bs:
            continue
        nll = [
            -math.log((c2[p] + alpha) / (c1[p[0]] + alpha * v)) for p in bs
        ]
        m = sum(nll) / len(nll)
        out[i] = (len(bs), round(m, 6), round(math.exp(m), 6))
    return out


@given(
    hst.lists(
        hst.lists(
            hst.sampled_from(["a", "b", "cc", "ddd", "e"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None)
def test_bigram_logprob_matches_python_reference(spark, word_lists):
    from gcp_cloudsql_airflow_bigquery_spark.operators import textstats

    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logprob, r.ppl)
        for r in textstats.bigram_logprob(df).collect()
    }
    assert got == _py_bigram_logprob(texts)


def test_resize_ppm_nearest_exact_pixels():
    """4x2 gradient -> 2x1: nearest-neighbor must pick the exact
    index-sampled pixels (ys = y*h//oh, xs = x*w//ow), and the output
    must re-parse with the new dims."""
    import numpy as np

    a = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    b = multimodal.encode_ppm(4, 2, a.tobytes())
    out = multimodal.resize_ppm_nearest(b, 2, 1)
    w, h, rgb = multimodal.decode_ppm(out)
    assert (w, h) == (2, 1)
    got = np.frombuffer(rgb, dtype=np.uint8).reshape(1, 2, 3)
    assert (got == a[[0]][:, [0, 2]]).all()
    # upscale round-trips too (2x1 -> 4x4 repeats pixels)
    up_w, up_h, up = multimodal.decode_ppm(
        multimodal.resize_ppm_nearest(out, 4, 4)
    )
    assert (up_w, up_h) == (4, 4)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.resize_ppm_nearest(b"JFIF...", 2, 2)
    with _pytest.raises(ValueError):
        multimodal.resize_ppm_nearest(b, 0, 2)


def test_resize_media_distributed(spark):
    """resize_media: every image blob comes back as a valid PPM with
    the requested dims; non-image rows are dropped."""
    df = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    media = multimodal.attach_codec_media(df)
    out = multimodal.resize_media(media, out_w=5, out_h=3).collect()
    n_images = sum(1 for r in media.collect() if r.kind == "image")
    assert len(out) == n_images > 0
    for r in out:
        w, h, rgb = multimodal.decode_ppm(bytes(r.content))
        assert (w, h) == (5, 3) == (r.width, r.height)
        assert len(rgb) == 5 * 3 * 3


def test_source_token_drift_planted_shift(spark):
    """source_token_drift: a source sampling the corpus distribution
    scores near-zero JS divergence; a skewed source scores strictly
    higher; JS is symmetric-bounded in [0, ln 2]; coverage is 1.0 when
    every token is in-vocab."""
    import math

    rows = []
    # "typical" source: same unigram mix as the bulk corpus
    for i in range(200):
        rows.append((i, "the cat sat on the mat", "typical"))
    # "shifted" source: disjoint heavy vocabulary
    for i in range(200, 260):
        rows.append((i, "zzz qqq zzz qqq zzz", "shifted"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r.source: r
        for r in textstats.source_token_drift(docs, vocab_size=50).collect()
    }
    assert set(got) == {"typical", "shifted"}
    for r in got.values():
        assert 0.0 <= r.js_divergence <= math.log(2) + 1e-9
        assert r.vocab_coverage == 1.0  # tiny vocab, fully in top-50
    # the corpus reference mixes BOTH sources, so even the typical
    # source diverges a little (the shifted tokens dilute q); the
    # signal is the gap, not an absolute zero
    assert got["shifted"].js_divergence > 3 * got["typical"].js_divergence
    assert got["typical"].js_divergence < 0.15
    assert got["typical"].n_tokens == 200 * 6
    assert got["shifted"].n_tokens == 60 * 5


def test_leakage_safe_splits_neardups_never_straddle(spark):
    """doc_leakage_safe_splits semantics on a planted corpus: docs 4
    and 5 are near-identical; hashed INDIVIDUALLY their md5 digits land
    in train and test respectively (the leak), but the cluster-keyed
    split puts both where the min-id representative (4 -> train)
    lands.  The distinct doc 3 keeps its own bucket (test)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.curation import (
        assign_splits,
    )
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        connected_components,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = spark.createDataFrame(
        [
            (3, "completely different content about spark shuffles and joins"),
            (4, base),
            (5, base + " tail"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_near_dups(docs, threshold=0.5, num_hashes=32, bands=16)
    labels = connected_components(pairs, "id_a", "id_b")
    assigned = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
    )
    got = {
        r.doc_id: (r.cluster_id, r.split)
        for r in assign_splits(assigned, id_col="cluster_id").collect()
    }
    assert got[4] == (4, "train")
    assert got[5] == (4, "train")  # would be "test" if hashed on doc_id
    assert got[3] == (3, "test")


def test_audio_pcm_stats_matches_python_replay(spark):
    """audio_pcm_stats through the real RIFF decode path equals a
    direct python computation on the same samples (the WAV twin of the
    aHash known-pattern test)."""
    import math

    from gcp_cloudsql_airflow_bigquery_spark.operators import multimodal

    ids = spark.range(12).selectExpr("id AS doc_id")
    media = multimodal.attach_codec_media(ids)
    got = {
        r.media_id: r
        for r in multimodal.audio_pcm_stats(media).collect()
    }
    audio_ids = [i for i in range(12) if i % 3 == 1]
    assert sorted(got) == audio_ids
    for mid in audio_ids:
        xs = [((mid * 2654435761 + i * 40503) % 65536) - 32768 for i in range(64)]
        r = got[mid]
        assert r.rate == 16000 and r.n_samples == 64
        assert r.sum_samples == sum(xs)
        assert r.sum_sq == sum(x * x for x in xs)
        assert r.peak == max(abs(x) for x in xs)
        assert r.zero_crossings == sum(
            1 for i in range(1, 64) if (xs[i - 1] < 0) != (xs[i] < 0)
        )
        assert (r.smin, r.smax) == (min(xs), max(xs))
        assert r.rms == math.sqrt(sum(x * x for x in xs) / 64)
