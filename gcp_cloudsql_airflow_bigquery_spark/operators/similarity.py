"""Similarity search over an embedding column (SURVEY.md §2b
"similarity search"): brute-force cosine top-k as the exact baseline,
random-hyperplane LSH bucketing as the scale path.

Scale design: brute force is O(Q·N·d) — fine when the query set is
small and broadcastable (the common "find neighbors for this batch"
shape); the fact side streams, never shuffles.  For all-pairs or large
Q, LSH buckets cut the candidate space; recall is tunable via
tables × hyperplanes, verified against the exact baseline in tests.

One search core: every top-k operator is candidate generation (a
broadcast cross join, shared LSH buckets, probed IVF cells, PQ codes)
followed by the same scoring and ranking step — :func:`_rank_neighbors`
for cosine, :func:`_adc_top_k` for PQ distances — and both semantic-dedup
operators run :func:`_dedup_cells`.  The persisted-index variants differ
from their in-memory twins only in where the corpus frame comes from.

Dot products use ``F.zip_with`` + ``F.aggregate`` — JVM array
expressions, no Python.  (A Pandas-UDF/numpy variant is a drop-in if a
deployment prefers BLAS throughput over codegen; at 64 dims the
expression form wins by avoiding Arrow transfer.)
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def lit_vec(values) -> Column:
    """One ``ArrayType(Double)`` literal from a Python float sequence —
    a SINGLE py4j call producing a SINGLE Catalyst ``Literal`` node,
    replacing ``F.array(*[F.lit(x) for x in values])`` which pays one
    py4j round-trip and one tree node per element (measured 50 ms vs
    14 ms per 64-wide array at construction, and ~65x fewer nodes for
    every optimizer-rule traversal/copy afterwards).  Values are the
    same binary64 doubles, so every fold/HOF over the array computes
    bit-identically; only plan SIZE changes (r10, guide §7.3 "very
    large plans spend minutes in planning")."""
    return F.lit(np.asarray(values, dtype="float64"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _score(
    a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None
) -> Column:
    """The oracle-pinned score: cosine rounded to 6 places.  Given bound
    per-SIDE norm columns it is the same ``dot/(na*nb)`` expression as
    :func:`cosine` on identical values, with each norm computed once per
    ROW instead of once per candidate PAIR (guide §2.3: don't recompute
    in the hot operator).  The norms stay the compact HOF fold — the r10
    wave-2 measurement showed unrolled fixed-width kernels lose to
    plan-size costs at every tested scale, so only the REUSE changes,
    never the expression form."""
    norm_a = norm(a) if norm_a is None else norm_a
    norm_b = norm(b) if norm_b is None else norm_b
    return F.round(dot(a, b) / (norm_a * norm_b), 6)


def _as_double(col: str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, id_as: str = "id", vec_as: str = "vec"
) -> DataFrame:
    """(id, vec) with the vector cast to ``array<double>``."""
    return df.select(F.col(id_col).alias(id_as), _as_double(vec_col).alias(vec_as))


def _top_k(scored: DataFrame, k: int, order: list, out: list) -> DataFrame:
    """Each query's first ``k`` rows in ``order``, numbered as ``rank``."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out, "rank")
    )


def _rank_neighbors(pairs: DataFrame, k: int, score: Column | None = None) -> DataFrame:
    """The search tail shared by every cosine top-k operator: drop
    self-matches, score each (query, neighbor) candidate and keep the
    ``k`` best per query, ties broken on the smaller neighbor id.
    ``pairs`` carries ``query_id``/``vec_q``/``_qn`` and
    ``neighbor_id``/``vec_n``/``_nn``; pass ``score`` when it is built
    from other columns."""
    if score is None:
        score = _score(F.col("vec_q"), F.col("vec_n"), F.col("_qn"), F.col("_nn"))
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cosine", score
    )
    return _top_k(
        scored,
        k,
        [F.col("cosine").desc(), F.col("neighbor_id")],
        ["query_id", "neighbor_id", "cosine"],
    )


def _side(vn: DataFrame, s: str, *keep: str) -> DataFrame:
    """One side of a pair join over (id, vec, _n): columns suffixed ``s``."""
    return vn.select(
        *keep,
        F.col("id").alias(f"id_{s}"),
        F.col("vec").alias(f"vec_{s}"),
        F.col("_n").alias(f"_n{s}"),
    )


def _close_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """Candidate (a, b) pairs scored by cosine, kept at ``>= threshold``."""
    return pairs.withColumn(
        "cosine", _score(F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb"))
    ).filter(F.col("cosine") >= threshold)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus,
    rank per query.  Excludes self-matches."""
    corpus = _vectors(embeddings, id_col, vec_col, "neighbor_id", "vec_n")
    qs = _vectors(queries, id_col, vec_col, "query_id", "vec_q")
    return _rank_neighbors(
        corpus.withColumn("_nn", norm(F.col("vec_n"))).join(
            F.broadcast(qs.withColumn("_qn", norm(F.col("vec_q"))))
        ),
        k,
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subset_filter: Column | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup detection).
    Exact and quadratic — the TEST ORACLE for
    :func:`lsh_neardup_pairs`, which is the declared/scale path;
    restrict with ``subset_filter`` if running it directly."""
    base = embeddings if subset_filter is None else embeddings.filter(subset_filter)
    v = _vectors(base, id_col, vec_col).withColumn("_n", norm(F.col("vec")))
    a, b = _side(v, "a"), _side(v, "b")
    return _close_pairs(a.join(b, F.col("id_a") < F.col("id_b")), threshold).select(
        "id_a", "id_b", "cosine"
    )


def _lsh_buckets(
    v: DataFrame, keep: list[str], vec: str, dim: int, num_planes: int, num_tables: int
) -> DataFrame:
    """``keep`` plus one (table, bucket) row per hash table: the sign
    pattern of ``vec`` against that table's seeded hyperplanes."""
    tables = [
        [_hyperplane(dim, t * 1000 + i) for i in range(num_planes)]
        for t in range(num_tables)
    ]
    tb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_bucket(F.col(vec), planes).alias("bucket"),
                )
                for t, planes in enumerate(tables)
            ]
        )
    ).alias("tb")
    return v.select(*keep, tb).select(*keep, "tb.table", "tb.bucket")


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    subset_filter: Column | None = None,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane LSH
    candidate generation + exact-cosine verification.

    Candidates = pairs sharing a bucket in any of ``num_tables``
    hash tables (``num_planes`` sign bits each); only candidates pay
    the cosine, so the corpus-wide shape is a uniform (table, bucket)
    self-join instead of the O(n²) cross join of
    :func:`cosine_neardup_pairs` — which remains the exact oracle this
    operator is recall-tested against (tests/test_similarity.py).

    Recall per table is ``p^planes`` with ``p = 1 - arccos(cos θ)/π``;
    for true near-dups (cosine ≥ 0.95, p ≈ 0.9) the defaults give
    per-table ≈ 0.66 and overall ≈ 1 - (1-0.66)^16 ≈ 1-3e-8; exact
    copies (cosine 1) share every sign bit, so they collide in every
    table — recall 1 by construction.  Loose thresholds (≲0.7) are not
    angular-LSH territory: p per plane decays toward 1/2 (the random
    baseline), so no table count separates candidates from noise —
    use :func:`cosine_neardup_pairs` on a bounded subset instead.
    Verification is exact, so precision is always 1.0.

    Shuffle profile: bucket explode is rows × tables; the self-join
    key (table, bucket) is hash-uniform; the two id joins that fetch
    vectors for verification touch candidates only."""
    base = embeddings if subset_filter is None else embeddings.filter(subset_filter)
    v = _vectors(base, id_col, vec_col)
    bucketed = _lsh_buckets(v, ["id"], "vec", dim, num_planes, num_tables)
    cand = (
        bucketed.alias("a")
        .join(bucketed.alias("b"), ["table", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vn = v.withColumn("_n", norm(F.col("vec")))
    pairs = cand.join(_side(vn, "a"), "id_a").join(_side(vn, "b"), "id_b")
    return _close_pairs(pairs, threshold).select("id_a", "id_b", "cosine")


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a seed
    (splitmix64-style integer scrambling — stable across runs/JVMs)."""
    out = []
    x = (seed * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) & (2**64 - 1)
    for _ in range(dim):
        x = (x + 0x9E3779B97F4A7C15) & (2**64 - 1)
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
        z = z ^ (z >> 31)
        out.append((z / 2**63) - 1.0)  # [-1, 1)
    return out


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign pattern of the vector against ``len(planes)`` hyperplanes,
    packed into a long — the random-hyperplane (cosine) LSH key."""
    key = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = dot(vec, lit_vec(p))
        key = key + F.when(proj >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
    return key


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 8,
) -> DataFrame:
    """ANN top-k: candidates = corpus vectors sharing any LSH bucket
    with the query in any of ``num_tables`` tables; exact cosine rerank
    on candidates only.  Shuffle key is (table, bucket) — 2^planes
    buckets per table, uniform for centered data.

    Tuning: recall per table is ``p^planes`` with ``p = 1 - θ/π``;
    measured on the near-random fixture embeddings (top-10 cosine ≈ 0.3)
    4 planes × 8 tables ≈ 0.66 recall, × 12 ≈ 0.84.  Real embedding
    corpora (near-dup cosine ≥ 0.9, p ≥ 0.85) reach the same recall
    with more planes and far smaller candidate sets; raise ``num_planes``
    there to cut rerank cost."""

    def bucketed(df: DataFrame, side: str) -> DataFrame:
        v = _vectors(df, id_col, vec_col, f"{side}_id", f"vec_{side}")
        keep = [f"{side}_id", f"vec_{side}"]
        return _lsh_buckets(v, keep, f"vec_{side}", dim, num_planes, num_tables)

    cands = (
        bucketed(embeddings, "n")
        .join(F.broadcast(bucketed(queries, "q")), ["table", "bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("n_id").alias("neighbor_id"),
            "vec_q",
            "vec_n",
        )
        .distinct()
    )
    return _rank_neighbors(cands, k, _score(F.col("vec_q"), F.col("vec_n")))


def _normalize(vec: Column) -> Column:
    # let-bind (vec, norm) in a single-element transform: a lambda that
    # captured `norm(vec)` directly would re-reduce the whole vector
    # once per element (O(d²) — HOF lambdas re-evaluate captures)
    bound = F.struct(vec.alias("v"), norm(vec).alias("n"))
    return F.element_at(
        F.transform(
            F.array(bound),
            lambda s: F.transform(s["v"], lambda x: x / s["n"]),
        ),
        1,
    )


def ivf_build(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic IVF codebook: spherical k-means-lite. Init =
    normalized vectors of the ``n_centroids`` smallest ids (stable across
    runs); each Lloyd round assigns by max dot against the (broadcast
    literal) centroids and re-averages via ``posexplode`` + one
    aggregation — all distributed; only the k×d codebook itself ever
    reaches the driver (it IS the model, and is what gets broadcast
    back out, exactly like any trained-model artifact).

    Measured non-optimization (r7): eagerly localCheckpoint-ing the
    normalized frame before the loop — the Spark-ML-KMeans "cache the
    training input" shape — was tried and REVERTED: two full bench
    runs showed the whole IVF family 20-55% SLOWER at sf0.1 (the
    64-dim parquet re-scan + normalize is cheaper than the checkpoint
    materialization + small-partition reread).  On a real cluster
    with an expensive corpus scan, persist the INPUT upstream (or use
    ``materialize_ivf_index``) rather than checkpointing here."""
    v = embeddings.select(F.col(id_col).alias("id"), _normalize(_as_double(vec_col)).alias("vec"))
    init = v.orderBy("id").limit(n_centroids).collect()
    centroids = [list(r.vec) for r in init]
    for _ in range(iters):
        assigned = v.withColumn("cluster", ivf_assign(F.col("vec"), centroids))
        sums = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        new = []
        for c in range(n_centroids):
            if c in by_cluster:
                raw = [by_cluster[c][p] for p in sorted(by_cluster[c])]
                l2 = sum(x * x for x in raw) ** 0.5 or 1.0
                new.append([x / l2 for x in raw])
            else:  # empty cell keeps its old centroid
                new.append(centroids[c])
        centroids = new
    return centroids


def _centroid_dots(vec: Column, centroids: list[list[float]]) -> Column:
    return F.array(*[dot(vec, lit_vec(c)) for c in centroids])


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the max-dot centroid (vectors must be normalized)."""
    dots = _centroid_dots(vec, centroids)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _with_cells(
    v: DataFrame, centroids: list[list[float]], vec: str = "vec", cell: str = "cluster"
) -> DataFrame:
    """``v`` plus each row's IVF cell: the max-dot centroid of the
    normalized ``vec``."""
    return v.withColumn(cell, ivf_assign(_normalize(F.col(vec)), centroids))


def _probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    id_col: str,
    vec_col: str,
    cell: str = "cluster",
) -> DataFrame:
    """The IVF probe list: each query's ``nprobe`` highest-dot cells,
    ties broken on the smaller cell id, as ``(query_id, vec_q, cell,
    _qn)`` rows (a caller that needs only the cells lets column pruning
    drop the vector)."""
    qs = _vectors(queries, id_col, vec_col, "query_id", "vec_q")
    cdots = _centroid_dots(_normalize(F.col("vec_q")), centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("cdot").desc(), F.col(cell))
    probes = (
        qs.select("query_id", "vec_q", F.posexplode(cdots).alias(cell, "cdot"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "vec_q", cell)
    )
    return probes.withColumn("_qn", norm(F.col("vec_q")))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus partitioned by nearest centroid; each query
    searches only its ``nprobe`` nearest cells, exact cosine rerank on
    the candidates. At 100 TB the inverted file is written
    ``partitionBy(cluster)`` so a probe is a partition-pruned scan —
    search cost drops by ~``n_centroids/nprobe``× versus brute force.
    Same output schema as :func:`brute_force_topk`; recall vs the exact
    baseline is asserted in tests — measured on the fixture (64-dim,
    16 cells): 0.82 @ nprobe=2, 0.86 @ 4, 0.93 @ 6."""
    centroids = ivf_build(embeddings, n_centroids, iters, id_col, vec_col)
    corpus = _vectors(embeddings, id_col, vec_col, "neighbor_id", "vec_n")
    corpus = _with_cells(corpus, centroids, "vec_n").withColumn(
        "_nn", norm(F.col("vec_n"))
    )
    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    # no broadcast hint (r10 de-hinting policy, same class as the
    # k_core alive-set fix): ``queries`` may be the FULL corpus
    # (``embedding_knn_graph`` passes emb×emb), so the probe frame
    # is SF-scaling there and a forced broadcast would bypass
    # autoBroadcastJoinThreshold at any size.  Catalyst/AQE pick
    # the strategy: bounded probe batches still auto-broadcast
    # (under the threshold at every SF), corpus-sized probe sides
    # shuffle on the cluster key.  That key is uniform but has
    # only n_centroids distinct values (default 16), which caps a
    # shuffle join's effective parallelism at n_centroids tasks
    # regardless of shuffle.partitions — consistent with the
    # 100 TB guidance below (partitionBy(cluster) layout): raise
    # n_centroids with SF so the shuffle-join path parallelizes.
    return _rank_neighbors(corpus.join(probes, "cluster"), k)


def _dedup_cells(v: DataFrame, threshold: float) -> DataFrame:
    """The SemDeDup step over (id, vec, cluster) rows: a within-cell
    self-join drops every vector with a same-cell neighbor at cosine
    >= ``threshold`` and a smaller id; returns ``(id, cluster, keep)``."""
    vn = v.withColumn("_n", norm(F.col("vec")))
    pairs = _side(vn, "a", "cluster").join(_side(vn, "b", "cluster"), "cluster")
    dropped = (
        _close_pairs(pairs.filter(F.col("id_a") < F.col("id_b")), threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return v.join(dropped.withColumn("dropped", F.lit(True)), "id", "left").select(
        "id",
        "cluster",
        F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embeddings (deterministic spherical codebook, :func:`ivf_build`),
    then compare pairs ONLY within a cluster and drop every vector
    that has a same-cluster neighbor at cosine ≥ ``threshold`` with a
    smaller id (greedy smallest-id canonical — deterministic).

    Returns ``(id, cluster, keep)`` for every input vector.

    Scale shape: the cluster assignment is a narrow map against the
    broadcast k×d codebook, and the pair space collapses from O(n²)
    to Σ|cluster|² — at 100 TB you raise ``n_centroids`` so the
    expected cell size stays bounded (SemDeDup runs ~√n cells; the
    inverted file written ``partitionBy(cluster)`` makes the
    within-cell self-join a partition-local sort-merge with no global
    shuffle).  Exact cosine inside the cell means precision 1.0
    against the within-cluster criterion; cross-cluster near-dups are
    the documented recall loss of the method (bounded by k-means
    separation), which is the accepted trade for never paying an
    all-pairs join."""
    centroids = ivf_build(embeddings, n_centroids, iters, id_col, vec_col)
    v = _with_cells(_vectors(embeddings, id_col, vec_col), centroids)
    return _dedup_cells(v, threshold)


def quantize_int8(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization:
    ``struct(q: array<int>, scale: double)`` with
    ``q_i = round(x_i * 127 / max|x|)`` and ``scale = max|x| / 127``
    (so ``x_i ≈ q_i * scale``).  All-zero vectors quantize to zeros
    with scale 0.

    The 100 TB lever for the similarity stack: a stored corpus shrinks
    4× vs float32 (16× vs float64) and int dot products scan
    correspondingly faster; recall loss is bounded by the per-dim step
    ``scale/2``.  Implemented as a single-element ``transform``
    let-binding so ``max|x|`` is computed once per vector — a naive
    lambda capture would re-derive the array max per element (O(d²))."""
    v = F.transform(vec, lambda x: x.cast("double"))
    bound = F.struct(
        v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("m"),
    )
    return F.element_at(
        F.transform(
            F.array(bound),
            lambda s: F.struct(
                F.when(
                    s["m"] == 0.0,
                    F.transform(s["v"], lambda x: F.lit(0)),
                )
                .otherwise(
                    F.transform(
                        s["v"],
                        lambda x: F.round(x * 127.0 / s["m"]).cast("int"),
                    )
                )
                .alias("q"),
                (s["m"] / 127.0).alias("scale"),
            ),
        ),
        1,
    )


def dequantize(q: Column, scale: Column) -> Column:
    """Inverse of :func:`quantize_int8`: ``x_i ≈ q_i * scale``."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def brute_force_topk_int8(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over the int8-quantized corpus — the storage/scan
    path at 100 TB: the corpus is stored as ``(q: array<int>, scale)``
    (4× smaller than float32), queries stay full-precision, and the
    score is cosine between the dequantized corpus vector and the
    query.  Per-vector symmetric quantization preserves direction up to
    the scale/2 per-dim step, so ranking degrades only where true
    scores are nearly tied; recall vs the exact scan is asserted in
    tests.

    Same join shape as :func:`brute_force_topk`: corpus streams
    partition-local, query set broadcasts, one small top-k shuffle."""
    qz = quantize_int8(F.col(vec_col))
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        qz.getField("q").alias("qv"),
        qz.getField("scale").alias("qs"),
    )
    qs = _vectors(queries, id_col, vec_col, "query_id", "vec_q")
    score = _score(F.col("vec_q"), dequantize(F.col("qv"), F.col("qs")))
    return _rank_neighbors(corpus.join(F.broadcast(qs)), k, score)


def materialize_ivf_index(
    embeddings: DataFrame,
    table: str = "ivf_index",
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Build the IVF inverted file ONCE and persist it partitioned by
    cell — the production shape for recurring ANN queries at 100 TB
    (the vector-index analogue of ``dedup.materialize_shingle_index``).

    Two artifacts land in the session catalog:

    - ``{table}``: (id, vec, cluster) written ``partitionBy(cluster)``
      so a probe reads ONLY its nprobe cells — the scan is
      partition-pruned, cutting I/O by ~``n_centroids/nprobe``× before
      a single row is deserialized.
    - ``{table}_codebook``: the k×d centroid rows (the model; kilobytes).

    Returns the codebook so the caller can probe immediately without
    re-reading it."""
    from ..pipeline import drop_managed_table

    spark = embeddings.sparkSession
    centroids = ivf_build(embeddings, n_centroids, iters, id_col, vec_col)
    assigned = _with_cells(_vectors(embeddings, id_col, vec_col), centroids)
    for t in (table, f"{table}_codebook"):
        drop_managed_table(spark, t)
    assigned.write.mode("overwrite").partitionBy("cluster").saveAsTable(table)
    cb = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    )
    cb.write.mode("overwrite").saveAsTable(f"{table}_codebook")
    return centroids


def ivf_topk_from_index(
    queries: DataFrame,
    table: str = "ivf_index",
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF index (see
    :func:`materialize_ivf_index`) — no corpus pass, no codebook
    retraining.  Same probe and ranking as :func:`ivf_topk`, which
    also leaves the join strategy to Catalyst (no broadcast hint).

    The probe list (query × nprobe cells) is model-sized, so the cell
    ids are collected and pushed into the scan as a static ``IN``
    partition filter — Catalyst prunes the untouched cells at planning
    time (asserted in tests), which is the entire economics of IVF:
    the index build pre-pays the clustering shuffle once, every query
    batch after that reads ~nprobe/n_centroids of the data."""
    spark = queries.sparkSession
    cb_rows = spark.table(f"{table}_codebook").collect()  # k×d model
    centroids = [list(r.centroid) for r in sorted(cb_rows, key=lambda r: r.cluster)]
    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    cells = sorted({r.cluster for r in probes.select("cluster").distinct().collect()})
    corpus = (
        spark.table(table)
        .filter(F.col("cluster").isin(cells))  # static partition pruning
        .select("cluster", F.col("id").alias("neighbor_id"), F.col("vec").alias("vec_n"))
        .withColumn("_nn", norm(F.col("vec_n")))
    )
    return _rank_neighbors(corpus.join(probes, "cluster"), k)


def semantic_dedup_from_index(
    spark, table: str = "ivf_index", threshold: float = 0.95
) -> DataFrame:
    """SemDeDup over a PERSISTED IVF inverted file (see
    :func:`materialize_ivf_index`) — the recurring-dedup production
    shape at 100 TB: the k-means clustering shuffle was pre-paid by the
    index build, so each dedup pass is ONE read of the
    ``partitionBy(cluster)`` table and a partition-local within-cell
    self-join (cluster is the leading partition column, so the join
    co-locates without a global shuffle).  Same criterion and output as
    :func:`semantic_dedup`: drop every vector with a same-cell neighbor
    at cosine >= ``threshold`` and a smaller id; returns
    ``(id, cluster, keep)`` for every indexed vector."""
    return _dedup_cells(spark.table(table).select("cluster", "id", "vec"), threshold)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two equal-length arrays,
    folded positionally left-to-right (the same order DuckDB's
    ``list_sum(list_transform(...))`` replay uses, so argmin
    comparisons see identically-ordered sums)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_dists(sv: Column, sub: Column, codebooks: list[list[list[float]]]) -> Column:
    """Squared L2 from subvector ``sv`` to every centroid of subspace
    ``sub``, in centroid order (the codebooks ride as one literal)."""
    lit = F.array(*[F.array(*[lit_vec(c) for c in cb]) for cb in codebooks])
    return F.transform(F.element_at(lit, sub + 1), lambda c: _l2sq(sv, c))


def pq_subvectors(
    embeddings: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, sv) rows: each vector split into ``m`` contiguous
    subvectors — a narrow explode (rows × m), no shuffle."""
    return _vectors(embeddings, id_col, vec_col).select(
        "id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, {m} - 1),"
                " s -> slice(vec, s * (size(vec) div {m}) + 1,"
                " size(vec) div {m}))".format(m=m)
            )
        ).alias("sub", "sv"),
    )


def pq_build(
    embeddings: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the vector is cut
    into ``m`` contiguous subvectors and each subspace gets its own
    ``ks``-centroid L2 k-means (init = the ``ks`` smallest ids'
    subvectors, ``iters`` Lloyd rounds, plain Euclidean — PQ quantizes
    raw subvectors, so unlike :func:`ivf_build` there is NO
    normalization).  All ``m`` subspaces train in the SAME distributed
    pass per round: one exploded (id, sub, sv) frame, one argmin
    against the broadcast codebook literal, one (sub, cluster, pos)
    re-average — only the m×ks×(d/m) codebook (= d·ks doubles total,
    the model artifact) ever reaches the driver."""
    init = _vectors(embeddings, id_col, vec_col).orderBy("id").limit(ks).collect()
    dim = len(init[0].vec)
    sub_dim = dim // m
    codebooks = [
        [list(r.vec[s * sub_dim : (s + 1) * sub_dim]) for r in init]
        for s in range(m)
    ]
    subs = pq_subvectors(embeddings, m, id_col, vec_col)
    for _ in range(iters):
        assigned = subs.withColumn(
            "cluster", pq_assign(F.col("sv"), F.col("sub"), codebooks)
        )
        sums = (
            assigned.select("sub", "cluster", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "cluster", "pos")
            .agg(F.avg("x").alias("mean_x"))
            .collect()
        )
        by: dict[tuple[int, int], dict[int, float]] = {}
        for r in sums:
            by.setdefault((r.sub, r.cluster), {})[r.pos] = r.mean_x
        codebooks = [
            [
                [by[(s, c)][p] for p in sorted(by[(s, c)])]
                if (s, c) in by
                else codebooks[s][c]  # empty cell keeps its old centroid
                for c in range(ks)
            ]
            for s in range(m)
        ]
    return codebooks


def pq_assign(
    sv: Column, sub: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Index of the min-L2 centroid of subspace ``sub`` (first-min
    tie-break, matching the oracle's ``ORDER BY d2, cluster``)."""
    dists = _pq_dists(sv, sub, codebooks)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ code + reconstruction error: ``pq_code`` packs
    each subspace's centroid index into 4-bit fields (ks <= 16 ⇒ a
    64-dim/8-sub code is one BIGINT — a 64x storage cut vs the raw
    float32 vector, the asymmetric-distance-search memory layout),
    ``recon_err`` is the L2 distance between the vector and its
    decoded approximation.  One narrow explode + one groupBy(id): a
    single shuffle sized by rows×m tiny rows, codebooks ride along as
    a broadcast literal."""
    if len(codebooks[0]) > 16:
        raise ValueError("pq_encode packs 4-bit fields; ks must be <= 16")
    subs = pq_subvectors(embeddings, len(codebooks), id_col, vec_col)
    dists = _pq_dists(F.col("sv"), F.col("sub"), codebooks)
    assigned = subs.select(
        "id",
        "sub",
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min(dists).alias("d2"),
    )
    return (
        assigned.groupBy("id")
        .agg(
            F.sum(
                F.expr("shiftleft(cast(cluster AS BIGINT), 4 * sub)")
            ).alias("pq_code"),
            F.round(F.sqrt(F.sum("d2")), 6).alias("recon_err"),
        )
        .select(F.col("id").alias(id_col), "pq_code", "recon_err")
    )


def _pq_codes(
    embeddings: DataFrame, codebooks: list[list[list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """(cand_id, pq_code) for every corpus vector."""
    return pq_encode(embeddings, codebooks, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), "pq_code"
    )


def _pq_decode(codes: DataFrame, m: int, *keep: str) -> DataFrame:
    """``keep`` plus one row per subspace ``sub`` with its 4-bit centroid
    index as ``cluster``."""
    return codes.select(
        *keep,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "pq_code",
    ).withColumn("cluster", F.expr("CAST(shiftright(pq_code, 4 * sub) & 15 AS INT)"))


def _pq_tables(
    queries: DataFrame, codebooks: list[list[list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """Per-query ADC distance tables: (query_id, sub, cluster, d2) — the
    squared L2 from each query subvector to each subspace centroid."""
    qsubs = pq_subvectors(queries, len(codebooks), id_col, vec_col)
    dists = _pq_dists(F.col("sv"), F.col("sub"), codebooks)
    return qsubs.select(
        F.col("id").alias("query_id"),
        "sub",
        F.posexplode(dists).alias("cluster", "d2"),
    )


def _adc_top_k(looked_up: DataFrame, k: int) -> DataFrame:
    """Sum each (query, candidate)'s m table lookups into ``adc_dist``
    and keep the ``k`` nearest per query, ties broken on the smaller id."""
    scored = looked_up.groupBy("query_id", "cand_id").agg(
        F.round(F.sqrt(F.sum("d2")), 6).alias("adc_dist")
    )
    return _top_k(
        scored,
        k,
        ["adc_dist", "cand_id"],
        ["query_id", F.col("cand_id").alias("neighbor_id"), "adc_dist"],
    )


def mmr_rerank(
    candidates: DataFrame, k: int = 10, lam: float = 0.7
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: greedily pick the
    candidate maximizing ``lam·rel − (1−lam)·max_sim_to_selected`` —
    the standard retrieval re-ranker that trades raw relevance for
    coverage, and the per-query counterpart of corpus-level diversity
    selection in a training-data pipeline (don't fill a context window
    / batch with ten near-copies of the best hit).

    ``candidates`` = (query_id, cand_id, rel, vec) — a BOUNDED
    per-query pool (ANN/BM25 top-N), which is what makes the shape
    scale-safe: each of the ``k`` unrolled greedy steps is a join of
    the pool against the ≤step-sized selected set per query, grouped
    back per candidate, so cost is queries × pool × k tiny rows and
    NEVER touches the corpus.  Each pick is lineage-cut with an eager
    ``localCheckpoint`` so the iterated plan stays constant-size (the
    graph.py cut: a lazy one runs the same stages while the plan is
    built).  Queries with fewer than ``k`` candidates simply stop
    early (argmax of an empty remainder yields no row).
    Scores are rounded(6) before the argmax and ties break on
    cand_id, so a SQL replay picks identically."""
    # r10: materialize the bounded candidate pool ONCE — without the
    # cut, the caller's whole ANN/scoring subplan is embedded and
    # re-analyzed inside every one of the k greedy steps (and the
    # final union), which dominated the query's wall time at bench SF
    # (construction 6.7 s vs 0.2 s execution).  EAGER: the pool is
    # consumed by two subtrees per step (scored + the running union),
    # the lazy-checkpoint race 531dea8 documents.
    candidates = candidates.localCheckpoint(eager=True)
    w1 = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    selected = (
        candidates.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            "vec",
            F.round("rel", 6).alias("mmr_score"),
            F.lit(1).alias("pick"),
        )
        .localCheckpoint(eager=True)
    )
    for step in range(2, k + 1):
        s = selected.select(
            "query_id",
            F.col("cand_id").alias("sel_id"),
            F.col("vec").alias("sel_vec"),
        )
        scored = (
            candidates.join(s, "query_id")
            .groupBy("query_id", "cand_id")
            .agg(
                F.first("rel").alias("rel"),
                F.first("vec").alias("vec"),
                F.max(cosine(F.col("vec"), F.col("sel_vec"))).alias("max_sim"),
                F.max((F.col("cand_id") == F.col("sel_id")).cast("int")).alias(
                    "is_sel"
                ),
            )
            .filter(F.col("is_sel") == 0)
            .withColumn(
                "mmr",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1 - lam) * F.col("max_sim"),
                    6,
                ),
            )
        )
        wk = Window.partitionBy("query_id").orderBy(F.desc("mmr"), "cand_id")
        pick = (
            scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                "vec",
                F.col("mmr").alias("mmr_score"),
                F.lit(step).alias("pick"),
            )
            .localCheckpoint(eager=True)
        )
        selected = selected.unionByName(pick)
    return selected.select("query_id", "pick", "cand_id", "mmr_score")


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search — the query path PQ exists for:
    candidates are scored from their 4-bit codes and a per-query
    distance TABLE (query subvector → each centroid, m×ks doubles per
    query), so the corpus scan reads an 8-byte code per row instead of
    the d-dim float vector, and every distance is m table lookups + a
    sum.  Approximate by construction (distance to the RECONSTRUCTED
    vector); recall vs :func:`brute_force_topk` is property-tested.

    Scale shape: the encoded corpus (id, code) is the only corpus-wide
    input — the distance tables (queries × m × ks tiny rows) broadcast
    into the decode join, one groupBy(query, cand) sums the m terms.
    Cost is corpus × m × Q code-sized rows; at real scale the IVF cell
    routing (``ivf_topk_from_index``) prunes the corpus side first —
    this operator is the in-cell scorer of that IVF-PQ composition."""
    codes = _pq_codes(embeddings, codebooks, id_col, vec_col)
    tables = _pq_tables(queries, codebooks, id_col, vec_col)
    looked_up = (
        _pq_decode(codes, len(codebooks), "cand_id")
        .join(F.broadcast(tables), ["sub", "cluster"])
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    return _adc_top_k(looked_up, k)


def kcenter_select(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the
    classic 2-approximation to the k-center cover and the
    corpus-level diversity-sampling counterpart of the per-query
    :func:`mmr_rerank`: pick the smallest id, then repeatedly the
    point farthest (max min-squared-L2) from everything selected.
    The use case is picking a maximally-spread seed/eval subset from
    an embedding corpus.

    Scale shape: each of the k steps is ONE narrow corpus pass — the
    selected set is a ≤k-vector literal broadcast into a
    ``least(dist…)`` expression — ending in a global top-1
    (TakeOrderedAndProject: per-partition O(1) heads, no global
    sort); only the picked vector (the model artifact, like
    :func:`ivf_build`'s centroids) reaches the driver each round.
    Total cost k corpus scans, memory O(k·d).  Distances round(6)
    before the argmax with id tie-breaks so a SQL replay picks
    identically.  Returns the k (pick, id, min_dist_sq) rows as a
    local frame — the coreset IS driver-sized by construction."""
    v = _vectors(embeddings, id_col, vec_col)
    first = v.orderBy("id").limit(1).collect()[0]
    picked: list[tuple[int, int, float | None]] = [(1, first.id, None)]
    sel_vecs: list[list[float]] = [list(first.vec)]
    for step in range(2, k + 1):
        dists = [_l2sq(F.col("vec"), lit_vec(s)) for s in sel_vecs]
        mind = F.round(F.least(*dists) if len(dists) > 1 else dists[0], 6)
        far = (
            v.filter(~F.col("id").isin(*[i for _, i, _ in picked]))
            .select("id", "vec", mind.alias("md"))
            .orderBy(F.col("md").desc(), "id")
            .limit(1)
            .collect()[0]
        )
        picked.append((step, far.id, far.md))
        sel_vecs.append(list(far.vec))
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        picked, "pick int, vec_id long, min_dist_sq double"
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production ANN composition: IVF cell routing
    prunes the corpus to ``nprobe/n_centroids`` of its rows, then
    :func:`pq_adc_topk`'s asymmetric-distance scoring ranks the
    surviving candidates from their 8-byte codes.  This is the shape
    every large-scale vector store ships (FAISS IVFPQ): at 100 TB the
    inverted file is ``partitionBy(cell)`` parquet, a probe is a
    partition-pruned scan of code-sized rows, and no vector is read at
    query time.

    The candidate restriction happens BEFORE the per-subspace decode
    explode: (cand, cell) rows join the broadcast probe list first, so
    the m-fold explode and the distance-table join only pay for
    candidates in probed cells.  Both trainings are the deterministic
    operators (:func:`ivf_build` spherical, :func:`pq_build` plain
    L2), so the full pipeline replays as SQL."""
    # r11 (VERDICT r10 #6): BOTH trainings plus the cell-assignment and
    # encode passes re-derived scan+`_as_double` from the raw corpus —
    # 6 passes total (ivf init + 2 Lloyd, pq init + 2 Lloyd, assign,
    # encode).  Hoist the shared doubled frame into ONE eager
    # materialization; the in-operator `_as_double` re-casts become
    # no-ops (array<double>→array<double>, elided by SimplifyCasts),
    # so the replayed codebooks are bit-identical (oracle-checked).
    # This composition is why the r7 negative result for ivf_build
    # ALONE (3 passes) doesn't apply verbatim — measured again in
    # OPTIMIZATION_r11.md either way.
    base = embeddings.select(
        F.col(id_col), _as_double(vec_col).alias(vec_col)
    ).localCheckpoint(eager=True)
    centroids = ivf_build(base, n_centroids, iters, id_col, vec_col)
    codebooks = pq_build(base, m, ks, iters, id_col, vec_col)
    cells = _with_cells(
        _vectors(base, id_col, vec_col, "cand_id", "vec_n"), centroids, "vec_n", "cell"
    ).select("cand_id", "cell")
    cand = cells.join(_pq_codes(base, codebooks, id_col, vec_col), "cand_id")
    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col, cell="cell")
    tables = _pq_tables(queries, codebooks, id_col, vec_col)
    routed = cand.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    looked_up = _pq_decode(routed, m, "query_id", "cand_id").join(
        F.broadcast(tables), ["query_id", "sub", "cluster"]
    )
    return _adc_top_k(looked_up, k)
