"""Training-corpus curation operators: chunking, balanced sampling,
deterministic split assignment.

These are the end-stage ops of an LLM data pipeline (after dedup /
quality filtering — see :mod:`.dedup`, :mod:`.textstats`): break
documents into model-window-sized pieces, rebalance over-represented
sources, and assign stable train/val/test splits.

Scale notes (100 TB):

- ``chunk_text`` is a narrow per-row transform (sequence + posexplode)
  — zero shuffles, streams through whole-stage codegen, and the output
  explodes ~len/stride× so it should be written partitioned, never
  collected.
- ``balanced_sample`` needs one shuffle (window over ``source``).  The
  hash ordering makes it deterministic across runs/engines — re-running
  on a grown corpus keeps a stable prefix per source, unlike
  ``ORDER BY rand()``.  With heavily skewed sources, AQE skew-split
  handles the window's sort spill; a pre-filter on the hash prefix
  (keep only hashes < quota/est_count quantile) can cut the shuffled
  volume by orders of magnitude before the exact window runs.
- ``assign_splits`` is stateless per-row hashing — no shuffle, no state,
  and membership is reproducible from the id alone (a new pipeline run
  never moves a document between train and test, which would leak).
- ``decontaminate`` broadcasts the benchmark's distinct shingles (eval
  suites are KBs–MBs against a 100 TB corpus), so the contamination
  scan is a map-side hash probe — one narrow pass, no corpus shuffle.
- ``pack_bins`` is one shuffle (window over the pack key); bin ids are
  a pure function of (key, order, budget), so re-packing a grown corpus
  only appends bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from .dedup import _jaccard, word_shingle_hashes
from .textstats import token_count

# first hex digit of md5 → 16 uniform buckets; 12/2/2 ≈ 75/12.5/12.5
TRAIN_DIGITS = tuple("0123456789ab")
VAL_DIGITS = ("c", "d")
TEST_DIGITS = ("e", "f")


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 120,
    stride: int = 100,
) -> DataFrame:
    """Fixed-size character chunks with ``size - stride`` overlap.

    One output row per (document, window start); ``chunk_idx`` counts
    windows from 0.  ``stride < size`` gives overlapping chunks (the
    usual setting so no token span is split across a boundary in every
    chunk).

    Starts stop as soon as a window reaches the end of the document:
    the last start is the smallest stride multiple with
    ``start + size >= len`` (upper bound ``len - size + stride - 1``),
    so no trailing chunk is wholly contained in its predecessor (which
    would duplicate training text downstream), and empty documents
    yield no chunks at all.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    length = F.length(F.col(text_col))
    starts = F.when(length <= size, F.array(F.lit(0))).otherwise(
        F.sequence(F.lit(0), length - size + (stride - 1), F.lit(stride))
    )
    return (
        df.select(
            F.col(id_col),
            F.posexplode(starts).alias("chunk_idx", "start"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.expr(f"substring({text_col}, start + 1, {size})").alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk"))
        .filter(F.col("chunk_len") > 0)
    )


def balanced_sample(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    per_group: int = 10,
) -> DataFrame:
    """Deterministic per-group quota sample: the ``per_group`` rows with
    the smallest md5(id) per group.  Portable (same result in any
    engine with md5) and stable under corpus growth."""
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_group)
        .drop("rk")
    )


def stratified_sample(
    df: DataFrame,
    fraction: float,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic proportional stratified sample: the
    ``ceil(fraction·|g|)`` rows with the smallest md5(id) from every
    stratum ``g`` — each stratum is represented at exactly the global
    rate (vs :func:`balanced_sample`'s equal quotas), and the pick is
    portable/stable under reruns like every hash-ordered sampler here.

    Scale note: exact per-stratum quotas need a rank, and a window
    rank serializes each stratum into one task — fine up to
    ~10⁷-row strata.  At 100 TB with huge strata, either pre-bucket
    the rank (two-phase: per-bucket rank + running offsets) or accept
    Bernoulli-by-hash (``mixing.resample``), which needs no shuffle at
    all and hits the rate in expectation."""
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    wc = Window.partitionBy(group_col)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .withColumn("n_g", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") <= F.ceil(F.lit(fraction) * F.col("n_g")))
        .drop("rk", "n_g")
    )


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stable train/val/test assignment from the first hex digit of
    md5(id): 12/16 train, 2/16 val, 2/16 test.  Pure row-local hashing:
    membership never changes as the corpus grows."""
    digit = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return df.withColumn(
        "split",
        F.when(digit.isin(*TRAIN_DIGITS), "train")
        .when(digit.isin(*VAL_DIGITS), "val")
        .otherwise("test"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per training document, the number of
    distinct word ``n``-grams it shares with *any* benchmark document
    (the standard eval-leak test; n = 8–13 in published pipelines).
    Returns ``(id, n_shared)`` for contaminated docs only — anti-join
    it against the corpus to drop them.

    The benchmark side is deduplicated then broadcast: contamination
    checks always have a tiny eval side, so the 100 TB train side is
    scanned once with a map-side hash probe and the only shuffle is the
    final partial-agged count per doc id.  Both sides join on the
    64-bit gram hash, not the gram string — the probe table and every
    exploded row carry 8 bytes instead of an n-word string, and the
    overlap count is hash-collision-exact to ~|grams|²/2⁶⁴."""
    grams = F.explode(word_shingle_hashes(F.col(text_col), n))
    bench_grams = benchmark.select(grams.alias("gram")).distinct()
    return (
        train.select(F.col(id_col), grams.alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def pack_bins(
    df: DataFrame,
    budget: int,
    key_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for model windows: concatenate documents per
    ``key_col`` in ``id_col`` order and cut at every ``budget`` tokens;
    a document is assigned to the bin its first token lands in.  Adds
    ``n_tokens``, the running ``tok_start`` offset, and ``bin_id``.

    This is the streaming concat-and-split packer (one window shuffle,
    deterministic bin ids) rather than best-fit bin packing, which is
    NP-hard and order-unstable — at corpus scale stable ids matter more
    than the last few % of fill."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(key_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("n_tokens", token_count(F.col(text_col)))
        .withColumn("tok_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("bin_id", F.floor(F.col("tok_start") / budget))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    Efraimidis-Spirakis A-ES scheme: each row gets priority
    ``u^(1/w)`` for a uniform ``u``, and the k largest priorities are
    an exact weighted sample.  We rank by the monotone-equivalent
    ``ln(u)/w`` and derive ``u`` from ``md5(id)`` (first 8 hex chars →
    uniform in (0,1]), so the sample is reproducible across runs,
    engines, and cluster sizes — no RNG state, no seed plumbing.

    The key is rounded to 9 decimals with an id tie-break so an
    engine-boundary ulp in ``ln`` can never reorder the cut; the
    selection itself is Spark's distributed TakeOrdered (per-partition
    top-k heaps, merged on the driver — O(k) driver memory, no full
    sort, no shuffle of non-winners).  At 100 TB this is the way to
    draw a token-budget-proportional subcorpus in one pass.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    key = F.round(F.log(u) / F.col(weight_col), 9)
    return (
        df.withColumn("priority", key)
        .orderBy(F.desc("priority"), id_col)
        .limit(k)
    )


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """(id, bucket, cnt): hashed unigram+bigram bucket counts — the
    DSIR featurization (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling").  Buckets come from the first 8
    hex chars of ``md5(gram)`` mod ``n_buckets`` so the same document
    featurizes identically in any engine — no engine-private hash in
    the contract.  One narrow explode + one map-side-combined
    aggregation; the shuffle moves (id, bucket) partials, never text.
    """
    from .textstats import normalize_text, tokens, word_ngrams

    t = F.col(text_col)
    grams = F.concat(tokens(normalize_text(t)), word_ngrams(t, 2))
    g = df.select(id_col, F.explode(grams).alias("gram"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    return (
        g.select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_logratio_table(
    raw_feats: DataFrame,
    target_feats: DataFrame,
    n_buckets: int = 256,
    alpha: float = 0.5,
) -> DataFrame:
    """(bucket, logratio): per-bucket ``ln p_target - ln p_raw`` under
    add-alpha smoothing.  This is the trained "model" of DSIR — at most
    ``n_buckets`` rows (model-sized, broadcastable by construction),
    built from two map-side-combined aggregations over the feature
    frames."""
    rc = raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tc = target_feats.groupBy("bucket").agg(F.sum("cnt").alias("tc"))
    joined = rc.join(tc, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("rc", F.lit(0)).alias("rc"),
        F.coalesce("tc", F.lit(0)).alias("tc"),
    )
    tot = joined.agg(
        F.sum("rc").alias("rtot"), F.sum("tc").alias("ttot")
    )
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log(
                (F.col("tc") + F.lit(alpha))
                / (F.col("ttot") + F.lit(alpha * n_buckets))
            )
            - F.log(
                (F.col("rc") + F.lit(alpha))
                / (F.col("rtot") + F.lit(alpha * n_buckets))
            )
        ).alias("logratio"),
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 0.5,
) -> DataFrame:
    """(id, logw): per-raw-document DSIR importance weight — the
    log-likelihood ratio of the doc's hashed-n-gram features under the
    target vs raw bucket distributions.  The log-ratio table joins in
    as a broadcast (≤ ``n_buckets`` rows); per-bucket contributions are
    decimal-cast before the per-doc sum so the weight is bit-stable
    across engines and partitionings."""
    raw_feats = hashed_ngram_features(raw, text_col, id_col, n_buckets)
    tgt_feats = hashed_ngram_features(target, text_col, id_col, n_buckets)
    lr = dsir_logratio_table(raw_feats, tgt_feats, n_buckets, alpha)
    return (
        raw_feats.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum((F.col("cnt") * F.col("logratio")).cast("decimal(28,10)"))
            .cast("double")
            .alias("logw")
        )
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR: draw ``k`` raw documents distributed like the TARGET
    domain — Gumbel-top-k over the importance weights (sampling without
    replacement with probability ∝ exp(logw)).  The Gumbel noise is
    derived from ``md5(id || '#g')`` so the draw is reproducible across
    runs, engines, and cluster sizes; the selection is a distributed
    TakeOrdered (per-partition heaps, O(k) driver memory, no full
    sort).  At 100 TB: two feature aggregations + one broadcast join +
    one top-k — no corpus self-join anywhere."""
    logw = dsir_importance_weights(
        raw, target, text_col, id_col, n_buckets, alpha
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#g"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    gumbel = -F.log(-F.log(u))
    scored = raw.join(logw, id_col).withColumn(
        "priority", F.round(F.col("logw") + gumbel, 9)
    )
    return scored.orderBy(F.desc("priority"), id_col).limit(k)


def decontaminate_fuzzy(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Near-duplicate benchmark decontamination: training docs whose
    word-shingle Jaccard similarity to ANY single benchmark item
    reaches ``threshold`` (catches paraphrase-level leaks the exact
    n-gram overlap count misses).  Returns
    ``(id, best_match, jaccard)`` — the highest-scoring benchmark item
    per contaminated doc, ties to the smallest benchmark id.

    Scale shape: the benchmark inverted index (gram-hash → bench id)
    broadcasts — eval suites are KBs–MBs against a 100 TB corpus — so
    the train side is ONE narrow scan whose exploded grams hash-probe
    the index map-side; only rows sharing a gram survive to the
    (train, bench) intersection count, the single shuffle, sized by
    actual overlap rather than the corpus.  Grams travel as 64-bit
    hashes (collision-exact to ~|grams|²/2⁶⁴), same contract as
    :func:`decontaminate`.

    ``parallelism``: optional pre-explosion repartition of the train
    side.  Shingling is ~100× CPU per input byte, so scan-aligned
    partitioning under-parallelizes whenever the corpus sits in few
    files (a single-file sf0.1 fixture ran the whole explosion on one
    task: measured 11.1 s → 1.5 s with ``parallelism=32``).  At real
    scale the scan has thousands of splits and the knob stays None —
    a full-text shuffle is not a default anyone should pay."""
    if parallelism:
        train = train.repartition(parallelism)
    arr = word_shingle_hashes(F.col(text_col), shingle_n)
    tsh = train.select(
        F.col(id_col), F.size(arr).alias("n_t"), F.explode(arr).alias("gram")
    )
    bsh = benchmark.select(
        F.col(id_col).alias(bench_id_col),
        F.size(arr).alias("n_b"),
        F.explode(arr).alias("gram"),
    )
    inter = (
        tsh.join(F.broadcast(bsh), "gram")
        .groupBy(id_col, bench_id_col, "n_t", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    scored = inter.select(
        id_col,
        bench_id_col,
        _jaccard(F.col("inter"), F.col("n_t"), F.col("n_b")).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    w = Window.partitionBy(id_col).orderBy(
        F.col("jaccard").desc(), F.col(bench_id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col(bench_id_col).alias("best_match"), "jaccard")
    )


def _prefix_scan(
    df: DataFrame,
    key: list,
    fold,
    value,
    num_partitions: int | None = None,
) -> tuple[DataFrame, WindowSpec]:
    """The range-partitioned two-phase prefix scan behind every
    global-order operator here and in :mod:`.stats` (running
    ``ROW_NUMBER``/``SUM``/``MAX`` over a total order, ``NTILE``,
    skylines).  A bare ``Window.orderBy`` would drag the whole frame
    onto one task (``WindowExec: No Partition Defined``); this shape
    never lets a task see more than its own partition.

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on ``key``
       give a globally range-ordered layout; each row is tagged with
       its partition id ``_pid``.
    2. One lazy ``localCheckpoint`` pins that layout.
       ``repartitionByRange`` samples its boundaries and is not
       guaranteed consistent across evaluations, and the frame is read
       twice below; the checkpoint builds its RDD (sampling the
       boundaries once) at call time, so both reads see the same
       ``_pid`` assignment.  Construction runs only the sampling job and
       the map side of the shuffles below the checkpoint; the first
       action on the result materializes the blocks.
    3. ``fold(value)`` per ``_pid`` (partition-count rows), folded again
       over all STRICTLY lower partition ids by a self-join in the plan
       (partition-count² pairs, no driver action, and no unpartitioned
       window for the plan guard to flag), gives ``_off``: the fold of
       everything in earlier partitions — NULL for the first partition.
       ``fold`` must be associative (``F.sum``, ``F.max``; a count is
       ``F.sum`` of ``F.lit(1)``).
    4. ``_off`` is broadcast-joined back (partition-count rows; the
       checkpointed frame has no size statistics, hence the hint).

    Returns the joined frame (input columns + ``_pid``, ``_off``) and
    the partition-local window ``partitionBy(_pid).orderBy(key)``; the
    caller combines its own window over that with ``_off`` and drops
    ``_pid``/``_off``."""
    ranged = (
        df.repartitionByRange(num_partitions, *key)
        if num_partitions
        else df.repartitionByRange(*key)
    ).sortWithinPartitions(*key)
    part = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )
    tot = part.groupBy("_pid").agg(fold(value).alias("_t"))
    lower = tot.select(F.col("_pid").alias("_lo"), "_t")
    off = (
        tot.select("_pid")
        .join(lower, F.col("_lo") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(fold("_t").alias("_off"))
    )
    return (
        part.join(F.broadcast(off), "_pid"),
        Window.partitionBy("_pid").orderBy(*key),
    )


def budget_select(
    df: DataFrame,
    order_col: str,
    cost_col: str,
    budget: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Budget-constrained corpus selection: take rows in global
    ``(order_col DESC, id_col ASC)`` order while the running sum of
    ``cost_col`` stays within ``budget`` — "highest-quality documents
    until the token budget is spent", the standard pretraining
    data-selection primitive.  The running sum is :func:`global_cumsum`;
    appends ``cum_cost`` (exact for integer costs)."""
    key = [F.col(order_col).desc(), F.col(id_col).asc()]
    return global_cumsum(df, key, cost_col, out_col="cum_cost").filter(
        F.col("cum_cost") <= budget
    )


def global_rank(
    df: DataFrame,
    key: list,
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over the total order ``key`` via
    :func:`_prefix_scan` (per-partition row counts as offsets), with no
    single-partition sort."""
    scan, w = _prefix_scan(df, key, F.sum, F.lit(1), num_partitions)
    return scan.withColumn(
        rank_col,
        F.row_number().over(w).cast("long") + F.coalesce("_off", F.lit(0)),
    ).drop("_pid", "_off")


def global_cumsum(
    df: DataFrame,
    key: list,
    value_col: str,
    out_col: str = "cum_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running ``SUM(value_col) OVER (ORDER BY key ROWS UNBOUNDED
    PRECEDING)`` via :func:`_prefix_scan` (per-partition value totals as
    offsets), with no single-partition sort.  Integer and decimal
    values keep exact arithmetic."""
    scan, w = _prefix_scan(df, key, F.sum, value_col, num_partitions)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return scan.withColumn(
        out_col, F.sum(value_col).over(run) + F.coalesce("_off", F.lit(0))
    ).drop("_pid", "_off")


def exact_ntile(
    df: DataFrame, n_buckets: int, key: list, bucket_col: str = "bucket"
) -> DataFrame:
    """Exact SQL ``NTILE(n)`` over the total order ``key``, computed
    distributed via :func:`global_rank` — identical results to
    ``ntile(n).over(Window.orderBy(...))`` (the first ``total mod n``
    buckets get ``ceil(total/n)`` rows, the rest ``floor(total/n)``)
    but with no unpartitioned WindowExec dragging the corpus onto one
    task.  The total is a 1-row count joined in the plan.
    Differential-tested against ``F.ntile`` in tests/test_curation.py."""
    ranked = global_rank(df, key, rank_col="_grank")
    total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    q, rem = f"(_n div {n_buckets})", f"(_n % {n_buckets})"
    big = f"({rem} * ({q} + 1))"  # ranks 1..big land in the first rem buckets
    # integer div on longs (ranks are exact well past any corpus size;
    # floor(double) would drift at 2^53); with fewer rows than buckets
    # (q = 0) every rank is <= big, so bucket = rank and the ELSE
    # branch's division by q is never evaluated
    bucket = F.expr(
        f"CASE WHEN _grank <= {big} THEN (_grank - 1) div ({q} + 1)"
        f" ELSE {rem} + (_grank - {big} - 1) div {q} END + 1"
    ).cast("int")
    return (
        ranked.crossJoin(total)
        .withColumn(bucket_col, bucket)
        .drop("_grank", "_n")
    )
