"""Fuzzy string matching: edit-distance self-join with
deletion-neighborhood blocking (SymSpell-style).

The reference's delegated SQL surface includes whatever string matching
the source engines offer (``export_query`` is arbitrary source SQL,
reference ``dags/cloudsql_to_bigquery.py:66``); entity-resolution joins
(dedup of customer/supplier name variants) are the warehouse workload
that needs it.  A naive fuzzy join is a cross product with a
``levenshtein`` filter — O(n²) comparisons, a BroadcastNestedLoopJoin
at best.  For distance ≤ 1 the deletion neighborhood is exact blocking:
two strings are within one edit iff they share a member of
{s} ∪ {s minus one character}, so candidates come from an EQUI-join on
the 64-bit hash of those ``len+1`` variants — shuffle volume
O(rows × avg_len), uniform keys, and Catalyst never sees a theta join.
Candidates then pay one exact ``levenshtein`` refine (identical
semantics in Spark and DuckDB, so the result is oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _deletion_blocks(name_col: str):
    """Array of xxhash64 block keys: the string itself plus every
    single-character deletion."""
    variants = F.expr(
        f"transform(sequence(1, length({name_col})), "
        f"i -> concat(substring({name_col}, 1, i - 1), "
        f"substring({name_col}, i + 1, 2147483647)))"
    )
    return F.transform(
        F.array_union(F.array(F.col(name_col)), variants),
        lambda s: F.xxhash64(s),
    )


def fuzzy_name_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
) -> DataFrame:
    """All pairs ``(key_a < key_b)`` whose names are within edit
    distance 1, as ``(key_a, key_b, distance)``.

    Exact (blocking has 100 % recall at k=1: a substitution shares the
    deletion at the edited position, an insert/delete shares the longer
    side's deletion, equal strings share themselves).  Pairs sharing
    several blocks are deduped by an aggregation on the key pair —
    ``min(distance)`` rides the same shuffle, so dedup costs no extra
    exchange.  For k ≥ 2 compose with a coarser blocker; the
    neighborhood trick stays exact only for one edit."""
    blocks = df.select(
        F.col(key_col).alias("k"),
        F.col(name_col).alias("n"),
        F.explode(_deletion_blocks(name_col)).alias("block"),
    )
    a = blocks.select(
        F.col("k").alias("key_a"), F.col("n").alias("name_a"), "block"
    )
    b = blocks.select(
        F.col("k").alias("key_b"), F.col("n").alias("name_b"), "block"
    )
    cand = a.join(b, "block").filter(F.col("key_a") < F.col("key_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.select("key_a", "key_b", dist.alias("distance"))
        .filter(F.col("distance") <= 1)
        .groupBy("key_a", "key_b")
        .agg(F.min("distance").alias("distance"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    window: int = 3,
    max_distance: int = 2,
    num_partitions: int = 8,
) -> DataFrame:
    """Sorted-neighborhood blocking (the Hernandez-Stolfo merge/purge
    method): order records by ``name_col``, compare each record only
    with its next ``window`` successors, keep pairs within
    ``max_distance`` edits.  Complements ``fuzzy_name_pairs`` — the
    deletion neighborhood is exact for 1 edit; sorted-neighborhood
    trades bounded recall for a distance- and window-free cost model
    (exactly ``window`` comparisons per record, any distance cutoff).

    Distributed global rank without a single-partition sort via
    :func:`.curation.global_rank` — the rank is a property of the
    total order ``(name, key)``, so partition boundary placement
    cannot change it.
    Pairing is an equi-join on rank (the predecessor side explodes
    deltas ``1..window``), so the shuffle is uniform; no theta join,
    no window over one partition.
    """
    from .curation import global_rank

    base = df.select(F.col(key_col).alias("k"), F.col(name_col).alias("n"))
    ranked = global_rank(
        base,
        [F.col("n").asc(), F.col("k").asc()],
        rank_col="r",
        num_partitions=num_partitions,
    )
    a = ranked.select(
        F.col("k").alias("key_a"),
        F.col("n").alias("name_a"),
        F.explode(
            F.array(*[F.col("r") + F.lit(d) for d in range(1, window + 1)])
        ).alias("r_match"),
    )
    b = ranked.select(
        F.col("k").alias("key_b"),
        F.col("n").alias("name_b"),
        F.col("r").alias("r_match"),
    )
    return (
        a.join(b, "r_match")
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= max_distance)
        .select("key_a", "key_b", "distance")
    )
