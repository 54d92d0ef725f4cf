"""Scale-path plans: skew-safe aggregation/join variants whose results
are bit-identical to the naive plans (and oracle-checked as such).
These exist to prove the mitigation machinery, not because sf0.01 needs
it — at 100 TB the salted variants are what keeps a hot key from
pinning a stage on one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.skew import grouped_topk_salted, salted_agg, salted_join
from . import register

_DEC = "decimal(18,6)"


def salted_agg_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem grouped by its 3-value (maximally hot) flag column via
    two-stage salted aggregation — identical output to a plain groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        ["l_returnflag"],
        {
            "n_items": (F.count("*"), F.sum),
            "sum_qty": (F.sum("l_quantity"), F.sum),
            "sum_price": (
                F.sum(F.col("l_extendedprice").cast(_DEC)),
                lambda c: F.sum(c).cast("double"),
            ),
            "max_disc": (F.max("l_discount"), F.max),
            "min_ship": (F.min("l_shipdate"), F.min),
        },
        n_salts=16,
    )


_SALTED_AGG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
       MAX(l_discount) AS max_disc,
       MIN(l_shipdate) AS min_ship
FROM lineitem GROUP BY l_returnflag
"""


def salted_join_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈nation with an explicit 8-way salt on the (skewable)
    nation key — row-identical to the plain equi-join."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("n_nationkey"), "c_acctbal"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return salted_join(
        c, n, ["n_nationkey"], n_salts=8, big_salt_on="c_custkey"
    ).select("c_custkey", "n_name", "c_acctbal")


_SALTED_JOIN_SQL = """
SELECT c_custkey, n_name, c_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


register(salted_agg_hot_keys, _SALTED_AGG_SQL)
register(salted_join_nation, _SALTED_JOIN_SQL)


def topk_per_group_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority via the salted two-phase
    top-k (``operators/skew.grouped_topk_salted``) — row-identical to
    the rank-window form (same oracle as ``topk_per_group``), but no
    task ever sorts a whole group, so a hot group cannot pin a stage."""
    o = load_table(spark, sf_dir, "orders")
    item = F.struct(
        (-F.col("o_totalprice")).alias("neg_price"),
        F.col("o_orderkey").alias("o_orderkey"),
        F.col("o_totalprice").alias("o_totalprice"),
    )
    out = grouped_topk_salted(o, ["o_orderpriority"], item, k=3)
    return out.select(
        "o_orderpriority",
        F.col("item.o_orderkey").alias("o_orderkey"),
        F.col("item.o_totalprice").alias("o_totalprice"),
        "rn",
    )


_TOPK_SALTED_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""

register(topk_per_group_salted, _TOPK_SALTED_SQL)


def events_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users estimated from MERGED per-day HLL
    sketches (``operators/frequency.distinct_sketch_build/rollup``) —
    the incremental form of a distinct-count dashboard: daily sketch
    build touches only that day's rows; every coarser rollup merges
    sketch bytes, never rescans.  Rows-only (sketch estimates are
    engine-specific); accuracy vs exact count-distinct and
    merge-consistency are unit-tested."""
    from pyspark.sql import functions as F2

    from ..operators.frequency import (
        distinct_sketch_build,
        distinct_sketch_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F2.to_date("ts")
    )
    daily = distinct_sketch_build(ev, ["event_type", "day"], "user_id")
    return distinct_sketch_rollup(daily, ["event_type"]).orderBy("event_type")


# At the correctness fixture's cardinality (150 users/type at sf0.01)
# the HLL sketch is still in its exact LIST mode, so the merged
# estimate equals COUNT(DISTINCT) and the query is hash-checkable —
# the same exact-below-threshold property events_user_skew_report's
# oracle relies on.  (At sf0.1's 1500 users/type the sketch is in
# dense mode and ~0.8% off; the bench path exercises that regime.)
_DISTINCT_ROLLUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS approx_distinct
FROM events GROUP BY event_type
"""

register(events_distinct_users_rollup, _DISTINCT_ROLLUP_SQL)


def events_distinct_users_rollup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT twin of the sketch rollup: per-day partial state is the
    distinct ``(event_type, day, user_id)`` set (re-aggregable — a new
    day appends its own partial, no rescan), and the coarser rollup
    distinct-counts the merged partials.  Exact at every scale, at the
    cost of state linear in distinct users instead of the HLL's fixed
    kilobytes — the trade the sketch variant exists to avoid."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = ev.select("event_type", "day", "user_id").distinct()
    return daily.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("distinct_users")
    )


_DISTINCT_ROLLUP_EXACT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
FROM events GROUP BY event_type
"""

register(events_distinct_users_rollup_exact, _DISTINCT_ROLLUP_EXACT_SQL)


def events_value_quantiles_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of event value per type from MERGED per-day KLL
    sketches (``operators/sketches``) — quantile dashboards that update
    incrementally: build touches one day, rollup merges kilobytes.
    Rows-only; rank-error accuracy vs exact percentiles is
    unit-tested."""
    from pyspark.sql import functions as F2

    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F2.to_date("ts")
    )
    daily = sketches.quantile_sketch_build(ev, ["event_type", "day"], "value")
    return sketches.quantile_sketch_rollup(daily, ["event_type"]).orderBy(
        "event_type"
    )


def events_value_quantiles_rollup_exactmode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-checkable twin of the KLL rollup, same pipeline at
    k=4096: with ~200 (sf0.001) / ~2000 (sf0.01) events per type, every
    per-day sketch AND their per-type merge retain ALL values (a KLL
    sketch is exact while n <= k — no compaction has occurred), so the
    inclusive-rank ``get_quantile`` equals the discrete quantile
    (DuckDB ``quantile_disc``) and the merged-sketch path gets a hard
    cross-engine oracle (verified identical at both correctness SFs).
    Above the exact threshold (sf0.1: ~20k/type) the driver check
    downgrades to rows-only (``scripts/check_oracle.py``
    SKETCH_EXACT_ONLY) — the same exact-regime scoping as the
    Theta/HLL oracles.  The production-shaped k=200 variant
    (``events_value_quantiles_rollup``) keeps its rank-error unit
    bound."""
    from pyspark.sql import functions as F2

    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F2.to_date("ts")
    )
    daily = sketches.quantile_sketch_build(
        ev, ["event_type", "day"], "value", k=4096
    )
    return sketches.quantile_sketch_rollup(daily, ["event_type"]).orderBy(
        "event_type"
    )


_VALUE_QUANTILES_EXACT_SQL = """
SELECT event_type,
       ROUND(quantile_disc(value, 0.5), 6) AS p50,
       ROUND(quantile_disc(value, 0.95), 6) AS p95,
       ROUND(quantile_disc(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""

register(events_value_quantiles_rollup_exactmode, _VALUE_QUANTILES_EXACT_SQL)


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs audience algebra over event types from stored Theta
    sketches: users doing both A and B, only A, only B — answered from
    kilobyte sketch state, never re-touching the raw id sets.
    Hash-checkable at the correctness fixture: with 150 users/type at
    sf0.01 every Theta sketch stays in exact mode (< k=4096 retained
    hashes), so the set-algebra estimates equal the true set sizes the
    oracle computes; above the exact threshold accuracy is
    unit-tested."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    sk = sketches.theta_sketch_build(ev, "event_type", "user_id")
    return sketches.audience_overlap_matrix(sk, "event_type").orderBy(
        "a", "b"
    )


_AUDIENCE_OVERLAP_SQL = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
n AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1),
inter AS (
  SELECT a.event_type AS a, b.event_type AS b, COUNT(*) AS n_both
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT na.event_type AS a, nb.event_type AS b,
       na.n AS n_a, nb.n AS n_b,
       COALESCE(i.n_both, 0) AS n_both,
       na.n - COALESCE(i.n_both, 0) AS n_only_a,
       nb.n - COALESCE(i.n_both, 0) AS n_only_b
FROM n na
JOIN n nb ON na.event_type < nb.event_type
LEFT JOIN inter i ON i.a = na.event_type AND i.b = nb.event_type
"""

register(events_value_quantiles_rollup)
register(events_audience_overlap, _AUDIENCE_OVERLAP_SQL)


def events_user_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight on events.user_id
    (``operators/skew.skew_report``): the one-row diagnostic that picks
    plain/broadcast/salted/AQE strategies before paying for the wrong
    join.  ``percentile_approx`` is replaced by exact
    ``quantile_disc`` on the oracle side — both engines pick an actual
    observed per-key count, and at the fixture's key cardinality the
    sketch is exact."""
    from ..operators.skew import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, ["user_id"], top_k=5)


_SKEW_REPORT_SQL = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
),
top5 AS (
  SELECT SUM(n) AS top_n
  FROM (SELECT n FROM per_key ORDER BY n DESC, user_id LIMIT 5)
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       ROUND(AVG(n), 4) AS mean_per_key,
       MAX(n) AS max_per_key,
       ROUND(MAX(n) / AVG(n), 4) AS skew_factor,
       QUANTILE_DISC(n, 0.99) AS p99_per_key,
       ROUND(top_n / CAST(SUM(n) AS DOUBLE), 6) AS topk_share
FROM per_key CROSS JOIN top5
GROUP BY top_n
"""

register(events_user_skew_report, _SKEW_REPORT_SQL)


def orders_customer_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join match-rate estimate for orders⋈customer from Theta
    key sketches (``operators/sketches.join_key_overlap_estimate``) —
    two single-pass sketch builds and a kilobyte intersection instead
    of a trial join.  Hash-checkable at the correctness fixture:
    sf0.01's 1500 distinct keys per side keep both Theta sketches in
    exact mode, so estimates equal the true counts; above the
    exact-mode cardinality accuracy is unit-tested."""
    from ..operators.sketches import join_key_overlap_estimate

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return join_key_overlap_estimate(o, "o_custkey", c, "c_custkey")


_JOIN_ESTIMATE_SQL = """
WITH l AS (SELECT COUNT(DISTINCT o_custkey) AS n FROM orders),
r AS (SELECT COUNT(DISTINCT c_custkey) AS n FROM customer),
s AS (
  SELECT COUNT(*) AS n
  FROM (SELECT DISTINCT o_custkey AS k FROM orders) a
  JOIN (SELECT DISTINCT c_custkey AS k FROM customer) b USING (k)
)
SELECT l.n AS n_left_keys, r.n AS n_right_keys, s.n AS n_shared_keys,
       ROUND(s.n / CAST(l.n AS DOUBLE), 4) AS left_match_frac,
       ROUND(s.n / CAST(r.n AS DOUBLE), 4) AS right_match_frac
FROM l, r, s
"""

register(orders_customer_join_estimate, _JOIN_ESTIMATE_SQL)


def _interleave_sql(cols: tuple, bits: int) -> str:
    """DuckDB replay of ``operators.layout.zorder_value``: the same
    unrolled shift/mask terms (bucket i's bit b at position b*n+i);
    bit positions are disjoint so + equals |."""
    n = len(cols)
    return " + ".join(
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    )


def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) re-layout audit for the events table —
    the storage-side 100 TB lever: parquet data skipping prunes on
    per-file min/max, so a table queried by BOTH ``user_id`` and time
    needs files narrow in both dimensions at once, which no
    single-column sort gives.  ``operators/layout.zorder_layout``
    buckets each dim to 256 equal-width cells (exact integer
    arithmetic), bit-interleaves them, and cuts the curve into 64
    files; this query reports the per-file row count and raw min/max
    of each dimension — the exact statistics a scan planner would
    prune on.  Pure Catalyst (shift/mask codegen, no UDF); the only
    driver traffic is the 4-scalar bounds collect every clustering
    rewrite needs.  tests/test_layout.py asserts the z-layout's
    per-file spans beat a single-column-sorted layout on the second
    dimension by construction."""
    from ..operators import layout

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.unix_timestamp("ts").alias("es")
    )
    b = d.agg(
        F.min("user_id"), F.max("user_id"), F.min("es"), F.max("es")
    ).first()
    umin, umax, tmin, tmax = (int(b[i]) for i in range(4))
    laid = layout.zorder_layout(
        d,
        [(F.col("user_id"), umin, umax), (F.col("es"), tmin, tmax)],
        bits=8,
        n_files=64,
    )
    return (
        laid.groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("es").alias("t_min"),
            F.max("es").alias("t_max"),
        )
        .orderBy("file_id")
    )


_ZORDER_SQL = f"""
WITH d AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
bounds AS (
  SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
         MIN(es) AS tmin, MAX(es) AS tmax
  FROM d
),
bucketed AS (
  SELECT user_id, es,
         ((user_id - umin) * 256) // (umax - umin + 1) AS ub,
         ((es - tmin) * 256) // (tmax - tmin + 1) AS tb
  FROM d, bounds
),
z AS (
  SELECT user_id, es, {_interleave_sql(("ub", "tb"), 8)} AS zvalue
  FROM bucketed
),
f AS (SELECT user_id, es, (zvalue * 64) // 65536 AS file_id FROM z)
SELECT CAST(file_id AS INT) AS file_id,
       COUNT(*) AS n_rows,
       MIN(user_id) AS u_min, MAX(user_id) AS u_max,
       MIN(es) AS t_min, MAX(es) AS t_max
FROM f GROUP BY 1
"""

register(events_zorder_layout, _ZORDER_SQL)


def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-day SLIDING-window distinct users per event type from merged
    per-day HLL sketches (new r7) — the sliding complement of
    ``events_distinct_users_rollup``: the day-grain sketch is built
    ONCE from raw events, then each sliding window (identified by its
    end day; a day's sketch serves the 3 windows ending at day,
    day+1, day+2) is a pure sketch merge.  The explode-by-offset
    factor multiplies kilobyte sketch rows, never the raw stream, and
    adding a new day of data appends one day-sketch and re-merges only
    the 3 windows it touches — the incremental property that keeps a
    100-TB sliding distinct-users dashboard cheap.

    Hash-checkable for the same reason as the rollup twin: at the
    correctness fixture's per-(type, 3-day-window) cardinality the HLL
    sketch is still in its exact sparse mode, so the merged estimate
    equals COUNT(DISTINCT).  (At bench scale the dense-mode ~1%-error
    regime is exercised; merge-consistency stays unit-tested.)"""
    from ..operators.frequency import (
        distinct_sketch_build,
        distinct_sketch_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = distinct_sketch_build(ev, ["event_type", "day"], "user_id")
    exploded = daily.select(
        "event_type",
        "sketch",
        F.explode(
            F.array(*[F.date_add("day", i) for i in range(3)])
        ).alias("w_end"),
    )
    return distinct_sketch_rollup(exploded, ["event_type", "w_end"]).select(
        "event_type",
        "w_end",
        F.col("approx_distinct").cast("bigint").alias("distinct_users_3d"),
    )


_SLIDING_DISTINCT_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events
),
s AS (
  SELECT event_type, day AS w_end, user_id FROM d
  UNION ALL SELECT event_type, day + 1, user_id FROM d
  UNION ALL SELECT event_type, day + 2, user_id FROM d
)
SELECT event_type, w_end,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_3d
FROM s GROUP BY 1, 2
"""

register(events_sliding_distinct_users, _SLIDING_DISTINCT_SQL)
