"""Temporal-join plans over the ``events`` fixture (as-of + interval),
oracle-checked against DuckDB's native ``ASOF JOIN`` / range-join SQL.

Timestamps are compared as raw epoch **microseconds** on both engines:
``catalog.load_table`` normalizes ``events.ts`` to a microsecond
timestamp regardless of the fixture's parquet encoding; ``unix_micros``
exposes it as int64 on the Spark side, DuckDB's ``epoch_us`` on the
oracle side — identical int64s, no precision-truncation parity traps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.temporal import (
    asof_join,
    interval_point_join,
    merge_intervals,
    sessionize_capped,
)
from . import register

_BLACKOUT_US = 1_800_000_000  # ±30 min in epoch micros


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_us`` as the int64 microsecond timestamp."""
    df = load_table(spark, sf_dir, "events")
    # ts may be TIMESTAMP or TIMESTAMP_NTZ depending on fixture encoding;
    # session tz is UTC, so the NTZ→TIMESTAMP cast is a pure reinterpret
    # and unix_micros matches DuckDB's epoch_us on the same file.
    return df.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click annotated with the user's most recent at-or-before
    purchase value (DuckDB ``ASOF LEFT JOIN`` semantics). The purchase
    side is pre-aggregated to unique (user, ts) so tie-breaking is
    deterministic on both engines."""
    ev = _events_us(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("purchase_value"))
    )
    joined = asof_join(
        clicks, purchases, on="ts_us", by="user_id", value_cols=["purchase_value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_us",
        "purchase_value",
        (F.col("ts_us") - F.col("_asof_on")).alias("gap_us"),
    )


_ASOF_SQL = """
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, r.purchase_value,
       epoch_us(l.ts) - r.pts_us AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS pts_us, MAX(value) AS purchase_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
  ON l.user_id = r.user_id AND epoch_us(l.ts) >= r.pts_us
"""


def events_error_blackout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases falling inside any +/-30 min error-blackout
    window of the same user, as (error, purchase) pairs with the signed
    offset. Bucketed equi-join under the hood (no theta cross-product).
    """
    ev = _events_us(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        (F.col("ts_us") - _BLACKOUT_US).alias("start_us"),
        (F.col("ts_us") + _BLACKOUT_US).alias("end_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts_us"
    )
    joined = interval_point_join(
        purchases,
        errors,
        point_ts="ts_us",
        start="start_us",
        end="end_us",
        by=["user_id"],
        bucket_width=2 * _BLACKOUT_US,
    )
    return joined.select(
        "error_id",
        "purchase_id",
        "user_id",
        (F.col("ts_us") - F.col("start_us") - F.lit(_BLACKOUT_US)).alias("offset_us"),
    )


_BLACKOUT_SQL = f"""
SELECT e.event_id AS error_id, p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) - epoch_us(e.ts) AS offset_us
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) BETWEEN epoch_us(e.ts) - {_BLACKOUT_US}
                        AND epoch_us(e.ts) + {_BLACKOUT_US}
"""


_GAP_US = 300_000_000  # 5 min session gap, epoch micros
_ERRWIN_US = 900_000_000  # ±15 min error blackout


def events_session_error_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join: each user's activity sessions
    (5-min-gap islands, end padded by the gap like ``events_session``)
    paired with the same user's ±15 min error-blackout windows, with the
    overlap duration.  Runs as a bucketed equi-join on
    ``(user_id, bucket)`` — the planner never sees a theta join, and
    the overlap-start-bucket emission rule makes pairs exact without a
    distinct pass (see ``operators/temporal.interval_overlap_join``)."""
    from pyspark.sql import Window

    from ..operators.temporal import interval_overlap_join

    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_us").over(w)
    marked = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        (prev.isNull() | (F.col("ts_us") - prev >= _GAP_US))
        .cast("int")
        .alias("new_s"),
    ).withColumn("sid", F.sum("new_s").over(run))
    sessions = marked.groupBy("user_id", "sid").agg(
        F.min("ts_us").alias("s_start"),
        (F.max("ts_us") + _GAP_US).alias("s_end"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        (F.col("ts_us") - _ERRWIN_US).alias("b_start"),
        (F.col("ts_us") + _ERRWIN_US).alias("b_end"),
    )
    pairs = interval_overlap_join(
        sessions.drop("sid"),
        errors,
        left_start="s_start",
        left_end="s_end",
        right_start="b_start",
        right_end="b_end",
        by=["user_id"],
        bucket_width=2 * _ERRWIN_US,
    )
    return pairs.select(
        "user_id",
        "s_start",
        "error_id",
        (
            F.least("s_end", "b_end") - F.greatest("s_start", "b_start")
        ).alias("overlap_us"),
    )


_SESSION_OVERLAP_SQL = f"""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
), f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts_us - prev >= {_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM o
), g AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
), s AS (
  SELECT user_id, MIN(ts_us) AS s_start, MAX(ts_us) + {_GAP_US} AS s_end
  FROM g GROUP BY user_id, sid
), e AS (
  SELECT event_id AS error_id, user_id,
         epoch_us(ts) - {_ERRWIN_US} AS b_start,
         epoch_us(ts) + {_ERRWIN_US} AS b_end
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.s_start, e.error_id,
       LEAST(s.s_end, e.b_end) - GREATEST(s.s_start, e.b_start) AS overlap_us
FROM s JOIN e ON s.user_id = e.user_id
             AND s.s_start <= e.b_end AND e.b_start <= s.s_end
"""


_GRID_US = 21_600_000_000  # 6 h gap-fill grid


def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean of ``value`` (each sample holds until
    the next — timeseries ``time_weight('locf')`` parity).  Events are
    pre-aggregated to unique (user, ts) so the weighting is
    deterministic."""
    from ..operators.temporal import time_weighted_avg

    ev = (
        _events_us(spark, sf_dir)
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("value"))
    )
    return time_weighted_avg(ev, ts_col="ts_us", value_col="value", by="user_id")


_TWA_SQL = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS value
  FROM events GROUP BY 1, 2
), g AS (
  SELECT user_id, ts_us,
         CAST(value AS DECIMAL(18,6)) *
         (LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) - ts_us) AS wv
  FROM u
)
SELECT user_id,
       ROUND(CAST(SUM(wv) AS DOUBLE) / (MAX(ts_us) - MIN(ts_us)), 6) AS twa,
       MAX(ts_us) - MIN(ts_us) AS span
FROM g GROUP BY user_id
HAVING MAX(ts_us) > MIN(ts_us)
"""


def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour-grid LOCF gap fill of ``value`` — the
    regularize-an-irregular-series surface (timeseries-DB
    gapfill/interpolate).  Unique (user, ts) pre-aggregation keeps the
    carried value deterministic."""
    from ..operators.temporal import gap_fill_locf

    ev = (
        _events_us(spark, sf_dir)
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("value"))
    )
    return gap_fill_locf(
        ev, ts_col="ts_us", value_col="value", by="user_id", step=_GRID_US
    )


_GAP_FILL_SQL = f"""
WITH u AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS value
  FROM events GROUP BY 1, 2
), b AS (
  SELECT user_id,
         (MIN(ts_us) + {_GRID_US} - 1) // {_GRID_US} AS lo,
         MAX(ts_us) // {_GRID_US} AS hi
  FROM u GROUP BY user_id
), grid AS (
  SELECT user_id, UNNEST(generate_series(lo, hi)) * {_GRID_US} AS ts_us
  FROM b WHERE lo <= hi
)
SELECT g.user_id, g.ts_us,
       (SELECT u.value FROM u
        WHERE u.user_id = g.user_id AND u.ts_us <= g.ts_us
        ORDER BY u.ts_us DESC LIMIT 1) AS value
FROM grid g
"""


def events_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 12-hour inactivity gap AND a 48-hour
    maximum session duration (``operators/temporal.sessionize_capped``,
    Arrow-batched per-user kernel — the duration cap is a sequential
    recurrence windowed SQL can't express).  Thresholds sit inside the
    fixture's inter-event gap distribution (median ~7 h) so BOTH rules
    actually fire.  Oracle: a DuckDB recursive CTE carrying the running
    session start through the per-user event sequence."""
    ev = _events_us(spark, sf_dir)
    return sessionize_capped(ev, gap_s=43_200, max_duration_s=172_800)


_SESSION_CAPPED_SQL = """
WITH RECURSIVE
ev AS (
  SELECT user_id, epoch_us(ts) AS t,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
  FROM events
),
r AS (
  SELECT user_id, rn, t, t AS sess_start FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.t,
         CASE WHEN e.t - r.t > 43200000000 OR e.t - r.sess_start > 172800000000
              THEN e.t ELSE r.sess_start END
  FROM ev e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, sess_start AS session_start, MAX(t) AS session_end,
       COUNT(*) AS n_events, MAX(t) - sess_start AS duration_us
FROM r GROUP BY user_id, sess_start
"""


def events_blackout_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping ±30-minute error blackout windows per user coalesced
    into maximal disjoint spans (``operators/temporal.merge_intervals``
    — gaps-and-islands, no self-join).  The downstream exclusion join
    then probes ONE interval per span instead of one per error."""
    ev = _events_us(spark, sf_dir)
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        (F.col("ts_us") - _BLACKOUT_US).alias("lo"),
        (F.col("ts_us") + _BLACKOUT_US).alias("hi"),
    )
    return merge_intervals(iv, by=["user_id"])


_BLACKOUT_MERGED_SQL = f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) - {_BLACKOUT_US} AS lo,
         epoch_us(ts) + {_BLACKOUT_US} AS hi
  FROM events WHERE event_type = 'error'
),
flagged AS (
  SELECT user_id, lo, hi,
         CASE WHEN lo > MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, lo, hi,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY lo, hi
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, MIN(lo) AS lo, MAX(hi) AS hi, COUNT(*) AS n_merged
FROM islands GROUP BY user_id, island
"""


register(events_session_capped, _SESSION_CAPPED_SQL)
register(events_blackout_merged, _BLACKOUT_MERGED_SQL)
register(events_asof_purchase, _ASOF_SQL)
register(events_error_blackout, _BLACKOUT_SQL)
register(events_session_error_overlap, _SESSION_OVERLAP_SQL)
register(events_time_weighted_value, _TWA_SQL)
register(events_gap_fill_locf, _GAP_FILL_SQL)


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent click within a 24-hour lookback — the as-of join's
    ``tolerance`` path (matches farther than the window null out)
    under a full oracle.  Purchase value rides through so the output
    is an attributed-revenue table.  Clicks are pre-aggregated to
    unique (user, ts) for deterministic carry."""
    ev = _events_us(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", F.col("value").alias("revenue")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(
        purchases,
        clicks,
        on="ts_us",
        by="user_id",
        value_cols=["click_id"],
        tolerance=86_400_000_000,  # 24 h in micros
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.round("revenue", 6).alias("revenue"),
        "click_id",
        (F.col("ts_us") - F.col("_asof_on")).alias("lag_us"),
    )


_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS revenue
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
m AS (
  SELECT p.event_id, p.user_id, p.ts_us, p.revenue,
         c.click_id, c.ts_us AS click_ts,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts_us DESC, c.click_id) AS rn
  FROM p LEFT JOIN c
    ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
)
SELECT event_id, user_id, ts_us, ROUND(revenue, 6) AS revenue,
       CASE WHEN ts_us - click_ts <= 86400000000 THEN click_id END AS click_id,
       CASE WHEN ts_us - click_ts <= 86400000000 THEN ts_us - click_ts END AS lag_us
FROM m WHERE rn = 1 OR rn IS NULL
"""

register(events_attribution_last_touch, _ATTRIBUTION_SQL)


def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (new r7) — the fractional-credit
    complement of ``events_attribution_last_touch``: every click in
    the 24-hour lookback before a purchase shares the purchase revenue
    equally.  Per purchase: the touch count, the per-touch credit, and
    the lookback's first/last click timestamps.

    Scale shape: ZERO joins.  The touch count and first/last click
    timestamps are RANGE-frame window aggregates over the microsecond
    timestamp (frame = [ts-24h, ts-1µs]) on the per-user event
    sequence — one sort shuffle on ``user_id`` for the whole query,
    versus the purchases×clicks time-band join the naive formulation
    pays (per-user frames are bounded by per-user event counts, the
    same skew envelope as every sessionization query here)."""
    ev = _events_us(spark, sf_dir)
    is_click = (F.col("event_type") == "click").cast("long")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-86_400_000_000, -1)
    )
    n_touches = F.coalesce(F.sum(is_click).over(w), F.lit(0))
    return (
        ev.withColumn("n_touches", n_touches)
        .withColumn("first_click_us", F.min(click_ts).over(w))
        .withColumn("last_click_us", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.round("value", 6).alias("revenue"),
            "n_touches",
            F.when(
                F.col("n_touches") > 0,
                F.round(F.col("value") / F.col("n_touches"), 6),
            ).alias("credit_each"),
            "first_click_us",
            "last_click_us",
        )
    )


_ATTRIBUTION_LINEAR_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
  FROM events
),
framed AS (
  SELECT *,
         COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    OVER w, 0) AS n_touches,
         MIN(CASE WHEN event_type = 'click' THEN ts_us END) OVER w
           AS first_click_us,
         MAX(CASE WHEN event_type = 'click' THEN ts_us END) OVER w
           AS last_click_us
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts_us,
       ROUND(value, 6) AS revenue,
       CAST(n_touches AS BIGINT) AS n_touches,
       CASE WHEN n_touches > 0 THEN ROUND(value / n_touches, 6) END
         AS credit_each,
       first_click_us, last_click_us
FROM framed WHERE event_type = 'purchase'
"""

register(events_attribution_linear, _ATTRIBUTION_LINEAR_SQL)


def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution (new r10) —
    the third member of the attribution family: where last-touch gives
    the final click everything and linear splits evenly, the U-shape
    credits DISCOVERY and CLOSING — 40% to the first click in the
    24-hour lookback, 40% to the last, the middle 20% split across
    interior clicks (1 touch → 100%, 2 touches → 50/50).  Output is
    per-CLICK attributed revenue across all purchases it influenced —
    the channel-level rollup marketers actually consume.

    Cross-engine exactness: positions rank on the exact integer
    microsecond timestamp with event-id tie-breaks; per-click credits
    are DECIMAL-cast before the cross-purchase sum (order-independent)
    and the weight arithmetic is identical literal doubles.

    Scale shape: one time-band purchases×clicks join on the user_id
    shuffle key (pair frame bounded by clicks-per-user within the
    24 h lookback — the stream-stream join envelope), two
    purchase-partitioned windows over those bounded frames, one
    click-keyed credit aggregation."""
    ev = _events_us(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts_us").alias("c_us"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id"),
        F.col("ts_us").alias("b_us"),
        F.col("value"),
    )
    pairs = buys.join(clicks, "user_id").filter(
        (F.col("c_us") >= F.col("b_us") - 86_400_000_000)
        & (F.col("c_us") <= F.col("b_us") - 1)
    )
    wb = Window.partitionBy("buy_id")
    wo = wb.orderBy(F.col("c_us").asc(), F.col("click_id").asc())
    pos = F.row_number().over(wo)
    n = F.count(F.lit(1)).over(wb)
    weight = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when(pos == 1, F.lit(0.4))
        .when(pos == n, F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    credited = pairs.select(
        "click_id",
        "user_id",
        (F.col("value") * weight).cast("decimal(28,12)").alias("credit"),
    )
    return credited.groupBy("click_id", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(F.sum("credit").cast("double"), 6).alias("attributed_revenue"),
    )


_ATTRIBUTION_POSITION_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
  FROM events
),
pairs AS (
  SELECT b.event_id AS buy_id, c.event_id AS click_id, b.user_id,
         c.ts_us AS c_us, b.value
  FROM ev b JOIN ev c
    ON b.user_id = c.user_id
   AND b.event_type = 'purchase' AND c.event_type = 'click'
   AND c.ts_us >= b.ts_us - 86400000000 AND c.ts_us <= b.ts_us - 1
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY buy_id
                            ORDER BY c_us, click_id) AS pos,
         COUNT(*) OVER (PARTITION BY buy_id) AS n
  FROM pairs
),
credited AS (
  SELECT click_id, user_id,
         -- every branch CAST to DOUBLE: DuckDB parses 0.4 as DECIMAL
         -- and would divide 0.2/(n-2) in decimal arithmetic, diverging
         -- from Spark's double path
         CAST(value * (CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                            WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                            WHEN pos = 1 THEN CAST(0.4 AS DOUBLE)
                            WHEN pos = n THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.2 AS DOUBLE) / (n - 2) END)
              AS DECIMAL(28,12)) AS credit
  FROM ranked
)
SELECT click_id, user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS attributed_revenue
FROM credited GROUP BY 1, 2
"""

register(events_attribution_position, _ATTRIBUTION_POSITION_SQL)
