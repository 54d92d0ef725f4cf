"""Unit + oracle tests for the temporal join operators (as-of, interval)."""

from __future__ import annotations

import pytest

from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
    asof_join,
    interval_point_join,
)

from test_oracle import oracle_test, test_registry_keys_align  # noqa: F401


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 15, "d"), (3, 5, "e")],
        "k int, t int, payload string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 25, 2.0), (2, 16, 3.0)],
        "k int, t int, v double",
    )
    return left, right


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_asof_backward_inclusive(spark, frames):
    left, right = frames
    out = asof_join(left, right, on="t", by="k", value_cols=["v"])
    got = {(r.k, r.t, r.payload): (r.v, r._asof_on) for r in out.collect()}
    assert got == {
        (1, 10, "a"): (1.0, 10),  # inclusive: equal ts matches
        (1, 20, "b"): (1.0, 10),
        (1, 30, "c"): (2.0, 25),
        (2, 15, "d"): (None, None),  # right is later only
        (3, 5, "e"): (None, None),  # no right rows for k=3
    }


def test_asof_backward_strict(spark, frames):
    left, right = frames
    out = asof_join(left, right, on="t", by="k", value_cols=["v"], inclusive=False)
    got = {(r.k, r.t): r.v for r in out.collect()}
    assert got[(1, 10)] is None  # strict: equal ts no longer matches
    assert got[(1, 20)] == 1.0


def test_asof_forward(spark, frames):
    left, right = frames
    out = asof_join(left, right, on="t", by="k", value_cols=["v"], direction="forward")
    got = {(r.k, r.t): (r.v, r._asof_on) for r in out.collect()}
    assert got == {
        (1, 10): (1.0, 10),
        (1, 20): (2.0, 25),
        (1, 30): (None, None),
        (2, 15): (3.0, 16),
        (3, 5): (None, None),
    }


def test_asof_tolerance(spark, frames):
    left, right = frames
    out = asof_join(left, right, on="t", by="k", value_cols=["v"], tolerance=5)
    got = {(r.k, r.t): r.v for r in out.collect()}
    assert got[(1, 10)] == 1.0  # gap 0 <= 5
    assert got[(1, 20)] is None  # gap 10 > 5 -> nulled
    assert got[(1, 30)] == 2.0  # gap 5 <= 5


def test_interval_point_join_bounds(spark):
    points = spark.createDataFrame(
        [(1, 100, "p1"), (1, 150, "p2"), (1, 201, "p3"), (2, 100, "p4")],
        "k int, t long, pid string",
    )
    intervals = spark.createDataFrame(
        [(1, 100, 200, "i1"), (1, 140, 160, "i2"), (3, 0, 1000, "i3")],
        "k int, lo long, hi long, iid string",
    )
    out = interval_point_join(
        points, intervals, point_ts="t", start="lo", end="hi", by=["k"], bucket_width=50
    )
    pairs = {(r.pid, r.iid) for r in out.collect()}
    # inclusive bounds, no duplicate pairs despite intervals spanning buckets
    assert pairs == {("p1", "i1"), ("p2", "i1"), ("p2", "i2")}
    assert out.count() == 3


test_temporal_matches_oracle = oracle_test("temporal")


from hypothesis import given, settings, strategies as st


@st.composite
def _asof_case(draw):
    keys = st.integers(0, 3)
    ts = st.integers(0, 50)
    left = draw(
        st.lists(st.tuples(keys, ts), min_size=1, max_size=25)
    )
    right_kt = draw(
        st.lists(st.tuples(keys, ts), min_size=1, max_size=25, unique=True)
    )
    right = [(k, t, float(i)) for i, (k, t) in enumerate(right_kt)]
    return left, right


@settings(max_examples=12, deadline=None)
@given(_asof_case())
def test_asof_matches_pandas_merge_asof(spark, case):
    """Property: backward-inclusive asof_join ≡ pandas merge_asof on
    arbitrary key/timestamp multisets (right side unique per (k,t))."""
    import pandas as pd

    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k int, t int, lid int"
    )
    right = spark.createDataFrame(right_rows, "k int, t int, v double")
    got = {
        (r.lid): (r.v, r._asof_on)
        for r in asof_join(left, right, on="t", by="k", value_cols=["v"]).collect()
    }
    lpd = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], columns=["k", "t", "lid"]
    ).sort_values("t", kind="stable")
    rpd = pd.DataFrame(right_rows, columns=["k", "t", "v"]).sort_values(
        "t", kind="stable"
    )
    want_df = pd.merge_asof(
        lpd, rpd.rename(columns={"t": "rt"}), left_on="t", right_on="rt",
        by="k", direction="backward",
    )
    for row in want_df.itertuples():
        v = None if pd.isna(row.v) else row.v
        rt = None if pd.isna(row.rt) else int(row.rt)
        assert got[row.lid] == (v, rt), (row.lid, got[row.lid], (v, rt))


@st.composite
def _interval_case(draw):
    keys = st.integers(0, 2)
    pts = draw(st.lists(st.tuples(keys, st.integers(0, 100)), max_size=20))
    ivs = draw(
        st.lists(
            st.tuples(keys, st.integers(0, 100), st.integers(0, 40)), max_size=10
        )
    )
    return pts, [(k, lo, lo + w) for k, lo, w in ivs]


@settings(max_examples=10, deadline=None)
@given(_interval_case(), st.sampled_from([7, 25, 60]))
def test_interval_join_matches_naive(spark, case, width):
    """Property: bucketed interval join ≡ naive non-equi join for any
    bucket width."""
    pts_rows, iv_rows = case
    if not pts_rows or not iv_rows:
        return
    pts = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(pts_rows)], "k int, t long, pid int"
    )
    ivs = spark.createDataFrame(
        [(k, lo, hi, i) for i, (k, lo, hi) in enumerate(iv_rows)],
        "k int, lo long, hi long, iid int",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_point_join(
            pts, ivs, point_ts="t", start="lo", end="hi", by=["k"], bucket_width=width
        ).collect()
    }
    want = {
        (i, j)
        for i, (pk, t) in enumerate(pts_rows)
        for j, (ik, lo, hi) in enumerate(iv_rows)
        if pk == ik and lo <= t <= hi
    }
    assert got == want


@st.composite
def _overlap_case(draw):
    keys = st.integers(0, 2)
    mk = st.lists(
        st.tuples(keys, st.integers(0, 100), st.integers(0, 40)), max_size=12
    )
    left = [(k, lo, lo + w) for k, lo, w in draw(mk)]
    right = [(k, lo, lo + w) for k, lo, w in draw(mk)]
    return left, right


@settings(max_examples=10, deadline=None)
@given(_overlap_case(), st.sampled_from([7, 25, 60]))
def test_overlap_join_matches_naive(spark, case, width):
    """Bucketed overlap join == naive O(n*m) overlap predicate, with
    exactly one emission per pair (the overlap-start-bucket rule)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
        interval_overlap_join,
    )

    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(k, lo, hi, i) for i, (k, lo, hi) in enumerate(left_rows)],
        "k int, ls long, le long, lid int",
    )
    right = spark.createDataFrame(
        [(k, lo, hi, i) for i, (k, lo, hi) in enumerate(right_rows)],
        "k int, rs long, re long, rid int",
    )
    rows = interval_overlap_join(
        left,
        right,
        left_start="ls",
        left_end="le",
        right_start="rs",
        right_end="re",
        by=["k"],
        bucket_width=width,
    ).collect()
    got = [(r.lid, r.rid) for r in rows]
    want = {
        (i, j)
        for i, (lk, ls, le) in enumerate(left_rows)
        for j, (rk, rs, re) in enumerate(right_rows)
        if lk == rk and ls <= re and rs <= le
    }
    assert set(got) == want
    assert len(got) == len(want), "pair emitted more than once"


def test_time_weighted_avg_holds_until_next(spark):
    """v=10 for 3 ticks then v=40 for 1 tick → TWA (10*3+40*1)/4 = 17.5;
    the last sample (v=99) carries no weight; single-sample keys drop."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
        time_weighted_avg,
    )

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 3, 40.0), (1, 4, 99.0), (2, 7, 5.0)],
        "k int, t long, v double",
    )
    rows = {
        r.k: (r.twa, r.span)
        for r in time_weighted_avg(df, ts_col="t", value_col="v", by="k").collect()
    }
    assert rows == {1: (17.5, 4)}


def test_gap_fill_locf_grid_and_carry(spark):
    """Grid starts at the first aligned point >= first sample; value is
    the latest sample at-or-before each grid point (exact-hit wins)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
        gap_fill_locf,
    )

    df = spark.createDataFrame(
        [(1, 5, 1.0), (1, 20, 2.0), (1, 37, 3.0), (2, 10, 7.0)],
        "k int, t long, v double",
    )
    got = {
        (r.k, r.t): r.v
        for r in gap_fill_locf(
            df, ts_col="t", value_col="v", by="k", step=10
        ).collect()
    }
    assert got == {
        (1, 10): 1.0,  # carried from t=5
        (1, 20): 2.0,  # exact hit
        (1, 30): 2.0,  # carried from t=20
        (2, 10): 7.0,  # exact hit at the only grid point
    }


def test_anomaly_zscore_flags_planted_spike(spark, sf_dir):
    """A synthetic hourly series with one 10x spike: only the spike hour
    is flagged, and warm-up hours (no trailing history) are unflagged."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hour in range(48):
        n = 100 if hour != 40 else 1000  # flat series, one spike
        n += hour % 3  # mild jitter so sigma > 0
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=hour), 1, "click", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # same expressions as plans.events.events_anomaly_zscore, driven over
    # the planted frame instead of the fixture dir
    from pyspark.sql import Window

    hourly = df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    scored = hourly.select(
        "h",
        "n_events",
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sigma"),
    ).collect()
    flagged = [
        r.h.hour + (r.h.day - 1) * 24
        for r in scored
        if r.sigma and abs((r.n_events - r.mu) / r.sigma) > 2
    ]
    assert 40 in flagged
    assert all(h >= 2 for h in flagged), flagged


def test_sessionize_capped_duration_splits_continuous_stream(spark):
    """Events every 10 min for 3 h with a 30-min gap allowance: the
    gap rule alone would yield ONE session; a 1-hour cap must split it
    into three."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
        sessionize_capped,
    )

    base = 1_700_000_000_000_000  # epoch micros
    rows = [(1, base + i * 600_000_000) for i in range(19)]  # 0..180 min
    ev = spark.createDataFrame(rows, "user_id long, ts_us long")
    sessions = sorted(
        (r.session_start, r.n_events, r.duration_us)
        for r in sessionize_capped(ev, gap_s=1800, max_duration_s=3600).collect()
    )
    # break occurs when an event stretches past 60 min from the start:
    # events at 0..60min inclusive stay (7 events), next session starts
    # at 70min with events 70..130 (7), last 140..180 (5)
    assert [n for _, n, _ in sessions] == [7, 7, 5]
    assert all(d <= 3_600_000_000 for _, _, d in sessions)
    # and without the cap it is one session
    uncapped = sessionize_capped(ev, gap_s=1800, max_duration_s=10**9).collect()
    assert len(uncapped) == 1 and uncapped[0].n_events == 19


def test_merge_intervals_coalesces_overlaps_and_touches(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
        merge_intervals,
    )

    iv = spark.createDataFrame(
        [
            (1, 0, 10), (1, 5, 20), (1, 20, 30),   # chain: overlap + touch
            (1, 40, 50),                            # disjoint
            (2, 0, 100), (2, 10, 20),               # contained
        ],
        "k long, lo long, hi long",
    )
    got = {
        (r.k, r.lo, r.hi, r.n_merged)
        for r in merge_intervals(iv, by=["k"]).collect()
    }
    assert got == {(1, 0, 30, 3), (1, 40, 50, 1), (2, 0, 100, 2)}
