"""Round-10 wave-14 differentials: prefix-max operator, late-arrival
audit, generated calendar dimension, deterministic mode — python
replays plus a forced-multipartition operator property on sf0.001.
"""

from __future__ import annotations

from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_running_prefix_max_multipartition(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators.stats import (
        running_prefix_max,
    )

    rows = [(i, v) for i, v in enumerate([5, 3, 9, 9, 1, 12, 2, 7, 30, 4])]
    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        r.k: r.prefix_max
        for r in running_prefix_max(df, "k", "v", num_partitions=4).collect()
    }
    best = None
    expect = {}
    for k, v in rows:
        expect[k] = best
        best = v if best is None or v > best else best
    assert got == expect


def test_late_arrival_audit_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.watermark: (r.n_events, r.n_dropped, r.dropped_share)
        for r in QUERIES["events_late_arrival_audit"](
            spark, sf_dir
        ).collect()
    }
    rows = sorted(
        (
            (
                r.event_id,
                int(
                    r.ts.replace(
                        microsecond=r.ts.microsecond // 1000 * 1000
                    ).timestamp()
                    * 1_000_000
                ),
            )
            for r in load_table(spark, sf_dir, "events").collect()
            if r.ts is not None
        )
    )
    hwm = None
    lates = []
    for _eid, us in rows:
        lates.append(max((hwm - us), 0) if hwm is not None else 0)
        hwm = us if hwm is None or us > hwm else hwm
    n = len(lates)
    for label, bound in (
        ("1h", 3_600_000_000),
        ("6h", 21_600_000_000),
        ("24h", 86_400_000_000),
    ):
        dropped = sum(1 for x in lates if x > bound)
        assert got[label][0] == n, label
        assert got[label][1] == dropped, label
        assert abs(got[label][2] - round(dropped / n, 6)) < 1e-6, label
    # the fixture is time-ordered enough that wider watermarks drop less
    assert got["24h"][1] <= got["6h"][1] <= got["1h"][1]


def test_calendar_dim_matches_python_replay(spark, sf_dir):
    import datetime as dt

    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.day: r
        for r in QUERIES["orders_calendar_dim_join"](
            spark, sf_dir
        ).collect()
    }
    daily: dict = defaultdict(int)
    for r in load_table(spark, sf_dir, "orders").collect():
        # the fixture stores o_orderdate as TIMESTAMP(us); the query
        # (correctly) emits DATE since the r10 dtype fix — replay at
        # the same grain
        d = r.o_orderdate
        daily[d.date() if isinstance(d, dt.datetime) else d] += 1
    d0, d1 = min(daily), max(daily)
    day = d0
    while day <= d1:
        r = got[day]
        iso = day.isocalendar()
        assert r.isodow == iso[2], day
        assert r.month == day.month and r.quarter == (day.month - 1) // 3 + 1
        nxt = day + dt.timedelta(days=1)
        assert r.is_month_end == (nxt.month != day.month), day
        assert r.n_orders == daily.get(day, 0), day
        day = nxt
    assert len(got) == (d1 - d0).days + 1
    # gap days exist and are zero-filled
    assert any(r.n_orders == 0 for r in got.values())


def test_mode_size_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.p_brand: (r.mode_size, r.n_mode, r.mode_share)
        for r in QUERIES["part_mode_size_by_brand"](
            spark, sf_dir
        ).collect()
    }
    counts: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in load_table(spark, sf_dir, "part").collect():
        counts[r.p_brand][r.p_size] += 1
    for brand, sizes in counts.items():
        mode = min(sizes, key=lambda s: (-sizes[s], s))
        tot = sum(sizes.values())
        assert got[brand][0] == mode, brand
        assert got[brand][1] == sizes[mode], brand
        assert abs(got[brand][2] - round(sizes[mode] / tot, 6)) < 1e-6, brand
