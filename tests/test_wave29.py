"""Round-10 wave-12 differentials: Holt-Winters kernel, diff-in-diff,
conversion paths, GROUP BY ALL — pure-Python replays on sf0.001.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from decimal import Decimal

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_holt_winters_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.event_type: r
        for r in QUERIES["events_holt_winters_daily"](
            spark, sf_dir
        ).collect()
    }
    daily: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is not None:
            daily[r.event_type][r.ts.date()] += 1
    for et, dd in daily.items():
        y = [float(dd[d]) for d in sorted(dd)]
        if len(y) < 14:
            assert et not in got
            continue
        l = sum(y[0:7]) / 7
        b = (sum(y[7:14]) / 7 - sum(y[0:7]) / 7) / 7
        s = [y[p] - l for p in range(7)]
        esum, en = 0.0, 0
        for t in range(7, len(y)):
            pos = t % 7
            sold = s[pos]
            esum += abs(y[t] - (l + b + sold))
            en += 1
            lnew = 0.3 * (y[t] - sold) + 0.7 * (l + b)
            bnew = 0.05 * (lnew - l) + 0.95 * b
            s[pos] = 0.2 * (y[t] - lnew) + 0.8 * sold
            l, b = lnew, bnew
        r = got[et]
        assert r.n_points == len(y), et
        assert abs(r.level - round(l, 6)) < 1e-9, et
        assert abs(r.trend - round(b, 6)) < 1e-9, et
        assert abs(r.forecast_next - round(l + b + s[len(y) % 7], 6)) < 1e-9, et
        assert abs(r.mae - round(esum / en, 6)) < 1e-9, et


def test_diff_in_diff_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_diff_in_diff"](spark, sf_dir).collect()[0]
    rows = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r.ts is not None and r.value is not None
    ]
    us = [int(r.ts.timestamp() * 1_000_000) for r in rows]
    t0, t1 = min(us), max(us)
    cells: dict[tuple, list] = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    for r, u in zip(rows, us):
        cohort = (
            "A"
            if hashlib.md5(str(r.user_id).encode()).hexdigest()[0]
            in "01234567"
            else "B"
        )
        period = "early" if u * 2 <= t0 + t1 else "late"
        c = cells[(cohort, period)]
        c[0] += 1
        c[1] += Decimal(str(round(r.value, 6)))
        c[2] += Decimal(str(round(r.value * r.value, 8)))

    def mean(k):
        n, sv, _ = cells[k]
        return float(sv) / n

    did = (mean(("B", "late")) - mean(("B", "early"))) - (
        mean(("A", "late")) - mean(("A", "early"))
    )
    assert abs(got.a_early - round(mean(("A", "early")), 6)) < 1e-6
    assert abs(got.b_late - round(mean(("B", "late")), 6)) < 1e-6
    assert abs(got.did_estimate - round(did, 6)) < 1e-6
    assert got.significant in (True, False)


def test_conversion_paths_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.path: r.n_users
        for r in QUERIES["events_conversion_paths"](
            spark, sf_dir
        ).collect()
    }
    per_user: dict[int, list] = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is None:
            continue
        ms = r.ts.replace(microsecond=r.ts.microsecond // 1000 * 1000)
        k = int(ms.timestamp() * 1000) * 1_000_000 + r.event_id
        per_user[r.user_id].append((k, r.event_type))
    expect: dict[str, int] = defaultdict(int)
    for evs in per_user.values():
        evs.sort()
        pk = next((k for k, t in evs if t == "purchase"), None)
        if pk is None:
            continue
        pre = [t for k, t in evs if k < pk][-3:]
        if pre:
            expect[">".join(pre)] += 1
    assert got == dict(expect)


def test_groupby_all_equals_explicit_grouping(spark, sf_dir):
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        (r.yr, r.o_orderpriority): (r.n_orders, r.revenue)
        for r in QUERIES["groupby_all_revenue"](
            spark, sf_dir
        ).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    manual = (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), "o_orderpriority"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("rev"),
        )
        .collect()
    )
    expect = {(r.yr, r.o_orderpriority): (r.n, r.rev) for r in manual}
    assert got == expect and got
