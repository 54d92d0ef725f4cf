"""Round-10 wave-16 differentials: growth accounting, periodogram,
nth/ignore-nulls windows — python replays on sf0.001.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_growth_accounting_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.epoch_week: r
        for r in QUERIES["events_growth_accounting"](
            spark, sf_dir
        ).collect()
    }
    weeks: dict[int, set] = defaultdict(set)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is not None:
            wk = int(r.ts.timestamp() * 1_000_000) // 604_800_000_000
            weeks[wk].add(r.user_id)
    first_week = {}
    for wk in sorted(weeks):
        for u in weeks[wk]:
            first_week.setdefault(u, wk)
    for wk in sorted(weeks):
        new = sum(1 for u in weeks[wk] if first_week[u] == wk)
        retained = sum(1 for u in weeks[wk] if u in weeks.get(wk - 1, set()))
        resurrected = len(weeks[wk]) - new - retained
        churned = len(weeks.get(wk - 1, set())) - retained
        r = got[wk]
        assert (r.active, r.new, r.retained, r.resurrected, r.churned) == (
            len(weeks[wk]),
            new,
            retained,
            resurrected,
            churned,
        ), wk
        if churned:
            assert abs(
                r.quick_ratio - round((new + resurrected) / churned, 4)
            ) < 1e-6
    # per-week identity: active = new + retained + resurrected
    for r in got.values():
        assert r.active == r.new + r.retained + r.resurrected


def test_periodogram_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.k: r.power
        for r in QUERIES["events_periodogram_daily"](
            spark, sf_dir
        ).collect()
    }
    daily: dict = defaultdict(Decimal)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is not None and r.value is not None:
            daily[r.ts.date()] += Decimal(str(round(r.value, 6)))
    v = [float(daily[d]) for d in sorted(daily)]
    n = len(v)
    mu = sum(v) / n
    x = [a - mu for a in v]
    for k in range(1, 11):
        c = sum(
            xi * math.cos(2 * math.pi * k * t / n) for t, xi in enumerate(x)
        )
        s = sum(
            xi * math.sin(2 * math.pi * k * t / n) for t, xi in enumerate(x)
        )
        p = (c * c + s * s) * 2 / n
        assert abs(got[k] - round(p, 4)) < 1e-2, k


def test_window_nth_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.o_orderkey: r
        for r in QUERIES["window_nth_ignore_nulls"](
            spark, sf_dir
        ).collect()
    }
    per_cust: dict[int, list] = defaultdict(list)
    for r in load_table(spark, sf_dir, "orders").collect():
        per_cust[r.o_custkey].append(r)
    for orders in per_cust.values():
        orders.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        prices = [round(r.o_totalprice, 2) for r in orders]
        last_urgent = None
        for i, r in enumerate(orders):
            if r.o_orderpriority in ("1-URGENT", "2-HIGH"):
                last_urgent = r.o_orderpriority
            g = got[r.o_orderkey]
            assert g.first_price == prices[0], r.o_orderkey
            expect_second = prices[1] if i >= 1 and len(prices) > 1 else None
            assert g.second_price == expect_second, r.o_orderkey
            assert g.last_urgent_priority == last_urgent, r.o_orderkey
            assert g.final_price == prices[-1], r.o_orderkey
