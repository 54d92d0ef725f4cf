"""Round-10 wave-11 differentials: Hill tail index, Wald-Wolfowitz
runs test, time-to-convert census, Kendall tau-b — pure-Python replays
on sf0.001.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_hill_tail_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_value_hill_tail"](spark, sf_dir).collect()[0]
    vals = sorted(
        (
            (r.value, r.event_id)
            for r in load_table(spark, sf_dir, "events").collect()
            if r.value is not None and r.value > 0
        ),
        key=lambda t: (-t[0], t[1]),
    )[:200]
    xk = min(v for v, _ in vals)
    logs = [math.log(v / xk) for v, _ in vals if v > xk]
    alpha = len(logs) / sum(logs)
    assert got.k == 200
    assert abs(got.x_k - round(xk, 6)) < 1e-9
    assert abs(got.hill_alpha - round(alpha, 6)) < 1e-5
    assert got.hill_alpha > 0


def test_runs_test_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_runs_test_daily"](spark, sf_dir).collect()[0]
    daily: dict = defaultdict(Decimal)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is not None and r.value is not None:
            daily[r.ts.date()] += Decimal(str(round(r.value, 6)))
    seq = [daily[d] for d in sorted(daily)]
    ups = []
    for a, b in zip(seq, seq[1:]):
        if b != a:
            ups.append(1 if b > a else 0)
    n1, n2 = sum(ups), len(ups) - sum(ups)
    runs = 1 + sum(1 for a, b in zip(ups, ups[1:]) if a != b)
    n = n1 + n2
    mu = 2 * n1 * n2 / n + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / (n * n * (n - 1))
    z = (runs - mu) / math.sqrt(var)
    assert (got.n_up, got.n_down, got.runs) == (n1, n2, runs)
    assert abs(got.zscore - round(z, 4)) < 1e-6
    assert got.looks_random == (abs(round(z, 4)) <= 1.96)


def test_time_to_convert_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.days: (r.n_users, r.cum_share)
        for r in QUERIES["events_time_to_convert"](
            spark, sf_dir
        ).collect()
    }

    def us(ts):
        t = ts.replace(microsecond=ts.microsecond // 1000 * 1000)
        return int(t.timestamp() * 1_000_000)

    su: dict[int, int] = {}
    purchases: dict[int, list[int]] = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is None:
            continue
        if r.event_type == "signup":
            su[r.user_id] = min(su.get(r.user_id, 1 << 62), us(r.ts))
        elif r.event_type == "purchase":
            purchases[r.user_id].append(us(r.ts))
    bins: dict[int, int] = defaultdict(int)
    for u, s in su.items():
        after = [p for p in purchases.get(u, ()) if p >= s]
        if after:
            bins[(min(after) - s) // 86_400_000_000] += 1
    total = sum(bins.values())
    cum = 0
    expect = {}
    for d in sorted(bins):
        cum += bins[d]
        expect[d] = (bins[d], round(cum / total, 6))
    assert set(got) == set(expect)
    for d in expect:
        assert got[d][0] == expect[d][0], d
        assert abs(got[d][1] - expect[d][1]) < 1e-6, d


def test_kendall_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.n_name: r
        for r in QUERIES["nation_weekly_kendall"](
            spark, sf_dir
        ).collect()
    }
    cust = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    nat = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    wk: dict[tuple, list] = defaultdict(lambda: [0, Decimal(0)])
    for r in load_table(spark, sf_dir, "orders").collect():
        iso = r.o_orderdate.isocalendar()
        key = (nat[cust[r.o_custkey]], r.o_orderdate.year * 100 + iso[1])
        wk[key][0] += 1
        wk[key][1] += Decimal(str(round(r.o_totalprice, 2)))
    by_nation: dict[str, list] = defaultdict(list)
    for (name, i), (x, y) in wk.items():
        by_nation[name].append((i, x, y))
    for name, rows in by_nation.items():
        rows.sort()
        conc = disc = tx = ty = txy = n0 = 0
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                n0 += 1
                dx = (rows[j][1] > rows[i][1]) - (rows[j][1] < rows[i][1])
                dy = (rows[j][2] > rows[i][2]) - (rows[j][2] < rows[i][2])
                if dx * dy > 0:
                    conc += 1
                elif dx * dy < 0:
                    disc += 1
                elif dx == 0 and dy == 0:
                    txy += 1
                elif dx == 0:
                    tx += 1
                else:
                    ty += 1
        den = math.sqrt((n0 - tx - txy) * (n0 - ty - txy))
        r = got[name]
        assert (r.n0, r.concordant, r.discordant) == (n0, conc, disc), name
        if den == 0:
            assert r.tau_b is None, name
        else:
            assert abs(r.tau_b - round((conc - disc) / den, 6)) < 1e-5, name
