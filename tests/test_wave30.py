"""Round-10 wave-13 differentials: Ljung-Box, Markov prediction eval,
two-way ANOVA — pure-Python replays on sf0.001.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_ljung_box_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_ljung_box"](spark, sf_dir).collect()[0]
    daily: dict = defaultdict(Decimal)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is not None and r.value is not None:
            daily[r.ts.date()] += Decimal(str(round(r.value, 6)))
    v = [float(daily[d]) for d in sorted(daily)]
    n = len(v)
    mu = sum(v) / n
    x = [a - mu for a in v]
    c0 = sum(a * a for a in x)
    q = 0.0
    for k in range(1, 8):
        ck = sum(x[t] * x[t - k] for t in range(k, n))
        rho = ck / c0
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    crit = 7 * (1 - 2 / 63 + 1.6449 * math.sqrt(2 / 63)) ** 3
    assert got.n_days == n
    assert abs(got.q_stat - round(q, 4)) < 1e-3
    assert got.serially_dependent == (round(q, 4) > round(crit, 4))


def test_markov_eval_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.src: (r.n_test, r.predicted, r.top1_accuracy)
        for r in QUERIES["events_markov_prediction_eval"](
            spark, sf_dir
        ).collect()
    }
    rows = sorted(
        (
            r
            for r in load_table(spark, sf_dir, "events").collect()
            if r.ts is not None
        ),
        key=lambda r: (
            r.user_id,
            r.ts.replace(microsecond=r.ts.microsecond // 1000 * 1000),
            r.event_id,
        ),
    )
    us = {
        id(r): int(r.ts.timestamp() * 1_000_000) for r in rows
    }
    t0 = min(us.values())
    t1 = max(us.values())
    pairs = []
    prev = {}
    for r in rows:
        if r.user_id in prev:
            pr = prev[r.user_id]
            pairs.append(
                (pr.event_type, r.event_type, us[id(pr)] * 2 <= t0 + t1)
            )
        prev[r.user_id] = r
    model: dict[tuple, int] = defaultdict(int)
    for s, d2, early in pairs:
        if early:
            model[(s, d2)] += 1
    pred = {}
    for (s, d2), n in model.items():
        cur = pred.get(s)
        if cur is None or (n, ) > (cur[1],) or (n == cur[1] and d2 < cur[0]):
            if cur is None or n > cur[1] or (n == cur[1] and d2 < cur[0]):
                pred[s] = (d2, n)
    test: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for s, d2, early in pairs:
        if not early and s in pred:
            test[s][0] += 1
            test[s][1] += d2 == pred[s][0]
    assert set(got) == set(test)
    for s, (n, hits) in test.items():
        assert got[s][0] == n, s
        assert got[s][1] == pred[s][0], s
        assert abs(got[s][2] - round(hits / n, 6)) < 1e-6, s


def test_two_way_anova_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["lineitem_two_way_anova"](
        spark, sf_dir
    ).collect()[0]
    cells: dict[tuple, list] = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    for r in load_table(spark, sf_dir, "lineitem").collect():
        c = cells[(r.l_returnflag, r.l_linestatus)]
        p = Decimal(str(round(r.l_extendedprice, 2)))
        c[0] += 1
        c[1] += p
        c[2] += Decimal(str(round(r.l_extendedprice * r.l_extendedprice, 4)))
    n_tot = sum(c[0] for c in cells.values())
    s_tot = sum(c[1] for c in cells.values())
    ss_tot = float(sum(c[2] for c in cells.values()))
    cm = float(s_tot) ** 2 / n_tot
    q_cell = sum(float(c[1]) ** 2 / c[0] for c in cells.values())

    def q_of(idx):
        g: dict = defaultdict(lambda: [0, Decimal(0)])
        for k, c in cells.items():
            g[k[idx]][0] += c[0]
            g[k[idx]][1] += c[1]
        return sum(float(s) ** 2 / n for n, s in g.values())

    q_a, q_b = q_of(0), q_of(1)
    ka = len({k[0] for k in cells})
    kb = len({k[1] for k in cells})
    ncells = len(cells)
    mse = (ss_tot - q_cell) / (n_tot - ncells)
    f_a = (q_a - cm) / (ka - 1) / mse
    f_b = (q_b - cm) / (kb - 1) / mse
    df_ab = ncells - ka - kb + 1
    f_ab = (q_cell - q_a - q_b + cm) / df_ab / mse if df_ab else None
    assert got.n_tot == n_tot
    assert abs(got.f_returnflag - round(f_a, 4)) < 2e-3
    assert abs(got.f_linestatus - round(f_b, 4)) < 2e-3
    if f_ab is not None:
        assert abs(got.f_interaction - round(f_ab, 4)) < 2e-3
    assert got.sig_returnflag in (True, False)
