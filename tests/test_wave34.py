"""Round-10 wave-17 differentials: user feature matrix, ABC/XYZ
segmentation — python replays on sf0.001.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_user_feature_matrix_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.user_id: r
        for r in QUERIES["events_user_feature_matrix"](
            spark, sf_dir
        ).collect()
    }
    rows = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r.ts is not None
    ]
    maxd = max(r.ts.date() for r in rows)
    per: dict[int, list] = defaultdict(list)
    for r in rows:
        per[r.user_id].append(r)
    assert set(got) == set(per)
    for u, evs in per.items():
        g = got[u]
        days = {r.ts.date() for r in evs}
        assert g.n_events == len(evs) and g.active_days == len(days)
        assert g.recency_days == min((maxd - d).days for d in days)
        assert g.age_days == max((maxd - d).days for d in days)
        assert g.n_types == len({r.event_type for r in evs})
        n_p = sum(1 for r in evs if r.event_type == "purchase")
        n_e = sum(1 for r in evs if r.event_type == "error")
        assert (g.n_purchases, g.n_errors) == (n_p, n_e)
        tv = sum(
            Decimal(str(round(r.value, 6))) for r in evs if r.value is not None
        )
        assert abs(g.total_value - round(float(tv), 4)) < 1e-6
        assert abs(g.error_rate - round(n_e / len(evs), 6)) < 1e-6


def test_abc_xyz_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        (r.abc, r.xyz): (r.n_parts, r.revenue_share)
        for r in QUERIES["part_abc_xyz"](spark, sf_dir).collect()
    }
    per: dict[int, list] = defaultdict(
        lambda: [Decimal(0), Decimal(0), Decimal(0), set()]
    )
    for r in load_table(spark, sf_dir, "lineitem").collect():
        p = per[r.l_partkey]
        p[0] += Decimal(str(round(r.l_extendedprice * (1 - r.l_discount), 4)))
        q = Decimal(str(round(r.l_quantity, 2)))
        p[1] += q
        p[2] += Decimal(str(round(r.l_quantity * r.l_quantity, 4)))
        p[3].add((r.l_shipdate.year, r.l_shipdate.month))
    rt = sum(p[0] for p in per.values())
    order = sorted(per, key=lambda k: (-per[k][0], k))
    cum = Decimal(0)
    cells: dict[tuple, list] = defaultdict(lambda: [0, Decimal(0)])
    for k in order:
        rev, sq, sqq, months = per[k]
        cum += rev
        share = float(cum) / float(rt)
        abc = "A" if share <= 0.8 else ("B" if share <= 0.95 else "C")
        nm = len(months)
        mu = float(sq) / nm
        var = max(float(sqq) / nm - mu * mu, 0.0)
        cv = math.sqrt(var) / mu
        xyz = "X" if cv <= 0.5 else ("Y" if cv <= 1.0 else "Z")
        cells[(abc, xyz)][0] += 1
        cells[(abc, xyz)][1] += rev
    assert set(got) == set(cells)
    for k, (n, rev) in cells.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - round(float(rev) / float(rt), 6)) < 1e-5, k
