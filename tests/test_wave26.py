"""Round-10 wave-9 differentials: CMH stratified test, Kruskal-Wallis,
Count-Min sketch, Wasserstein drift, and the LATERAL top-k — pinned
against pure-Python replays / equivalent formulations on sf0.001.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_cmh_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["orders_cmh_returns"](spark, sf_dir).collect()[0]
    pri = {
        r.o_orderkey: r.o_orderpriority in ("1-URGENT", "2-HIGH")
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    strata: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for r in load_table(spark, sf_dir, "lineitem").collect():
        s = strata[r.l_shipdate.year]
        exposed = pri[r.l_orderkey]
        ret = r.l_returnflag == "R"
        s[0] += 1
        s[1] += exposed
        s[2] += ret
        s[3] += exposed and ret
    u = v = 0.0
    a_tot = 0
    ns = 0
    for n, r1, c1, a in strata.values():
        if n <= 1:
            continue
        ns += 1
        a_tot += a
        u += a - r1 * c1 / n
        v += r1 * (n - r1) * c1 * (n - c1) / (n * n * (n - 1))
    chi2 = (abs(u) - 0.5) ** 2 / v
    assert got.n_strata == ns and got.exposed_late == a_tot
    assert abs(got.observed_minus_expected - round(u, 4)) < 1e-9
    assert abs(got.chi2_cmh - round(chi2, 4)) < 1e-6
    assert got.significant == (round(chi2, 4) > 3.8415)


def test_kruskal_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_kruskal_wallis"](spark, sf_dir).collect()[0]
    rows = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r.value is not None
    ]
    vmax = max(r.value for r in rows)
    per: dict[tuple, int] = defaultdict(int)
    for r in rows:
        per[(r.event_type, min(int(r.value / vmax * 256), 255))] += 1
    bins: dict[int, int] = defaultdict(int)
    for (_g, b), n in per.items():
        bins[b] += n
    cum = {}
    c = 0
    for b in sorted(bins):
        cum[b] = c
        c += bins[b]
    n_tot = c
    rsum = 0.0
    groups: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for (g, b), n in per.items():
        groups[g][0] += n
        groups[g][1] += n * (2 * cum[b] + bins[b] + 1)
    for ng, r2 in groups.values():
        rsum += (r2 * r2 / 4.0) / ng
    h = 12.0 / (n_tot * (n_tot + 1)) * rsum - 3 * (n_tot + 1)
    ties = sum(n**3 - n for n in bins.values())
    hc = h / (1 - ties / (n_tot**3 - n_tot))
    dof = len(groups) - 1
    crit = dof * (1 - 2 / (9 * dof) + 1.6449 * math.sqrt(2 / (9 * dof))) ** 3
    assert got.n_groups == len(groups) and got.n_total == n_tot
    assert abs(got.h_corrected - round(hc, 4)) < 1e-6
    assert abs(got.crit_95 - round(crit, 4)) < 1e-6
    assert got.significant == (round(hc, 4) > round(crit, 4))


def test_cms_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.user_id: (r.exact_n, r.cms_n, r.overcount)
        for r in QUERIES["events_user_cms"](spark, sf_dir).collect()
    }
    pu: dict[int, int] = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").collect():
        pu[r.user_id] += 1

    def cols(u):
        h = hashlib.md5(str(u).encode()).hexdigest()
        return [int(h[2 * r : 2 * r + 2], 16) for r in range(4)]

    counters: dict[tuple, int] = defaultdict(int)
    for u, n in pu.items():
        for r, c in enumerate(cols(u)):
            counters[(r, c)] += n
    probes = sorted(pu, key=lambda u: (-pu[u], u))[:10]
    assert set(got) == set(probes)
    for u in probes:
        est = min(counters[(r, c)] for r, c in enumerate(cols(u)))
        assert got[u] == (pu[u], est, est - pu[u]), u
        assert est >= pu[u]  # CMS never undercounts


def test_wasserstein_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.event_type: (r.n_early, r.n_late, r.w1_bins, r.w1_value)
        for r in QUERIES["events_wasserstein_drift"](
            spark, sf_dir
        ).collect()
    }
    rows = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r.ts is not None and r.value is not None
    ]
    us = [int(r.ts.timestamp() * 1_000_000) for r in rows]
    t0, t1 = min(us), max(us)
    vmax = max(r.value for r in rows)
    per: dict[str, dict[int, list[int]]] = defaultdict(
        lambda: defaultdict(lambda: [0, 0])
    )
    for r, u in zip(rows, us):
        b = min(int(r.value / vmax * 256), 255)
        half = 0 if u * 2 <= t0 + t1 else 1
        per[r.event_type][b][half] += 1
    for et, bins in per.items():
        te = sum(v[0] for v in bins.values())
        tl = sum(v[1] for v in bins.values())
        ce = cl = 0
        w1 = 0.0
        for b in sorted(bins):
            ce += bins[b][0]
            cl += bins[b][1]
            w1 += abs(ce / te - cl / tl)
        assert got[et][0] == te and got[et][1] == tl, et
        assert abs(got[et][2] - round(w1, 6)) < 1e-5, et
        assert abs(got[et][3] - round(w1 * vmax / 256.0, 4)) < 1e-3, et


def test_lateral_equals_window_topk(spark, sf_dir):
    """The declarative LATERAL form must return exactly the manual
    ranked-window top-3 per qualifying customer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        (r.c_custkey, r.o_orderkey)
        for r in QUERIES["lateral_topk_orders"](
            spark, sf_dir
        ).collect()
    }
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    manual = (
        o.join(
            c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    expect = {(r.o_custkey, r.o_orderkey) for r in manual.collect()}
    assert got == expect and got
