"""Round-10 wave-8 differentials: log-rank test, Spearman midranks,
Mann-Whitney rank sum, BFS reachability closure and burstiness
census — each pinned against a pure-Python replay on the sf0.001
fixtures.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def _gap_frame(spark, sf_dir):
    """(dur_days, event, g1) per inter-order gap — the shared KM frame."""
    orders = sorted(
        load_table(spark, sf_dir, "orders").collect(),
        key=lambda r: (r.o_custkey, r.o_orderdate, r.o_orderkey),
    )
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    maxd = max(r.o_orderdate for r in orders)
    per_cust: dict[int, list] = defaultdict(list)
    for r in orders:
        per_cust[r.o_custkey].append(r.o_orderdate)
    out = []
    for ck, dates in per_cust.items():
        g1 = 1 if seg[ck] == "BUILDING" else 0
        for i, d in enumerate(dates):
            if i + 1 < len(dates):
                out.append(((dates[i + 1] - d).days, 1, g1))
            else:
                out.append(((maxd - d).days, 0, g1))
    return out


def test_logrank_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["customer_logrank_test"](spark, sf_dir).collect()[0]
    durs = _gap_frame(spark, sf_dir)
    bins: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for dur, event, g1 in durs:
        b = bins[dur // 7]
        b[0] += event * g1
        b[1] += event
        b[2] += g1
        b[3] += 1
    n1 = sum(b[2] for b in bins.values())
    n = sum(b[3] for b in bins.values())
    u = v = 0.0
    e1 = e0 = 0
    for t in sorted(bins):
        d1, d, x1, x = bins[t]
        if d > 0:
            u += d1 - d * n1 / n
            if n > 1:
                v += d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1)
            e1 += d1
            e0 += d - d1
        n1 -= x1
        n -= x
    assert got.events_g1 == e1 and got.events_g0 == e0
    assert abs(got.observed_minus_expected - round(u, 4)) < 1e-9
    assert abs(got.chi2 - round(u * u / v, 4)) < 1e-6
    assert got.significant == (round(u * u / v, 4) > 3.8415)


def test_spearman_matches_python_replay(spark, sf_dir):
    from decimal import Decimal

    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.n_name: (r.n_weeks, r.spearman_rho)
        for r in QUERIES["nation_weekly_spearman"](
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
        key = (nat[cust[r.o_custkey]], iso[1], r.o_orderdate.year)
        wk[key][0] += 1
        wk[key][1] += Decimal(str(round(r.o_totalprice, 2)))
    by_nation: dict[str, list] = defaultdict(list)
    for (name, _w, _y), (cnt, rev) in wk.items():
        by_nation[name].append((cnt, rev))

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        rk = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            for k in range(i, j):
                rk[order[k]] = (i + 1 + j) / 2.0
            i = j
        return rk

    for name, pairs in by_nation.items():
        ra = midranks([p[0] for p in pairs])
        rb = midranks([p[1] for p in pairs])
        nw = len(pairs)
        ma, mb = sum(ra) / nw, sum(rb) / nw
        cov = sum((a - ma) * (b - mb) for a, b in zip(ra, rb))
        sa = math.sqrt(sum((a - ma) ** 2 for a in ra))
        sb = math.sqrt(sum((b - mb) ** 2 for b in rb))
        assert got[name][0] == nw, name
        if sa * sb == 0:
            assert got[name][1] is None, name
        else:
            assert abs(got[name][1] - round(cov / (sa * sb), 6)) < 1e-5, name


def test_mann_whitney_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_mann_whitney"](spark, sf_dir).collect()[0]
    rows = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r.value is not None
    ]
    vmax = max(r.value for r in rows)
    binned = []
    for r in rows:
        b = min(int(r.value / vmax * 256), 255)
        is_a = hashlib.md5(str(r.user_id).encode()).hexdigest()[0] in "01234567"
        binned.append((b, is_a))
    per_bin: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for b, is_a in binned:
        per_bin[b][0 if is_a else 1] += 1
    na = sum(v[0] for v in per_bin.values())
    nb = sum(v[1] for v in per_bin.values())
    ra = 0.0
    cum = 0
    ties = 0
    for b in sorted(per_bin):
        a, bb = per_bin[b]
        n = a + bb
        ra += a * (cum + (n + 1) / 2.0)
        ties += n * (n * n - 1)
        cum += n
    u = ra - na * (na + 1) / 2.0
    ntot = na + nb
    var = na * nb / 12.0 * ((ntot + 1) - ties / (ntot * (ntot - 1)))
    z = (u - na * nb / 2.0) / math.sqrt(var)
    assert (got.n_a, got.n_b) == (na, nb)
    assert abs(got.u_stat - u) < 1e-6
    assert abs(got.zscore - round(z, 4)) < 1e-6
    assert got.significant == (abs(round(z, 4)) > 1.96)


def test_reachability_matches_bfs_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        (r.src, r.dst): r.hops
        for r in QUERIES["event_type_reachability"](spark, sf_dir).collect()
    }
    rows = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda r: (
            r.user_id,
            r.ts.replace(microsecond=r.ts.microsecond // 1000 * 1000),
            r.event_id,
        ),
    )
    edges = set()
    prev: dict[int, str] = {}
    for r in rows:
        if r.user_id in prev:
            edges.add((prev[r.user_id], r.event_type))
        prev[r.user_id] = r.event_type
    adj: dict[str, set] = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    # plain BFS, hop-bounded at 6
    expect = {}
    for s in {e[0] for e in edges}:
        dist = {}
        frontier = {s}
        for h in range(1, 7):
            nxt = set()
            for f in frontier:
                nxt |= adj.get(f, set())
            nxt = {d for d in nxt if (s, d) not in dist}
            for d in nxt:
                dist[(s, d)] = h
            frontier = nxt
        expect.update(dist)
    assert got == expect


def test_burstiness_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.activity_band: (r.n_users, r.avg_burstiness, r.avg_cv)
        for r in QUERIES["events_interarrival_burstiness"](
            spark, sf_dir
        ).collect()
    }
    rows = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda r: (
            r.user_id,
            r.ts.replace(microsecond=r.ts.microsecond // 1000 * 1000),
            r.event_id,
        ),
    )
    per_user: dict[int, list[int]] = defaultdict(list)
    for r in rows:
        ts = r.ts.replace(microsecond=r.ts.microsecond // 1000 * 1000)
        per_user[r.user_id].append(int(ts.timestamp() * 1_000_000))
    bands: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
    for us in per_user.values():
        gaps = [b - a for a, b in zip(us, us[1:])]
        if len(gaps) < 2:
            continue
        n = len(gaps)
        mu = sum(gaps) / n
        var = sum(g * g for g in gaps) / n - mu * mu
        sigma = math.sqrt(max(var, 0.0))
        b = round((sigma - mu) / (sigma + mu), 6)
        cv = round(sigma / mu, 6)
        band = "02-09" if n < 10 else ("10-99" if n < 100 else "100+")
        bands[band][0] += 1
        bands[band][1] += b
        bands[band][2] += cv
    expect = {
        band: (cnt, round(sb / cnt, 6), round(sc / cnt, 6))
        for band, (cnt, sb, sc) in bands.items()
    }
    assert set(got) == set(expect)
    for band in expect:
        assert got[band][0] == expect[band][0], band
        assert abs(got[band][1] - expect[band][1]) < 1e-5, band
        assert abs(got[band][2] - expect[band][2]) < 1e-5, band
