"""Round-10 wave-4 differentials: the inference family (Welch t,
CUPED, one-way ANOVA), log-log elasticity, HITS, per-node clustering
coefficient, and item-item CF are each pinned against independent
pure-Python replays of the same fixture.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def _variant(user_id: int) -> str:
    h = hashlib.md5(str(user_id).encode()).hexdigest()
    return "A" if h[0] in "01234567" else "B"


def _per_user_value_sums(spark, sf_dir):
    sums: dict[int, float] = defaultdict(float)
    for r in load_table(spark, sf_dir, "events").collect():
        # decimal(18,6) cast = round half-up at 6 places; the fixture
        # values are short decimals so python round() agrees
        sums[r.user_id] += round(r.value, 6)
    return sums


def test_welch_ttest_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_welch_ttest"](spark, sf_dir).first()
    sums = _per_user_value_sums(spark, sf_dir)
    a = [v for u, v in sums.items() if _variant(u) == "A"]
    b = [v for u, v in sums.items() if _variant(u) == "B"]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = (sum(x * x for x in a) - sum(a) ** 2 / na) / (na - 1)
    vb = (sum(x * x for x in b) - sum(b) ** 2 / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    assert got.n_a == na and got.n_b == nb
    assert abs(got.mean_a - ma) < 1e-4
    assert abs(got.mean_b - mb) < 1e-4
    assert abs(got.tstat - t) < 1e-3
    assert abs(got.welch_dof - dof) < 0.05
    assert got.significant == (abs(round(t, 4)) > 1.96)
    # Welch dof is bounded by the two-sample extremes
    assert min(na, nb) - 1 <= got.welch_dof <= na + nb - 2


def test_cuped_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = {
        r.variant: r
        for r in QUERIES["events_cuped_adjusted"](spark, sf_dir).collect()
    }
    ev = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r.ts is not None
    ]
    days = [r.ts.date() for r in ev]
    d0, d1 = min(days), max(days)
    cutoff = d0 + __import__("datetime").timedelta(
        days=(d1 - d0).days // 2
    )
    x: dict[int, float] = defaultdict(float)
    y: dict[int, float] = defaultdict(float)
    users = set()
    for r in ev:
        users.add(r.user_id)
        if r.ts.date() < cutoff:
            x[r.user_id] += round(r.value, 6)
        else:
            y[r.user_id] += round(r.value, 6)
    us = sorted(users)
    n = len(us)
    xs = [x[u] for u in us]
    ys = [y[u] for u in us]
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    mean_x = sx / n
    for variant in ("A", "B"):
        vu = [u for u in us if _variant(u) == variant]
        got = rows[variant]
        assert got.n_users == len(vu)
        my = sum(y[u] for u in vu) / len(vu)
        mx = sum(x[u] for u in vu) / len(vu)
        assert abs(got.mean_post - my) < 1e-4
        assert abs(got.mean_post_adjusted - (my - theta * (mx - mean_x))) < 1e-4
        assert abs(got.theta - theta) < 1e-4
    # CUPED preserves the overall post-period mean direction: the
    # adjustment is mean-zero across ALL users by construction
    tot_users = rows["A"].n_users + rows["B"].n_users
    adj_mix = (
        rows["A"].mean_post_adjusted * rows["A"].n_users
        + rows["B"].mean_post_adjusted * rows["B"].n_users
    ) / tot_users
    raw_mix = (
        rows["A"].mean_post * rows["A"].n_users
        + rows["B"].mean_post * rows["B"].n_users
    ) / tot_users
    assert abs(adj_mix - raw_mix) < 1e-3


def test_anova_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["events_anova_value_by_type"](spark, sf_dir).first()
    groups: dict[str, list[float]] = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        groups[r.event_type].append(round(r.value, 6))
    k = len(groups)
    nn = sum(len(v) for v in groups.values())
    grand = sum(sum(v) for v in groups.values()) / nn
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    assert got.n_total == nn and got.k_groups == k
    assert abs(got.ss_between - ssb) < 0.01
    assert abs(got.ss_within - ssw) < 0.5
    assert abs(got.f_stat - f) < 1e-3
    assert got.dof_between == k - 1 and got.dof_within == nn - k


def test_hits_matches_python_power_iteration(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES, events as ev

    got = {
        r.event_type: (r.hub, r.authority)
        for r in QUERIES["event_type_hits"](spark, sf_dir).collect()
    }
    rows = sorted(
        (r for r in load_table(spark, sf_dir, "events").collect()),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    edges: dict[tuple[str, str], int] = defaultdict(int)
    by_user: dict[int, list] = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r.event_type)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            edges[(a, b)] += 1
    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 0.0 for n in nodes}
    for _ in range(ev._HITS_ROUNDS):
        raw = {n: 0.0 for n in nodes}
        for (s, d), w in edges.items():
            raw[d] += hub[s] * w
        tot = sum(raw.values())
        auth = {n: round(raw[n] / tot, 12) for n in nodes}
        raw = {n: 0.0 for n in nodes}
        for (s, d), w in edges.items():
            raw[s] += auth[d] * w
        tot = sum(raw.values())
        hub = {n: round(raw[n] / tot, 12) for n in nodes}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n][0] - hub[n]) < 1e-5, n
        assert abs(got[n][1] - auth[n]) < 1e-5, n
    # L1 normalization: each score vector sums to 1
    assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-4
    assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-4


def _copurchase_edges(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").collect()
    per_order: dict[int, set[int]] = defaultdict(set)
    for r in li:
        per_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in per_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    return edges


def test_clustering_coefficient_matches_bruteforce(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.partkey: (r.degree, r.triangles, r.lcc)
        for r in QUERIES["part_clustering_coefficient"](
            spark, sf_dir
        ).collect()
    }
    edges = _copurchase_edges(spark, sf_dir)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    assert set(got) == set(adj)
    for node, nbrs in adj.items():
        deg = len(nbrs)
        ns = sorted(nbrs)
        tri = sum(
            1
            for i in range(len(ns))
            for j in range(i + 1, len(ns))
            if ns[j] in adj[ns[i]]
        )
        lcc = round(2.0 * tri / (deg * (deg - 1)), 6) if deg >= 2 else None
        assert got[node][0] == deg, node
        assert got[node][1] == tri, node
        if deg >= 2:
            assert abs(got[node][2] - lcc) < 1e-9, node
        else:
            assert got[node][2] is None


def test_item_cf_matches_bruteforce(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = QUERIES["part_item_cf_recs"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem").collect()
    orders = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    users: dict[int, set[int]] = defaultdict(set)  # item -> customers
    for r in li:
        users[r.l_partkey].add(orders[r.l_orderkey])
    focus = sorted(users, key=lambda i: (-len(users[i]), i))[:20]
    for i in focus:
        cands = []
        for j, cu in users.items():
            if j == i:
                continue
            co = len(users[i] & cu)
            if co >= 2:
                cos = round(co / math.sqrt(len(users[i]) * len(cu)), 6)
                cands.append((-cos, -co, j))
        cands.sort()
        expect = [(-c[0], -c[1], c[2]) for c in cands[:5]]
        got = sorted(
            ((r.cosine, r.co_users, r.rec, r.rank) for r in rows if r.item == i),
            key=lambda t: t[3],
        )
        assert len(got) == len(expect)
        for (cos, co, j), (gcos, gco, gj, _) in zip(expect, got):
            assert (gcos, gco, gj) == (cos, co, j), i


def test_elasticity_matches_python_ols(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.brand: (r.n_months, r.elasticity)
        for r in QUERIES["brand_price_elasticity"](
            spark, sf_dir
        ).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").collect()
    part = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part").collect()
    }
    agg: dict[tuple, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for r in li:
        key = (part[r.l_partkey], (r.l_shipdate.year, r.l_shipdate.month))
        agg[key][0] += round(r.l_quantity, 6)
        agg[key][1] += round(r.l_extendedprice, 6)
    pts: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for (brand, _), (qty, rev) in agg.items():
        pts[brand].append((math.log(round(rev / qty, 6)), math.log(qty)))
    assert set(got) == set(pts)
    for brand, xy in pts.items():
        n = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxy = sum(x * y for x, y in xy)
        sxx = sum(x * x for x, _ in xy)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got[brand][0] == n, brand
        assert abs(got[brand][1] - slope) < 1e-4, brand


def test_position_attribution_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = {
        r.click_id: (r.n_purchases, r.attributed_revenue)
        for r in QUERIES["events_attribution_position"](
            spark, sf_dir
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events").collect()
    us = lambda r: int(r.ts.timestamp() * 1_000_000)
    clicks = [(r.event_id, r.user_id, us(r)) for r in ev if r.event_type == "click"]
    buys = [
        (r.event_id, r.user_id, us(r), r.value)
        for r in ev
        if r.event_type == "purchase"
    ]
    credit: dict[int, float] = defaultdict(float)
    npur: dict[int, int] = defaultdict(int)
    for _bid, buser, bus, val in buys:
        touch = sorted(
            (cus, cid)
            for cid, cuser, cus in clicks
            if cuser == buser and bus - 86_400_000_000 <= cus <= bus - 1
        )
        n = len(touch)
        for pos, (_cus, cid) in enumerate(touch, 1):
            if n == 1:
                w = 1.0
            elif n == 2:
                w = 0.5
            elif pos in (1, n):
                w = 0.4
            else:
                w = 0.2 / (n - 2)
            credit[cid] += val * w
            npur[cid] += 1
    assert set(rows) == set(credit)
    for cid in credit:
        assert rows[cid][0] == npur[cid]
        assert abs(rows[cid][1] - credit[cid]) < 1e-4
    # conservation: total attributed revenue == revenue of purchases
    # that had at least one touch
    touched_rev = sum(
        val
        for _bid, buser, bus, val in buys
        if any(
            cuser == buser and bus - 86_400_000_000 <= cus <= bus - 1
            for _cid, cuser, cus in clicks
        )
    )
    assert abs(sum(v for _, v in rows.values()) - touched_rev) < 1e-3


def test_als_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES, advanced

    got = {
        r.brand: (r.n_raters, r.q1, r.q2, r.rmse)
        for r in QUERIES["brand_als_factors"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").collect()
    orders = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    brand_of = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part").collect()
    }
    ratings: dict[tuple[int, str], float] = defaultdict(float)
    for r in li:
        ratings[(orders[r.l_orderkey], brand_of[r.l_partkey])] += round(
            r.l_quantity, 6
        )
    lam = advanced._ALS_LAMBDA
    q = {}
    for _c, b in ratings:
        u = (
            int(hashlib.md5(f"als#{b}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
        )
        q[b] = (1.0, u - 0.5)

    def solve(group_key_idx, factors, other_idx):
        out = {}
        keys = {k[group_key_idx] for k in ratings}
        for key in keys:
            a11 = a12 = a22 = b1 = b2 = 0.0
            for (c, b), r in ratings.items():
                k = (c, b)[group_key_idx]
                if k != key:
                    continue
                f1, f2 = factors[(c, b)[other_idx]]
                a11 += f1 * f1
                a12 += f1 * f2
                a22 += f2 * f2
                b1 += f1 * r
                b2 += f2 * r
            a11 += lam
            a22 += lam
            det = a11 * a22 - a12 * a12
            out[key] = (
                round((a22 * b1 - a12 * b2) / det, 12),
                round((a11 * b2 - a12 * b1) / det, 12),
            )
        return out

    p = {}
    for _ in range(advanced._ALS_ROUNDS):
        p = solve(0, q, 1)
        q = solve(1, p, 0)
    for b, (q1, q2) in q.items():
        n = sum(1 for (_c, bb) in ratings if bb == b)
        se = sum(
            (r - (p[c][0] * q1 + p[c][1] * q2)) ** 2
            for (c, bb), r in ratings.items()
            if bb == b
        )
        rmse = math.sqrt(se / n)
        assert got[b][0] == n, b
        assert abs(got[b][1] - q1) < 1e-5, b
        assert abs(got[b][2] - q2) < 1e-5, b
        assert abs(got[b][3] - rmse) < 1e-4, b
    # rank-2 fit beats the rank-0 baseline (predicting 0): RMSE must be
    # below the raw value RMS for every brand
    for b in q:
        vals = [r for (_c, bb), r in ratings.items() if bb == b]
        rms = math.sqrt(sum(v * v for v in vals) / len(vals))
        assert got[b][3] < rms, b
