"""Round-10 wave-6 differentials: Nelson-Aalen hazard, LPA modularity,
and chunk-level dedup pinned against pure-Python replays.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_nelson_aalen_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = {
        r.t_week: r
        for r in QUERIES["customer_hazard_na"](spark, sf_dir).collect()
    }
    orders = sorted(
        load_table(spark, sf_dir, "orders").collect(),
        key=lambda r: (r.o_custkey, r.o_orderdate, r.o_orderkey),
    )
    maxd = max(r.o_orderdate for r in orders)
    per_cust: dict[int, list] = defaultdict(list)
    for r in orders:
        per_cust[r.o_custkey].append(r.o_orderdate)
    bins: dict[int, list[int]] = defaultdict(lambda: [0, 0])  # events, cens
    for dates in per_cust.values():
        for i, d in enumerate(dates):
            if i + 1 < len(dates):
                dur = (dates[i + 1] - d).days
                bins[dur // 7][0] += 1
            else:
                dur = (maxd - d).days
                bins[dur // 7][1] += 1
    total = sum(e + c for e, c in bins.values())
    gone = 0
    ch = 0.0
    for t in sorted(bins):
        e, c = bins[t]
        n_risk = total - gone
        ch += round(e / n_risk, 12)
        got = rows[t]
        assert got.n_risk == n_risk and got.n_events == e and got.n_censored == c
        assert abs(got.cum_hazard - ch) < 1e-5, t
        assert abs(got.surv_na - math.exp(-ch)) < 1e-5, t
        gone += e + c
    assert set(rows) == set(bins)
    # cumulative hazard is non-decreasing; exp(-H) non-increasing
    hs = [rows[t].cum_hazard for t in sorted(rows)]
    assert hs == sorted(hs)
    # Fleming-Harrington tracks KM: exp(-H) >= KM product everywhere
    km = {
        r.t_week: r
        for r in QUERIES["customer_survival_km"](spark, sf_dir).collect()
    }
    surv_col = [c for c in ("survival", "surv_km", "km") if c in next(iter(km.values())).asDict()]
    if surv_col:
        col = surv_col[0]
        for t in rows:
            assert rows[t].surv_na >= getattr(km[t], col) - 1e-6


def test_modularity_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.community: (r.n_nodes, r.w_in, r.w_deg, r.q_contribution)
        for r in QUERIES["event_state_modularity"](spark, sf_dir).collect()
    }
    rows = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    by_user: dict[int, list[str]] = defaultdict(list)
    for r in rows:
        state = f"{r.event_type}@{r.ts.hour:02d}"
        by_user[r.user_id].append(state)
    he: dict[tuple[str, str], int] = defaultdict(int)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            he[(a, b)] += 1
    sym: dict[tuple[str, str], int] = defaultdict(int)
    for (a, b), n in he.items():
        if a != b:
            sym[(a, b)] += n
            sym[(b, a)] += n
    nodes = sorted({n for e in sym for n in e})
    label = {n: n for n in nodes}
    for _ in range(5):
        votes: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for (u, v), w in sym.items():
            votes[v][label[u]] += w
        label = {
            v: min(
                (lab for lab in vs if vs[lab] == max(vs.values())),
            )
            for v, vs in votes.items()
        }
    W = sum(sym.values())
    per_c: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for n in nodes:
        per_c[label[n]][0] += 1
    for (u, v), w in sym.items():
        per_c[label[u]][2] += w
        if label[u] == label[v]:
            per_c[label[u]][1] += w
    assert set(got) == set(per_c)
    q_total = 0.0
    for c, (nn, w_in, w_deg) in per_c.items():
        assert got[c][0] == nn and got[c][1] == w_in and got[c][2] == w_deg, c
        q = w_in / W - (w_deg / W) ** 2
        assert abs(got[c][3] - q) < 1e-5, c
        q_total += q
    # Newman Q for a nontrivial partition is <= 1 and > -0.5
    assert -0.5 < q_total <= 1.0


def test_chunk_dedup_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.chunk_md5: (r.n_docs, r.n_occurrences, r.first_doc, r.last_doc)
        for r in QUERIES["doc_chunk_dedup"](spark, sf_dir).collect()
    }
    docs = [
        (r.doc_id, r.text)
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text
    ]
    occ: dict[str, list[int]] = defaultdict(list)
    for doc_id, text in docs:
        L = len(text)
        starts = [0] if L <= 120 else list(range(0, L - 120 + 99 + 1, 100))
        for s in starts:
            chunk = text[s : s + 120]
            if chunk:
                occ[hashlib.md5(chunk.encode()).hexdigest()].append(doc_id)
    expect = {
        h: (len(set(ds)), len(ds), min(ds), max(ds))
        for h, ds in occ.items()
        if len(set(ds)) >= 2
    }
    assert got == expect


def test_skyline_matches_bruteforce(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.p_partkey
        for r in QUERIES["part_skyline_price_size"](
            spark, sf_dir
        ).collect()
    }
    parts = [
        (r.p_partkey, round(r.p_retailprice, 2), r.p_size)
        for r in load_table(spark, sf_dir, "part").collect()
    ]
    expect = {
        k
        for k, c, g in parts
        if not any(
            c2 <= c and g2 >= g and (c2 < c or g2 > g)
            for _k2, c2, g2 in parts
        )
    }
    assert got == expect
    assert expect  # fixture produces a nonempty frontier
    # frontier is an antichain: strictly increasing size as price rises
    front = sorted((c, g) for k, c, g in parts if k in expect)
    for (c1, g1), (c2, g2) in zip(front, front[1:]):
        assert c1 < c2 or (c1 == c2 and g1 == g2)
        if c1 < c2:
            assert g2 > g1


def test_skyline_operator_multipartition_equivalence(spark):
    """skyline_2d over a forced multi-partition range layout equals the
    brute-force dominance set, including cost and gain ties."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.stats import skyline_2d

    rows = [
        (1, 10, 5), (2, 10, 9), (3, 10, 9), (4, 11, 9), (5, 12, 10),
        (6, 12, 10), (7, 13, 1), (8, 9, 2), (9, 9, 2), (10, 20, 11),
        (11, 20, 12), (12, 8, 1),
    ]
    df = spark.createDataFrame(rows, "id int, cost int, gain int")
    got = {r.id for r in skyline_2d(df, "cost", "gain", num_partitions=5).collect()}
    expect = {
        i
        for i, c, g in rows
        if not any(
            c2 <= c and g2 >= g and (c2 < c or g2 > g) for _i, c2, g2 in rows
        )
    }
    assert got == expect


def test_array_zip_funcs_matches_python(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.orderkey: (r.n_lines, r.max_qty, r.has_bulk_line, r.qty_weighted_total)
        for r in QUERIES["array_zip_funcs"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").collect()
    per: dict[int, list] = defaultdict(list)
    for r in li:
        per[r.l_orderkey].append((r.l_quantity, r.l_extendedprice))
    assert set(got) == set(per)
    for ok, lines in per.items():
        n = len(lines)
        mq = max(q for q, _ in lines)
        bulk = any(q >= 50 for q, _ in lines)
        tot = round(sum(round(q * p, 6) for q, p in lines), 2)
        assert got[ok][0] == n and got[ok][1] == mq and got[ok][2] == bulk, ok
        assert abs(got[ok][3] - tot) < 1e-6, ok
