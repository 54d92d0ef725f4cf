"""Round-10 wave differentials: Heaps'-law fit, RFM segmentation, and
the stream-#6 LWW upsert helpers are covered in their own modules;
here the pure-math properties are pinned against independent replays.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_heaps_law_matches_python_replay(spark, sf_dir):
    """doc_heaps_law equals a single-threaded pure-Python sweep of the
    same bucketing on the same fixture (exact integers; the OLS fit
    compared to 6 decimals like the oracle)."""
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["doc_heaps_law"](spark, sf_dir).first()

    docs = [
        (r.doc_id, r.text.strip().lower())
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text is not None and r.text.strip()
    ]
    mn = min(d for d, _ in docs)
    mx = max(d for d, _ in docs)
    per_tokens = [0] * 10
    first_seen: dict[str, int] = {}
    import re as _re

    for doc_id, text in docs:
        b = int(10.0 * (doc_id - mn) / (mx - mn + 1))
        toks = _re.split(r"\s+", text)
        per_tokens[b] += len(toks)
        for t in toks:
            if t not in first_seen or first_seen[t] > b:
                first_seen[t] = b
    new_v = [0] * 10
    for b in first_seen.values():
        new_v[b] += 1
    cum_t, cum_v, pts = 0, 0, []
    for b in range(10):
        cum_t += per_tokens[b]
        cum_v += new_v[b]
        pts.append((math.log(cum_t), math.log(cum_v)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)

    assert got.n_points == 10
    assert got.total_tokens == cum_t
    assert got.vocab_size == cum_v
    assert abs(got.heaps_beta - beta) < 1e-5
    # the synthetic fixture's vocabulary saturates almost immediately,
    # so beta sits near 0; real corpora land in (0.4, 0.9)
    assert 0.0 <= got.heaps_beta <= 1.0


def test_rfm_segments_bucket_properties(spark, sf_dir):
    """Every RFM score is a 1..5 quintile with bucket sizes differing
    by at most one (the NTILE contract), the cell code decomposes back
    into the three scores, and the best-spend customer scores m=1."""
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = QUERIES["customer_rfm_segments"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for col in ("r_score", "f_score", "m_score"):
        vals = [getattr(r, col) for r in rows]
        assert set(vals) <= {1, 2, 3, 4, 5}
        sizes = [vals.count(b) for b in sorted(set(vals))]
        assert max(sizes) - min(sizes) <= 1
    for r in rows:
        assert r.rfm_cell == r.r_score * 100 + r.f_score * 10 + r.m_score

    orders = load_table(spark, sf_dir, "orders")
    top = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m"))
        .orderBy(F.col("m").desc(), F.col("o_custkey"))
        .first()
    )
    by_key = {r.custkey: r for r in rows}
    assert by_key[top.o_custkey].m_score == 1


def test_assortativity_matches_python_replay(spark, sf_dir):
    """part_graph_assortativity equals a pure-Python Pearson over the
    collected edge list (exact integer sums, same closed form)."""
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["part_graph_assortativity"](spark, sf_dir).first()

    li = [
        (r.l_orderkey, r.l_partkey)
        for r in load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ]
    by_order: dict[int, set[int]] = {}
    for o, p in li:
        by_order.setdefault(o, set()).add(p)
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    n = len(xs)
    sx = sum(xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    assert got.n_edges == len(edges)
    assert abs(got.assortativity - round(want, 6)) < 1e-9
    assert -1.0 <= got.assortativity <= 1.0


def test_trimmed_mean_matches_python_replay(spark, sf_dir):
    """orders_trimmed_mean_price per priority equals the Python
    replay: sort, drop cnt//10 per tail (trimmed) / clamp (winsor)."""
    from decimal import Decimal

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.priority: r
        for r in QUERIES["orders_trimmed_mean_price"](
            spark, sf_dir
        ).collect()
    }
    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    ).collect()
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r.o_orderpriority, []).append(
            (Decimal(str(r.o_totalprice)).quantize(Decimal("0.01")), r.o_orderkey)
        )
    for prio, vals in groups.items():
        vals.sort()
        n = len(vals)
        lo = n // 10
        kept = [p for p, _ in vals[lo : n - lo]]
        trimmed = float(sum(kept)) / (n - 2 * lo)
        wins = sum(kept) + lo * vals[lo][0] + lo * vals[n - lo - 1][0]
        winsor = float(wins) / n
        g = got[prio]
        assert g.n == n
        assert abs(g.trimmed_mean - round(trimmed, 4)) < 1e-6
        assert abs(g.winsor_mean - round(winsor, 4)) < 1e-6


def test_entry_exit_sessions_reconcile_with_session_query(spark, sf_dir):
    """The entry/exit matrix accounts for exactly the sessions the
    5-minute-gap events_session query produces."""
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    matrix = QUERIES["events_session_entry_exit"](spark, sf_dir).collect()
    n_total = sum(r.n_sessions for r in matrix)
    n_sessions = QUERIES["events_session"](spark, sf_dir).count()
    assert n_total == n_sessions
    assert all(r.n_bounces <= r.n_sessions for r in matrix)
    for r in matrix:
        # a bounce's entry IS its exit, so pure-bounce cells are diagonal
        if r.n_sessions == r.n_bounces:
            assert r.entry_type == r.exit_type


def test_brown_trend_matches_iterative_recursion(spark, sf_dir):
    """events_brown_trend_daily's closed form equals the literal
    two-pass recurrence run in Python over the same daily counts."""
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES, events

    got = {
        r.event_type: r
        for r in QUERIES["events_brown_trend_daily"](
            spark, sf_dir
        ).collect()
    }
    daily = (
        events._events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r["count"]))
    a = 0.3
    for et, pts in series.items():
        pts.sort()
        ys = [float(x) for _, x in pts]
        s1 = ys[0]
        s2 = s1
        for y in ys[1:]:
            s1 = a * y + (1 - a) * s1
            s2 = a * s1 + (1 - a) * s2
        g = got[et]
        assert g.n_days == len(ys)
        assert abs(g.s1 - s1) < 1e-4
        assert abs(g.s2 - s2) < 1e-4
        level = 2 * s1 - s2
        trend = a / (1 - a) * (s1 - s2)
        assert abs(g.level - level) < 1e-4
        assert abs(g.forecast_next - (level + trend)) < 1e-4
