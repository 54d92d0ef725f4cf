"""Focused tests for the r10 optimization-round restructures.

The edge-iterator triangle enumeration in
``plans/advanced.part_clustering_coefficient`` replaced the wedge
join + closing semi-join (r10 wave 4b).  Counts are integers, so the
rewrite must reproduce the old formulation EXACTLY — this replay
recomputes degree / per-node triangles / lcc in pure Python from the
fixture and compares row-for-row.
"""

from __future__ import annotations

from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES


def test_clustering_coefficient_matches_python_replay(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    orders: dict = defaultdict(set)
    for r in rows:
        orders[r.l_orderkey].add(r.l_partkey)
    edges: set = set()
    for items in orders.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                edges.add((s[i], s[j]))
    adj: dict = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    got = {
        r.partkey: r
        for r in QUERIES["part_clustering_coefficient"](
            spark, sf_dir
        ).collect()
    }
    assert len(got) == len(adj)
    for node, nbrs in adj.items():
        d = len(nbrs)
        tri = sum(
            1 for u in nbrs for v in nbrs if u < v and v in adj[u]
        )
        r = got[node]
        assert r.degree == d, node
        assert r.triangles == tri, node
        if d >= 2:
            assert abs(r.lcc - 2.0 * tri / (d * (d - 1))) <= 1e-6, node
        else:
            assert r.lcc is None, node
