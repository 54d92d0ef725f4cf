"""Round-10 wave-15 differentials: dup-quality report,
label-source alignment, part substitutes — python replays on sf0.001.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_dup_quality_report_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.is_dup: (r.n_docs, r.mean_tokens)
        for r in QUERIES["doc_dup_quality_report"](
            spark, sf_dir
        ).collect()
    }
    fps: dict[str, int] = defaultdict(int)
    docs = []
    for r in load_table(spark, sf_dir, "documents").collect():
        norm = re.sub(r"\s+", " ", r.text.lower()).strip()
        fp = hashlib.md5(" ".join(norm.split(" ")[:8]).encode()).hexdigest()
        n_tok = 0 if norm == "" else len(norm.split(" "))
        docs.append((fp, n_tok))
        fps[fp] += 1
    groups: dict[bool, list] = defaultdict(lambda: [0, 0])
    for fp, n_tok in docs:
        g = groups[fps[fp] >= 2]
        g[0] += 1
        g[1] += n_tok
    assert set(got) == set(groups)
    for is_dup, (n, toks) in groups.items():
        assert got[is_dup][0] == n, is_dup
        assert abs(got[is_dup][1] - round(toks / n, 4)) < 1e-3, is_dup
    assert True in got and False in got  # both branches exercised


def test_label_source_alignment_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = QUERIES["doc_label_source_alignment"](
        spark, sf_dir
    ).collect()[0]
    src = {
        r.doc_id: r.source
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    cell: dict[tuple, int] = defaultdict(int)
    for r in load_table(spark, sf_dir, "embeddings").collect():
        if r.vec_id in src:
            cell[(src[r.vec_id], r.label)] += 1
    nr: dict = defaultdict(int)
    nc: dict = defaultdict(int)
    for (s, lb), n in cell.items():
        nr[s] += n
        nc[lb] += n
    nt = sum(cell.values())
    chi2 = sum(
        (n - nr[s] * nc[lb] / nt) ** 2 / (nr[s] * nc[lb] / nt)
        for (s, lb), n in cell.items()
    )
    v = math.sqrt(chi2 / nt / min(len(nr) - 1, len(nc) - 1))
    assert got.n_docs == nt
    assert (got.n_sources, got.n_labels) == (len(nr), len(nc))
    assert abs(got.chi2 - round(chi2, 4)) < 1e-2
    assert abs(got.cramers_v - round(v, 6)) < 1e-5


def test_part_substitutes_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.p_partkey: (r.substitute_partkey, round(r.saving, 2))
        for r in QUERIES["part_substitutes"](
            spark, sf_dir
        ).collect()
    }
    parts = [
        (r.p_partkey, r.p_brand, r.p_type, r.p_size, round(r.p_retailprice, 2))
        for r in load_table(spark, sf_dir, "part").collect()
    ]
    by_class: dict[tuple, list] = defaultdict(list)
    for k, b, t, s, pr in parts:
        by_class[(t, s)].append((k, b, pr))
    expect = {}
    for k, b, t, s, pr in parts:
        others = [
            (pr2, k2, b2)
            for k2, b2, pr2 in by_class[(t, s)]
            if b2 != b
        ]
        if others:
            pr2, k2, _b2 = min(others)
            expect[k] = (k2, round(pr - pr2, 2))
    assert got == expect and got
    # substitutes are genuinely from another brand and deterministic
    assert all(k != v[0] for k, v in got.items())
