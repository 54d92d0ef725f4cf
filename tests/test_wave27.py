"""Round-10 wave-10 differentials: cluster-separation report, lexical
diversity census, and the derandomized Laplace release — pinned
against pure-Python replays on sf0.001.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table


def test_cluster_separation_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.label: r
        for r in QUERIES["embedding_cluster_separation"](
            spark, sf_dir
        ).collect()
    }
    vecs = [
        (r.label, [float(x) for x in r.embedding])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    ]
    by_label: dict[int, list] = defaultdict(list)
    for lb, e in vecs:
        by_label[lb].append(e)
    cents = {
        lb: [sum(col) / len(es) for col in zip(*es)]
        for lb, es in by_label.items()
    }
    for lb, es in by_label.items():
        n = len(es)
        ssq = sum(sum(x * x for x in e) for e in es)
        cn2 = sum(c * c for c in cents[lb])
        intra = math.sqrt(max(ssq / n - cn2, 0.0))
        dists = {
            lb2: math.sqrt(
                sum((a - b) ** 2 for a, b in zip(cents[lb], cents[lb2]))
            )
            for lb2 in cents
            if lb2 != lb
        }
        near = min(dists, key=lambda k: (round(dists[k], 9), k))
        r = got[lb]
        assert r.n_vecs == n, lb
        assert abs(r.intra_rms - round(intra, 6)) < 1e-5, lb
        assert r.nearest_label == near, lb
        assert abs(r.nearest_dist - round(dists[near], 6)) < 1e-5, lb
        assert abs(r.separation - round(dists[near] / intra, 6)) < 1e-4, lb
        # a sane embedding fixture separates its labels
        assert r.nearest_dist > 0


def test_source_diversity_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.source: r
        for r in QUERIES["doc_source_diversity"](
            spark, sf_dir
        ).collect()
    }
    per: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for r in load_table(spark, sf_dir, "documents").collect():
        norm = re.sub(r"\s+", " ", r.text.lower()).strip()
        for w in norm.split(" "):
            if w:
                per[r.source][w] += 1
    for src, wc in per.items():
        n = sum(wc.values())
        v = len(wc)
        h = math.log2(n) - sum(c * math.log2(c) for c in wc.values()) / n
        simpson = sum(c * (c - 1) for c in wc.values()) / (n * (n - 1))
        r = got[src]
        assert (r.n_tokens, r.vocab) == (n, v), src
        assert abs(r.shannon_bits - round(h, 6)) < 1e-5, src
        assert abs(r.simpson - round(simpson, 6)) < 1e-6, src
        assert abs(r.type_token_ratio - round(v / n, 6)) < 1e-6, src


def test_dp_noisy_counts_matches_python_replay(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    got = {
        r.event_type: r
        for r in QUERIES["events_dp_noisy_counts"](spark, sf_dir).collect()
    }
    counts: dict[str, int] = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").collect():
        counts[r.event_type] += 1
    for et, n in counts.items():
        v = int(hashlib.md5(et.encode()).hexdigest()[:4], 16)
        u = (v + 0.5) / 65536.0
        noise = -math.copysign(1.0, u - 0.5) * math.log(1 - 2 * abs(u - 0.5))
        r = got[et]
        assert r.exact_n == n and r.epsilon == 1.0, et
        assert abs(r.noise - round(noise, 4)) < 1e-9, et
        assert abs(r.noisy_n - round(n + noise, 4)) < 1e-9, et
    # the release must actually perturb (not all noise terms are ~0)
    assert any(abs(r.noise) > 1e-3 for r in got.values())
