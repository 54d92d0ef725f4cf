"""Vector-search operators (``operators/similarity.py``): exact and
approximate cosine top-k (brute force, LSH, IVF, int8, PQ/ADC, IVF-PQ),
embedding near-dup pairs, semantic dedup over in-memory and persisted
IVF cells, and MMR / k-center diversity selection.  Each approximate
operator is checked against its exact baseline or a pure-Python replay."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.operators import similarity
from gcp_cloudsql_airflow_bigquery_spark.plans import llmdata


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# --- LSH near-dup pairs and top-k -------------------------------------

def test_lsh_neardup_pairs_vs_exact(emb):
    """Hyperplane-LSH near-dup vs the exact all-pairs baseline:
    precision is structurally 1.0 (exact verify); recall at a LOOSE
    threshold (0.25 — near-random fixture pairs, LSH's worst case) must
    hold the banding bound.  The declared ``embedding_neardup`` query's
    exhaustive recall on its own subset is separately proven by its
    oracle hash match; tight-threshold recall is covered by the planted
    test below."""
    flt = F.col("vec_id") % 10 == 0
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_neardup_pairs(
            emb, threshold=0.25, subset_filter=flt
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.lsh_neardup_pairs(
            emb, threshold=0.25, num_planes=4, num_tables=16, subset_filter=flt
        ).collect()
    }
    assert exact, "fixture subset should contain near-dup pairs"
    assert approx <= exact  # exact verify -> no false positives
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.85, f"lsh near-dup recall {recall:.2f} < 0.85"


def test_lsh_neardup_planted_duplicates(spark, emb):
    """Planted near-copies (tiny perturbation, cosine ≈ 1) must all be
    found at the default tight threshold — the true near-dup regime
    where per-table collision probability is high."""
    base = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
    planted = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 1.001 + 0.0001
        ).alias("embedding"),
    )
    got = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_neardup_pairs(
            base.unionByName(planted), threshold=0.95
        ).collect()
    }
    assert {(i, i + 100000) for i in range(20)} <= got


def test_lsh_topk_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    # near-random fixture vectors are LSH's worst case; 4 planes × 8
    # tables measures ≈0.66 here (see lsh_topk docstring)
    assert recall >= 0.4, f"lsh recall {recall:.2f} too low"
    # every LSH hit must be a real corpus vector, never the query itself
    assert all(q != n for q, n in approx)


def test_lsh_bucket_determinism(emb):
    a = similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 2), k=5).collect()
    b = similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 2), k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- semantic dedup (in-memory and persisted index) -------------------

def test_semantic_dedup_drops_planted_copies(spark, emb):
    """SemDeDup: a scaled copy has identical centroid dots, so it
    deterministically shares its original's cluster and must be
    dropped at cosine ≥ 0.95; originals and unrelated vectors keep."""
    base = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    planted = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias(
            "embedding"
        ),
    )
    out = {
        r.id: r.keep
        for r in similarity.semantic_dedup(
            base.unionByName(planted), threshold=0.95, n_centroids=4
        ).collect()
    }
    n_base = base.count()
    assert len(out) == 2 * n_base  # every input vector is labeled
    for i in range(n_base):
        assert out[i] is True, f"original {i} must survive"
        assert out[i + 100000] is False, f"planted copy of {i} must drop"


def test_semantic_dedup_no_dups_keeps_everything(spark, emb):
    """A corpus with no within-cluster pair above threshold keeps all
    rows (fixture max organic cosine < 0.5)."""
    base = emb.filter(F.col("vec_id") < 40)
    out = similarity.semantic_dedup(base, threshold=0.95, n_centroids=4)
    assert out.filter(~F.col("keep")).count() == 0
    assert out.count() == base.count()


def test_semantic_dedup_from_index_equals_direct(spark, sf_dir):
    """The persisted-index SemDeDup pass must reproduce the direct
    semantic_dedup verdicts exactly: same deterministic codebook =>
    same cells => same within-cell pairs and keep flags."""
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    direct = {
        (r.id, r.cluster, r.keep)
        for r in similarity.semantic_dedup(
            emb, threshold=0.95, n_centroids=16
        ).collect()
    }
    similarity.materialize_ivf_index(
        emb, table="t_semdedup_ivf", n_centroids=16, iters=2
    )
    indexed = {
        (r.id, r.cluster, r.keep)
        for r in similarity.semantic_dedup_from_index(
            spark, table="t_semdedup_ivf", threshold=0.95
        ).collect()
    }
    assert direct == indexed


# --- IVF top-k and the persisted IVF index ----------------------------

def test_ivf_recall_vs_exact(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity
    from gcp_cloudsql_airflow_bigquery_spark.plans.llmdata import _emb

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, queries, k=10, n_centroids=16, nprobe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # near-random fixture vectors are IVF's worst case (neighbors spread
    # over many cells); nprobe=4/16 still must beat blind 4/16 sampling
    assert recall >= 0.4, f"ivf recall {recall:.2f}"


def test_ivf_index_persist_matches_inline_and_prunes(spark, sf_dir):
    """Probing the persisted IVF index returns exactly what the inline
    ivf_topk computes (same deterministic codebook), and the probe scan
    is partition-pruned down to the nprobe cells."""
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity
    from gcp_cloudsql_airflow_bigquery_spark.plans.llmdata import _emb

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    similarity.materialize_ivf_index(
        emb, table="t_ivf_idx", n_centroids=8, iters=2
    )
    via_index = similarity.ivf_topk_from_index(
        queries, table="t_ivf_idx", k=10, nprobe=3
    )
    inline = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in similarity.ivf_topk(
            emb, queries, k=10, n_centroids=8, nprobe=3, iters=2
        ).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in via_index.collect()
    }
    assert got == inline
    # the corpus scan must carry a partition filter on cluster — the
    # static IN list, not a post-scan filter over every cell
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:2000]


def test_ivf_index_codebook_is_model_sized(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity
    from gcp_cloudsql_airflow_bigquery_spark.plans.llmdata import _emb

    emb = _emb(spark, sf_dir)
    similarity.materialize_ivf_index(emb, table="t_ivf_cb", n_centroids=8)
    cb = spark.table("t_ivf_cb_codebook").collect()
    assert len(cb) == 8
    assert all(len(r.centroid) == len(cb[0].centroid) for r in cb)


def test_knn_graph_recall_vs_bruteforce(spark, sf_dir):
    """embedding_knn_graph (IVF, nprobe=4/16) recalls most exact top-3
    cosine neighbors, never emits self-edges, and ranks densely."""
    import numpy as np

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = QUERIES["embedding_knn_graph"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for q, ns in by_q.items():
        assert sorted(rk for rk, _ in ns) == list(range(1, len(ns) + 1))

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    mat = np.array([r.embedding for r in emb], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -2.0)
    hits = tot = 0
    for i, q in enumerate(ids):
        exact = set(ids[np.argsort(-sims[i])[:3]])
        approx = {nid for _, nid in by_q.get(int(q), [])}
        hits += len(exact & approx)
        tot += 3
    assert hits / tot >= 0.5, f"recall {hits / tot:.2f}"


# --- int8 quantization ------------------------------------------------

def test_quantize_int8_roundtrip_bound(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(F.col("embedding"))
    checked = emb.select(
        F.col("embedding").alias("x"), q.getField("q").alias("q"), q.getField("scale").alias("s")
    ).select(
        F.array_max(
            F.zip_with(
                similarity.dequantize(F.col("q"), F.col("s")),
                F.transform("x", lambda v: v.cast("double")),
                lambda a, b: F.abs(a - b),
            )
        ).alias("max_err"),
        F.col("s"),
        F.array_max(F.transform("q", F.abs)).alias("max_q"),
    )
    bad = checked.filter(
        (F.col("max_err") > F.col("s") / 2 + 1e-12) | (F.col("max_q") > 127)
    ).count()
    assert bad == 0


def test_quantize_int8_zero_vector(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    row = df.select(similarity.quantize_int8(F.col("embedding")).alias("qs")).first()
    assert row.qs.q == [0, 0, 0] and row.qs.scale == 0.0


def test_int8_topk_recall_vs_exact(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.limit(20)
    exact = similarity.brute_force_topk(emb, qs, k=10)
    quant = similarity.brute_force_topk_int8(emb, qs, k=10)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    q = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    recall = len(e & q) / len(e)
    assert recall >= 0.9, recall


# --- product quantization, ADC and IVF-PQ -----------------------------

def test_pq_matches_pure_python_lloyd(spark, sf_dir):
    """Replay pq_build's deterministic training (init = 16 smallest
    ids' subvectors, 2 plain-L2 Lloyd rounds, first-min tie-break,
    empty cells keep centroids) in pure Python and check codes and
    reconstruction errors row-for-row."""
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        ((r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect())
    )
    m, ks, sub_dim = 8, 16, len(rows[0][1]) // 8
    subs = {
        (vid, s): vec[s * sub_dim : (s + 1) * sub_dim] for vid, vec in rows for s in range(m)
    }
    books = [
        [rows[c][1][s * sub_dim : (s + 1) * sub_dim] for c in range(ks)]
        for s in range(m)
    ]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def argmin(sv, cb):
        ds = [d2(sv, c) for c in cb]
        return ds.index(min(ds))

    for _ in range(2):
        members: defaultdict = defaultdict(list)
        for (vid, s), sv in subs.items():
            members[(s, argmin(sv, books[s]))].append(sv)
        books = [
            [
                [sum(v[p] for v in mem) / len(mem) for p in range(sub_dim)]
                if (mem := members.get((s, c)))
                else books[s][c]
                for c in range(ks)
            ]
            for s in range(m)
        ]
    expect = {}
    for vid, vec in rows:
        code, err2 = 0, 0.0
        for s in range(m):
            cl = argmin(subs[(vid, s)], books[s])
            code |= cl << (4 * s)
            err2 += d2(subs[(vid, s)], books[s][cl])
        expect[vid] = (code, round(math.sqrt(err2), 6))

    got = {
        r["vec_id"]: (r["pq_code"], r["recon_err"])
        for r in llmdata.embedding_pq_codes(spark, sf_dir).collect()
    }
    assert got.keys() == expect.keys()
    n_code_match = sum(got[v][0] == expect[v][0] for v in got)
    # argmin near-ties may flip a rare subspace code between float
    # summation orders; demand near-total agreement, exact err where
    # codes agree
    assert n_code_match >= len(got) - 1, f"{len(got) - n_code_match} code mismatches"
    for v in got:
        if got[v][0] == expect[v][0]:
            assert got[v][1] == pytest.approx(expect[v][1], abs=2e-6)

    # 4-bit packing invariant: every unpacked field is a valid cluster
    for code, _ in got.values():
        for s in range(m):
            assert 0 <= (code >> (4 * s)) & 0xF < ks

    with pytest.raises(ValueError):
        similarity.pq_encode(emb, [[[0.0]] * 17])


def test_pq_adc_recall_and_shortlist(spark, sf_dir):
    """PQ-ADC quality contract on the worst-case (random, clusterless)
    fixture: direct ADC top-10 keeps a measurable fraction of the
    exact top-10, and the production composition — ADC shortlist 100 +
    exact rerank — recovers nearly all of it (measured 0.94 at sf0.01,
    0.3 direct)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, probes, k=10).collect()
    }
    cb = similarity.pq_build(emb, m=8, ks=16, iters=2)
    direct = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(emb, probes, cb, k=10).collect()
    }
    assert len(truth & direct) / len(truth) >= 0.2
    shortlist = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(emb, probes, cb, k=100).collect()
    }
    assert len(truth & shortlist) / len(truth) >= 0.8
    # ADC distance is a true distance to the reconstruction: it must
    # equal sqrt(sum of the per-sub table entries), already covered by
    # the oracle; here pin ranks are 1..10 per query and deterministic
    per_q = defaultdict(list)
    for r in similarity.pq_adc_topk(emb, probes, cb, k=10).collect():
        per_q[r.query_id].append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, 11)), q


def test_ivfpq_consistent_with_components(spark, sf_dir):
    """IVF-PQ = PQ-ADC restricted to IVF-probed cells: every IVF-PQ
    result appears in the unrouted ADC ranking of the same query with
    the SAME distance, and every ADC top-k candidate that lives in a
    probed cell survives routing."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    centroids = similarity.ivf_build(emb, 16, 2)
    codebooks = similarity.pq_build(emb, m=8, ks=16, iters=2)
    cells = {
        r["cand_id"]: r["cell"]
        for r in emb.select(
            F.col("vec_id").alias("cand_id"),
            similarity.ivf_assign(
                similarity._normalize(similarity._as_double("embedding")),
                centroids,
            ).alias("cell"),
        ).collect()
    }
    probed = defaultdict(set)
    for r in similarity.ivfpq_topk(emb, probes, k=10).collect():
        probed[r["query_id"]].add((r["neighbor_id"], r["adc_dist"]))
    assert set(probed) == {0, 1, 2, 3, 4}
    full = defaultdict(dict)
    for r in similarity.pq_adc_topk(emb, probes, codebooks, k=10_000).collect():
        full[r["query_id"]][r["neighbor_id"]] = r["adc_dist"]
    for q, pairs in probed.items():
        assert len(pairs) == 10
        for nid, d in pairs:
            assert full[q][nid] == d, (q, nid)


@given(
    hst.lists(
        hst.lists(
            hst.floats(min_value=-4.0, max_value=4.0, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=6,
        max_size=24,
        unique_by=tuple,
    )
)
@settings(max_examples=6, deadline=None)
def test_pq_invariants_hypothesis(spark, vecs):
    """Random tiny corpora: codes stay in range, reconstruction error
    is nonneg, and two Lloyd rounds never give a WORSE total
    distortion than zero rounds (training monotonicity of k-means on
    the same init)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    m, ks = 4, 4
    trained = similarity.pq_build(df, m=m, ks=ks, iters=2)
    init = similarity.pq_build(df, m=m, ks=ks, iters=0)
    err = {
        it: sum(
            r["recon_err"] ** 2
            for r in similarity.pq_encode(df, cb).collect()
        )
        for it, cb in (("trained", trained), ("init", init))
    }
    assert err["trained"] <= err["init"] + 1e-6
    for r in similarity.pq_encode(df, trained).collect():
        assert r["recon_err"] >= 0
        for s in range(m):
            assert 0 <= (r["pq_code"] >> (4 * s)) & 0xF < ks


# --- diversity selection: MMR and k-center ----------------------------

def test_mmr_matches_pure_python_greedy(spark, sf_dir):
    """Replay the unrolled greedy MMR (lam=0.7, round-6 scores,
    cand_id tie-break) in pure Python from the same brute-force
    top-25 pool and check every pick and score."""
    from gcp_cloudsql_airflow_bigquery_spark.plans import search

    got = defaultdict(dict)
    for r in search.embedding_mmr_diverse(spark, sf_dir).collect():
        got[r["query_id"]][r["pick"]] = (r["cand_id"], r["mmr_score"])
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    lam = 0.7
    for qid in range(5):
        rels = sorted(
            ((round(cos(emb[qid], v), 6), cid) for cid, v in emb.items() if cid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:25]
        pool = {cid: rel for rel, cid in rels}
        # pick 1 = max rel, cand_id tie-break
        sel = [sorted(pool.items(), key=lambda t: (-t[1], t[0]))[0]]
        for pick in range(2, 11):
            scored = []
            for cid, rel in pool.items():
                if cid in {c for c, _ in sel}:
                    continue
                ms = max(cos(emb[cid], emb[sc]) for sc, _ in sel)
                scored.append((cid, round(lam * rel - (1 - lam) * ms, 6)))
            scored.sort(key=lambda t: (-t[1], t[0]))
            sel.append(scored[0])
        assert sorted(got[qid]) == list(range(1, 11))
        for pick, (cid, score) in enumerate(sel, start=1):
            gcid, gscore = got[qid][pick]
            assert gcid == cid, (qid, pick)
            expect = round(pool[cid], 6) if pick == 1 else score
            assert gscore == pytest.approx(expect, abs=2e-6), (qid, pick)
        # diversification sanity: no candidate picked twice
        assert len({c for c, _ in sel}) == 10


def test_kcenter_matches_pure_python_greedy(spark, sf_dir):
    """Replay greedy farthest-point selection (round-6 min-dists, id
    tie-breaks) in pure Python; also pin the defining invariant: each
    pick's min-distance-to-prior is non-increasing."""
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    sel = [min(emb)]
    dists = [None]
    for _ in range(9):
        # farthest point: max rounded min-dist, tie -> smallest id
        cands = []
        for vid, v in emb.items():
            if vid in sel:
                continue
            md = round(
                min(sum((x - y) ** 2 for x, y in zip(v, emb[s])) for s in sel), 6
            )
            cands.append((-md, vid))
        cands.sort()
        sel.append(cands[0][1])
        dists.append(-cands[0][0])
    got = sorted(
        (r["pick"], r["vec_id"], r["min_dist_sq"])
        for r in llmdata.embedding_kcenter_coreset(spark, sf_dir).collect()
    )
    assert [g[1] for g in got] == sel
    for (pick, vid, md), expect in zip(got, dists):
        if expect is None:
            assert md is None
        else:
            assert md == pytest.approx(expect, abs=2e-6)
    picked_d = [g[2] for g in got if g[2] is not None]
    assert all(a >= b - 1e-9 for a, b in zip(picked_d, picked_d[1:]))
