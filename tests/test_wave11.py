"""Differential tests for the round-7 wave-11..18 operators: each
Spark plan is replayed by a small pure-Python reference (dict-of-counts
k-anonymity, sequential gap statistics, textbook PSI sum, the
stupid-backoff ladder, nDCG, RAKE, TextRank power iteration, transition
conformance) on the collected fixture rows — proving the intended
ALGORITHM on top of the DuckDB oracles' cross-engine agreement.  A
Hypothesis section adds randomized Misra-Gries guarantees.  The PQ,
MMR, k-center and IVF-PQ differentials live in test_similarity.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.plans import dq, events, llmdata


def test_k_anonymity_matches_counting_reference(spark, sf_dir):
    out = {r["k_threshold"]: r for r in dq.customer_k_anonymity(spark, sf_dir).collect()}
    assert sorted(out) == [2, 5, 10, 25]
    classes: Counter = Counter()
    sens: defaultdict = defaultdict(set)
    n_rows = 0
    for r in load_table(spark, sf_dir, "customer").collect():
        qi = (r["c_nationkey"], math.floor(r["c_acctbal"] / 1000.0))
        classes[qi] += 1
        sens[qi].add(r["c_mktsegment"])
        n_rows += 1
    for k, r in out.items():
        at_risk = {qi: c for qi, c in classes.items() if c < k}
        assert r["classes_at_risk"] == len(at_risk)
        assert r["rows_at_risk"] == sum(at_risk.values())
        assert r["pct_rows_at_risk"] == pytest.approx(
            round(sum(at_risk.values()) / n_rows, 6), abs=1e-9
        )
        expect_l = min((len(sens[qi]) for qi in at_risk), default=None)
        assert r["worst_l_diversity"] == expect_l
        assert r["n_classes"] == len(classes)
        assert r["n_rows"] == n_rows
        assert r["min_class_size"] == min(classes.values())


def test_bot_regularity_matches_sequential_reference(spark, sf_dir):
    out = {r["user_id"]: r for r in events.events_bot_regularity(spark, sf_dir).collect()}
    assert out
    by_user: defaultdict = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        by_user[r["user_id"]].append((r["ts"], r["event_id"]))
    for uid, evs in by_user.items():
        if len(evs) < 20:
            assert uid not in out
            continue
        evs.sort()
        gaps = [
            (b[0] - a[0]).total_seconds() for a, b in zip(evs, evs[1:])
        ]
        mean = sum(gaps) / len(gaps)
        sd = math.sqrt(sum((g - mean) ** 2 for g in gaps) / len(gaps))
        r = out[uid]
        assert r["n_events"] == len(evs)
        assert r["mean_gap_s"] == pytest.approx(round(mean, 4), abs=1e-3)
        cv = round(sd / mean, 4) if mean else None
        assert r["gap_cv"] == pytest.approx(cv, abs=1e-3)
        span_days = (evs[-1][0] - evs[0][0]).total_seconds() / 86_400
        assert r["events_per_day"] == pytest.approx(
            round(len(evs) / span_days, 4), abs=1e-3
        )
        assert r["bot_flag"] == bool(cv is not None and cv < 0.3 and len(evs) >= 50)


def test_psi_drift_matches_textbook_sum(spark, sf_dir):
    out = {r["source"]: r for r in llmdata.doc_source_psi_drift(spark, sf_dir).collect()}
    assert out
    ref: Counter = Counter()
    per_src: defaultdict = defaultdict(Counter)
    for r in load_table(spark, sf_dir, "documents").collect():
        b = min(9, r["n_chars"] // 64)
        ref[b] += 1
        per_src[r["source"]][b] += 1
    n_ref = sum(ref.values())
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        psi = sum(
            ((cnt.get(b, 0) + 0.5) / (n + 5.0) - (ref.get(b, 0) + 0.5) / (n_ref + 5.0))
            * math.log(
                ((cnt.get(b, 0) + 0.5) / (n + 5.0))
                / ((ref.get(b, 0) + 0.5) / (n_ref + 5.0))
            )
            for b in range(10)
        )
        r = out[src]
        assert r["n_rows"] == n
        assert r["psi"] == pytest.approx(round(psi, 6), abs=1e-5)
        assert r["drift_flag"] == (r["psi"] > 0.2)
        assert r["psi"] >= -1e-9  # PSI is a sum of nonneg KL-style terms


def test_backoff_lm_matches_pure_python_ladder(spark, sf_dir):
    """Replay the 75/25 md5 split, the train count tables, and the
    stupid-backoff scoring ladder in pure Python; check each held-out
    doc's hit counts and mean score."""
    import hashlib

    out = {r["doc_id"]: r for r in llmdata.doc_backoff_lm_eval(spark, sf_dir).collect()}
    docs = [
        (r["doc_id"], r["text"].strip().lower().split())
        for r in load_table(spark, sf_dir, "documents").collect()
        if r["text"] and r["text"].strip()
    ]
    train_set = {
        d
        for d, _ in docs
        if hashlib.md5(str(d).encode()).hexdigest()[0] in "0123456789ab"
    }
    c3: Counter = Counter()
    c2: Counter = Counter()
    c1: Counter = Counter()
    for d, w in docs:
        if d not in train_set:
            continue
        c1.update(w)
        c2.update(zip(w, w[1:]))
        c3.update(zip(w, w[1:], w[2:]))
    n_total, v1 = sum(c1.values()), len(c1)
    n_held_docs = 0
    for d, w in docs:
        if d in train_set or len(w) < 3:
            if d not in train_set:
                assert d not in out or len(w) >= 3
            continue
        n_held_docs += 1
        nlls, tri_hits, bi_hits = [], 0, 0
        for g in zip(w, w[1:], w[2:]):
            if g in c3:
                tri_hits += 1
                s = c3[g] / c2[(g[0], g[1])]
            elif (g[1], g[2]) in c2:
                bi_hits += 1
                s = 0.4 * c2[(g[1], g[2])] / c1[g[1]]
            else:
                s = 0.16 * (c1.get(g[2], 0) + 1) / (n_total + v1)
            nlls.append(-math.log(s))
        r = out[d]
        assert r["n_trigrams"] == len(nlls)
        assert r["n_tri_hits"] == tri_hits
        assert r["n_bi_hits"] == bi_hits
        mean = sum(nlls) / len(nlls)
        assert r["avg_neg_logscore"] == pytest.approx(round(mean, 6), abs=1e-5)
        assert r["sb_ppl"] == pytest.approx(round(math.exp(mean), 6), rel=1e-4)
    assert n_held_docs == len(out) and n_held_docs > 0


def test_duplicate_purchases_matches_sequential_reference(spark, sf_dir):
    """Replay the (user, whole-unit band) LAG screen sequentially in
    Python: every flagged pair is a true consecutive same-band pair
    within 48h, and none is missed."""
    rows = [
        r
        for r in load_table(spark, sf_dir, "events").collect()
        if r["event_type"] == "purchase"
    ]
    by_key: defaultdict = defaultdict(list)
    for r in rows:
        by_key[(r["user_id"], math.floor(r["value"]))].append(
            (r["ts"], r["event_id"], r["value"])
        )
    expect = set()
    for (uid, band), evs in by_key.items():
        evs.sort()
        for a, b in zip(evs, evs[1:]):
            gap_us = int((b[0] - a[0]).total_seconds() * 1_000_000)
            if gap_us <= 48 * 3_600_000_000:
                expect.add((uid, band, a[1], b[1], gap_us))
    got = {
        (r["user_id"], r["band"], r["first_event_id"], r["second_event_id"], r["gap_us"])
        for r in events.events_duplicate_purchases(spark, sf_dir).collect()
    }
    assert got == expect
    assert expect  # the fixture produces at least one flagged pair


def test_ndcg_eval_matches_pure_python_formula(spark, sf_dir):
    """Replay nDCG@10 in pure Python from the two retrieval outputs
    (which carry their own oracles) and pin range invariants."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.similarity import (
        brute_force_topk,
    )
    from gcp_cloudsql_airflow_bigquery_spark.operators.textsearch import bm25_topk
    from gcp_cloudsql_airflow_bigquery_spark.plans import search

    out = {r["query_id"]: r for r in search.search_ndcg_eval(spark, sf_dir).collect()}
    assert set(out) == {0, 7, 13}
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qd = docs.filter(F.col("doc_id").isin(0, 7, 13)).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    text = sorted(
        (
            (r["query_id"], -r["score"], r["doc_id"])
            for r in bm25_topk(docs, qd, k=11).collect()
            if r["doc_id"] != r["query_id"]
        )
    )
    gold = {}
    for r in brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(0, 7, 13)), k=25
    ).collect():
        g = 3 if r["rank"] <= 5 else 2 if r["rank"] <= 10 else 1
        gold[(r["query_id"], r["neighbor_id"])] = g
    for qid in (0, 7, 13):
        ranked = [d for q, _, d in text if q == qid][:10]
        dcg = sum(
            (2 ** gold.get((qid, d), 0) - 1) / math.log2(pos + 2)
            for pos, d in enumerate(ranked)
        )
        grades = sorted(
            (g for (q, _), g in gold.items() if q == qid), reverse=True
        )[:10]
        idcg = sum(
            (2**g - 1) / math.log2(pos + 2) for pos, g in enumerate(grades)
        )
        r = out[qid]
        assert r["dcg_at_10"] == pytest.approx(round(dcg, 6), abs=1e-5)
        assert r["idcg_at_10"] == pytest.approx(round(idcg, 6), abs=1e-5)
        assert r["ndcg_at_10"] == pytest.approx(round(dcg / idcg, 6), abs=1e-5)
        assert 0.0 <= r["ndcg_at_10"] <= 1.0
        assert r["n_graded_hits"] == sum(1 for d in ranked if (qid, d) in gold)


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402


@given(
    hst.lists(hst.integers(min_value=0, max_value=9), min_size=1, max_size=200),
    hst.integers(min_value=2, max_value=6),
)
@settings(max_examples=20, deadline=None)
def test_misra_gries_kernel_guarantee_hypothesis(stream, k):
    """The MG kernel (as the streaming operator runs it) satisfies
    both guarantees on arbitrary streams — no Spark needed: drive the
    pandas kernel directly with a fake GroupState."""
    import pandas as pd

    from gcp_cloudsql_airflow_bigquery_spark.streaming.streams import _make_mg_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

        @property
        def get(self):
            return self.value

    st = FakeState()
    pdf = pd.DataFrame(
        {"order_us": range(len(stream)), "item": stream}
    )
    (out,) = list(_make_mg_fn(k)(("t",), iter([pdf]), st))
    est = dict(zip(out["item"], out["est_count"]))
    n = len(stream)
    exact = Counter(stream)
    bound = n / (k + 1)
    assert len(est) <= k
    for item, c in exact.items():
        if c > bound:
            assert item in est, (item, c, bound, k)
        if item in est:
            assert c - bound <= est[item] <= c


def test_tokenizer_fertility_consistent_with_bpe_tokens(spark, sf_dir):
    """Fertility must be exactly the ratio of the per-doc BPE token
    sums (already differential-tested) to whitespace word counts,
    aggregated per source — and every fertility >= 1 (BPE never emits
    fewer tokens than words)."""
    per_doc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in llmdata.doc_bpe_tokens(spark, sf_dir).collect()
    }
    words = {}
    src = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        t = " ".join((r["text"] or "").lower().split())
        if t:
            words[r["doc_id"]] = len(t.split(" "))
            src[r["doc_id"]] = r["source"]
    agg: defaultdict = defaultdict(lambda: [0, 0, 0])
    for d, nb in per_doc.items():
        a = agg[src[d]]
        a[0] += 1
        a[1] += nb
        a[2] += words[d]
    out = {r["source"]: r for r in llmdata.doc_tokenizer_fertility(spark, sf_dir).collect()}
    assert out.keys() == agg.keys()
    for s, (nd, nb, nw) in agg.items():
        r = out[s]
        assert (r["n_docs"], r["n_bpe_tokens"], r["n_words"]) == (nd, nb, nw)
        assert r["fertility"] == pytest.approx(round(nb / nw, 6), abs=1e-9)
        assert r["fertility"] >= 1.0


def test_rake_matches_pure_python_reference(spark, sf_dir):
    """Replay RAKE (stopword islands, degree/frequency word scores,
    phrase sums, round-6 argmax with phrase tie-break) in pure Python
    for every document."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.textstats import STOPWORDS

    stops = set(STOPWORDS)
    out = {
        r["doc_id"]: (r["phrase"], r["n_words"], r["score"])
        for r in llmdata.doc_rake_keyphrases(spark, sf_dir).collect()
    }
    n_checked = 0
    for r in load_table(spark, sf_dir, "documents").collect():
        toks = (r["text"] or "").lower().split()
        phrases, cur = [], []
        for w in toks:
            if w in stops:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
        if not phrases:
            assert r["doc_id"] not in out
            continue
        n_checked += 1
        freq: Counter = Counter()
        deg: Counter = Counter()
        for p in phrases:
            for w in p:
                freq[w] += 1
                deg[w] += len(p)
        best = {}
        for p in phrases:
            txt = " ".join(p)
            score = round(sum(deg[w] / freq[w] for w in p), 6)
            best[txt] = (score, len(p))
        top = sorted(best.items(), key=lambda kv: (-kv[1][0], kv[0]))[0]
        got = out[r["doc_id"]]
        assert got[0] == top[0], r["doc_id"]
        assert got[1] == top[1][1]
        assert got[2] == pytest.approx(top[1][0], abs=2e-6)
    assert n_checked == len(out) and n_checked > 0


def test_transition_conformance_matches_sequential_reference(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        _ALLOWED_TRANSITIONS,
    )

    allowed = set(_ALLOWED_TRANSITIONS)
    by_user: defaultdict = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    out = {
        r["user_id"]: r
        for r in events.events_transition_conformance(spark, sf_dir).collect()
    }
    for uid, evs in by_user.items():
        evs.sort()
        pairs = [(a[2], b[2]) for a, b in zip(evs, evs[1:])]
        if not pairs:
            assert uid not in out
            continue
        viol = sum(1 for p in pairs if p not in allowed)
        r = out[uid]
        assert r["n_transitions"] == len(pairs)
        assert r["n_violations"] == viol
        assert r["violation_rate"] == pytest.approx(
            round(viol / len(pairs), 6), abs=1e-9
        )
        assert r["nonconforming"] == (r["violation_rate"] > 0.5)


def test_textrank_matches_pure_python_power_iteration(spark, sf_dir):
    """Replay the 2-round damped power iteration over the doc-local
    sentence-overlap graph in pure Python for every document."""
    import re

    out = {
        r["doc_id"]: (r["sent_idx"], r["sentence"], r["n_sentences"], r["score"])
        for r in llmdata.doc_textrank_sentence(spark, sf_dir).collect()
    }
    d = 0.85
    n_checked = 0
    for r in load_table(spark, sf_dir, "documents").collect():
        sents = [s.strip() for s in re.split(r"[.!?]+", r["text"] or "")]
        sw = [
            (i, s, set(re.split(r"\s+", s.lower())))
            for i, s in enumerate(sents)
            if s
        ]
        if not sw:
            assert r["doc_id"] not in out
            continue
        n_checked += 1
        n = len(sw)
        edges: defaultdict = defaultdict(dict)
        for ia, _, wa in sw:
            for ib, _, wb in sw:
                if ia == ib:
                    continue
                ov = len(wa & wb)
                if ov:
                    edges[ia][ib] = ov / (len(wa) + len(wb))
        out_w = {i: sum(ws.values()) for i, ws in edges.items()}
        s = {i: 1.0 / n for i, _, _ in sw}
        for _ in range(2):
            nxt = {}
            for i, _, _ in sw:
                c = sum(
                    edges[j][i] * s[j] / out_w[j]
                    for j in edges
                    if i in edges[j]
                )
                nxt[i] = (1 - d) / n + d * c
            s = nxt
        best = sorted(((round(v, 6), -i) for i, v in s.items()), reverse=True)[0]
        idx = -best[1]
        got = out[r["doc_id"]]
        assert got[0] == idx, r["doc_id"]
        assert got[1] == dict((i, t) for i, t, _ in sw)[idx]
        assert got[2] == n
        assert got[3] == pytest.approx(best[0], abs=2e-6)
    assert n_checked == len(out) and n_checked > 0


def test_textrank_synthetic_multisentence_graph(spark):
    """The fixture corpus has no sentence punctuation (each doc is one
    sentence, a trivial graph), so exercise the REAL power iteration
    on a synthetic doc: the hub sentence sharing words with every
    other sentence must win, and scores must match the pure-Python
    iteration."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.textstats import (
        textrank_top_sentence,
    )

    text = (
        "alpha beta gamma. alpha delta zeta! beta delta eta? "
        "theta iota kappa. alpha beta delta theta."
    )
    df = spark.createDataFrame([(1, text), (2, "solo sentence")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textrank_top_sentence(df).collect()}
    # doc 2: single sentence wins with the base score (1-d)/1
    assert out[2]["sentence"] == "solo sentence"
    assert out[2]["n_sentences"] == 1
    assert out[2]["score"] == pytest.approx(0.15, abs=1e-6)
    # doc 1: the hub sentence overlaps all four others
    assert out[1]["n_sentences"] == 5
    assert out[1]["sentence"] == "alpha beta delta theta"
    # pure-python replay of the same 2-round iteration
    import re

    sents = [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]
    sw = [(i, set(s.lower().split())) for i, s in enumerate(sents)]
    n, d = len(sw), 0.85
    edges: defaultdict = defaultdict(dict)
    for ia, wa in sw:
        for ib, wb in sw:
            if ia != ib and wa & wb:
                edges[ia][ib] = len(wa & wb) / (len(wa) + len(wb))
    out_w = {i: sum(v.values()) for i, v in edges.items()}
    s = {i: 1 / n for i, _ in sw}
    for _ in range(2):
        s = {
            i: (1 - d) / n
            + d * sum(edges[j][i] * s[j] / out_w[j] for j in edges if i in edges[j])
            for i, _ in sw
        }
    best_idx, best = max(s.items(), key=lambda kv: (round(kv[1], 6), -kv[0]))
    assert out[1]["sent_idx"] == best_idx
    assert out[1]["score"] == pytest.approx(round(best, 6), abs=2e-6)


def test_theilsen_matches_pure_python_median_slopes(spark, sf_dir):
    """Replay Theil-Sen (median pairwise slope, median residual
    intercept, linear-interpolated medians) in pure Python from the
    same weekly series, and pin robustness: a synthetic outlier week
    moves the OLS slope but not the Theil-Sen slope."""
    import statistics

    from gcp_cloudsql_airflow_bigquery_spark.plans import advanced

    out = {r["n_name"]: r for r in advanced.nation_revenue_theilsen(spark, sf_dir).collect()}
    # rebuild the weekly frame via the already-oracle-checked OLS twin's
    # inputs: collect (nation, week-start, revenue) in python
    li = load_table(spark, sf_dir, "lineitem").collect()
    orders = {r["o_orderkey"]: r["o_custkey"] for r in load_table(spark, sf_dir, "orders").collect()}
    cust = {r["c_custkey"]: r["c_nationkey"] for r in load_table(spark, sf_dir, "customer").collect()}
    nat = {r["n_nationkey"]: r["n_name"] for r in load_table(spark, sf_dir, "nation").collect()}
    wk: defaultdict = defaultdict(float)
    for r in li:
        d = r["l_shipdate"]
        monday = d.toordinal() - d.weekday()
        key = (nat[cust[orders[r["l_orderkey"]]]], monday)
        wk[key] = round(wk[key] + round(r["l_extendedprice"], 6), 6)
    w0 = min(m for _, m in wk)
    pts: defaultdict = defaultdict(list)
    for (nname, m), rev in wk.items():
        pts[nname].append(((m - w0) // 7, rev))

    def median(vals):
        vals = sorted(vals)
        n = len(vals)
        if n % 2:
            return vals[n // 2]
        return (vals[n // 2 - 1] + vals[n // 2]) / 2

    for nname, series in pts.items():
        slopes = [
            (rb - ra) / (xb - xa)
            for (xa, ra) in series
            for (xb, rb) in series
            if xa < xb
        ]
        sm = median(slopes)
        im = median([rev - sm * x for x, rev in series])
        r = out[nname]
        assert r["n_weeks"] == len(series)
        assert r["n_pairs"] == len(slopes)
        assert r["ts_slope"] == pytest.approx(round(sm, 4), abs=2e-3)
        assert r["ts_intercept"] == pytest.approx(round(im, 4), abs=2e-3)

    # robustness pin on synthetic data: one blowout week
    xs = list(range(10))
    ys = [100.0 + 10 * x for x in xs]
    ys[5] = 10_000.0
    slopes = [
        (ys[j] - ys[i]) / (j - i) for i in range(10) for j in range(i + 1, 10)
    ]
    assert median(slopes) == pytest.approx(10.0, abs=1.0)  # robust
    ols = statistics.linear_regression(xs, ys).slope
    assert abs(ols - 10.0) > 50  # OLS dragged by the outlier
