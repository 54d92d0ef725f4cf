"""r8 wave-2 algorithm differentials: Adamic-Adar and decayed value
replayed in pure Python from the same parquet; structural properties
for the calibration bins and RM1 expansion (their value-level checks
are the DuckDB oracles)."""

from __future__ import annotations

import math

import duckdb

from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES, search

SF = "/root/testdata/sf0.001"


def test_adamic_adar_matches_python_replay(spark):
    """Independent pure-Python implementation (dict adjacency, no SQL)
    must reproduce the top-30 (pair, rounded score) set exactly."""
    li = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey "
        f"FROM read_parquet('{SF}/lineitem.parquet')"
    ).fetchall()
    by_order: dict[int, set[int]] = {}
    for o, p in li:
        by_order.setdefault(o, set()).add(p)
    pair_n: dict[tuple[int, int], int] = {}
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    edges = {p for p, n in pair_n.items() if n >= 2}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scores: dict[tuple[int, int], float] = {}
    for z, nbrs in adj.items():
        deg = len(nbrs)
        if deg < 2 or deg > 256:
            continue
        w = 1.0 / math.log(deg)
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for b in ns[i + 1 :]:
                scores[(a, b)] = scores.get((a, b), 0.0) + w
    want = sorted(
        (
            (round(s, 6), a, b)
            for (a, b), s in scores.items()
            if (a, b) not in edges
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:30]
    got = [
        (r.aa_score, r.a, r.b)
        for r in QUERIES["part_adamic_adar"](spark, SF).collect()
    ]
    assert got == want


def test_decay_value_matches_python_replay(spark):
    """Per-user decayed sum recomputed row-by-row in Python (same
    30-day half-life anchored at max event date)."""
    rows = duckdb.sql(
        f"SELECT user_id, CAST(ts AS DATE) AS d, value "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    anchor = max(d for _, d, _ in rows if d is not None)
    agg: dict[int, list[float]] = {}
    for u, d, v in rows:
        cnt_sum = agg.setdefault(u, [0, 0.0])
        cnt_sum[0] += 1
        if d is not None and v is not None:
            cnt_sum[1] += v * 0.5 ** ((anchor - d).days / 30.0)
    got = {
        r.user_id: (r.n_events, r.decayed_value)
        for r in QUERIES["events_decay_value"](spark, SF).collect()
    }
    assert set(got) == set(agg)
    for u, (n, s) in agg.items():
        assert got[u][0] == n
        assert abs(got[u][1] - round(s, 4)) <= 1e-4, u


def test_calibration_bins_structurally_sound(spark):
    """Bins in 0..9, counts sum to the corpus, frac_pos in [0,1], and
    avg_pred falls inside its own bin's score range."""
    rows = QUERIES["doc_quality_calibration"](spark, SF).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.frac_pos <= 1.0
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0 if r.bin < 9 else 1.0001
        assert lo - 1e-9 <= r.avg_pred <= hi + 1e-9
        assert r.sq_err_sum >= 0.0


def test_prf_expansion_excludes_query_terms_and_ranks(spark):
    """Expansion terms never repeat the query's own terms, at most 5
    per query, ranks contiguous from 1, rm1 non-increasing in rank."""
    out = QUERIES["search_prf_expansion"](spark, SF).collect()
    qterms = {
        qid: set(text.lower().split()) for qid, text in search._QUERY_BATCH
    }
    per_q: dict[int, list] = {}
    for r in out:
        assert r.term not in qterms[r.query_id]
        per_q.setdefault(r.query_id, []).append(r)
    for qid, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= search._PRF_TERMS
        rm1s = [r.rm1 for r in rs]
        assert all(x >= y - 1e-9 for x, y in zip(rm1s, rm1s[1:]))


def test_image_ahash_known_pattern_and_near_dup_banding(spark):
    """aHash on hand-built PPMs: a half-black/half-white image has a
    known hash (top rows 0x00, bottom rows 0xff); flipping ≤3 cells
    keeps it within Hamming 3 (found by the banded pair join), while
    the inverted image is Hamming 64 (excluded)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        encode_ppm,
        image_ahash,
    )

    def img(cells):  # cells: 64 ints in {0, 255}, row-major 8x8
        rgb = bytes(c for v in cells for c in (v, v, v))
        return encode_ppm(8, 8, rgb)

    base = [0] * 32 + [255] * 32          # bottom half bright
    near = list(base)
    for i in (32, 33, 34):                # flip 3 bright cells dark
        near[i] = 0
    inv = [255 - v for v in base]
    rows = [
        (1, "image", img(base), "image/x-portable-pixmap", 8, 8, None),
        (2, "image", img(near), "image/x-portable-pixmap", 8, 8, None),
        (3, "image", img(inv), "image/x-portable-pixmap", 8, 8, None),
        (4, "audio", b"not an image", "audio/wav", None, None, 4),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, content binary, mime string, "
        "width int, height int, duration_ms int",
    )
    hashed = image_ahash(media)
    got = {r.media_id: r for r in hashed.collect()}
    assert set(got) == {1, 2, 3}          # audio row dropped
    assert got[1].ahash_hex == "00000000ffffffff"
    assert got[3].ahash_hex == "ffffffff00000000"
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in ahash_near_dup_pairs(hashed, max_hamming=3).collect()
    }
    assert pairs == {(1, 2): 3}           # near-dup found, inverse not


def test_ahash_near_dup_rejects_uncoverable_radius(spark):
    """4 x 16-bit pigeonhole banding only guarantees candidate
    completeness for Hamming distance <= 3; larger radii must fail
    loudly instead of silently under-recalling (ADVICE r8)."""
    import pytest as _pytest

    from gcp_cloudsql_airflow_bigquery_spark.operators.multimodal import (
        ahash_near_dup_pairs,
    )

    dummy = spark.range(1).selectExpr(
        "id AS media_id", "'00' AS ahash_hex",
        "0 AS b0", "0 AS b1", "0 AS b2", "0 AS b3",
    )
    with _pytest.raises(ValueError, match="pigeonhole"):
        ahash_near_dup_pairs(dummy, max_hamming=4)
    # <= 3 still accepted
    assert ahash_near_dup_pairs(dummy, max_hamming=3).count() == 0


def test_weekday_chi2_critical_value_derived_from_dof(spark, sf_dir):
    """The 5%% critical value must track the emitted dof (ADVICE r8:
    a hard-coded dof-24 constant went silently wrong under fixture
    drift); beyond the dof-30 table the Wilson-Hilferty fallback must
    agree with a python replay."""
    import math

    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        _CHI2_CRIT_5PCT,
        events_weekday_chi2,
    )

    row = events_weekday_chi2(spark, sf_dir).collect()[0]
    assert row.crit_5pct == _CHI2_CRIT_5PCT[row.dof]
    assert row.dependent_5pct == (row.chi2 > row.crit_5pct)

    # Wilson-Hilferty branch (dof > 30): spark expression vs python
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        _chi2_crit_spark,
    )

    got = (
        spark.range(1)
        .select(_chi2_crit_spark(F.lit(40).cast("long")).alias("c"))
        .collect()[0]
        .c
    )
    d = 40.0
    want = round(d * (1 - 2 / (9 * d) + 1.6449 * math.sqrt(2 / (9 * d))) ** 3, 3)
    assert got == want  # true value 55.758; WH gives ~55.75
