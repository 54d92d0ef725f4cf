"""Skew-mitigation plans: salted variants must be row-identical to the
naive formulations (checked via the DuckDB oracle)."""

from __future__ import annotations

from test_oracle import (  # noqa: F401
    oracle_test,
    rows_only_test,
    test_registry_keys_align,
)

test_scale_matches_oracle = oracle_test("scale")
# sketch-rollup estimates are engine-specific: the driver's weaker
# rows-only check applies; accuracy is pinned in tests/test_llmdata.py
test_scale_rows_only_runs = rows_only_test("scale")


def test_zorder_write_prunes_2d_boxes(spark, tmp_path):
    """Measured data-skipping evidence: after write_zordered, the
    fraction of parquet files whose (a, b) min/max stats intersect a
    small 2-D box must be far below the hash-layout fraction, and the
    filtered read must return identical rows from both layouts."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.skew import (
        write_zordered,
    )

    n, dim = 100_000, 1 << 12
    base = spark.range(n).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(dim)).alias("a"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(dim)).alias("b"),
        F.col("id").alias("v"),
    )
    zpath, hpath = str(tmp_path / "z"), str(tmp_path / "h")
    write_zordered(base, zpath, "a", "b", bits=12, num_files=16)
    base.repartition(16).write.mode("overwrite").parquet(hpath)

    def overlap_frac(path, lo, hi):
        import glob
        files = glob.glob(path + "/*.parquet")
        hit = 0
        for f in files:
            md = pq.read_metadata(f)
            amin = bmin = None
            amax = bmax = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                cols = {g.column(i).path_in_schema: g.column(i).statistics
                        for i in range(g.num_columns)}
                a_s, b_s = cols["a"], cols["b"]
                amin = a_s.min if amin is None else min(amin, a_s.min)
                amax = a_s.max if amax is None else max(amax, a_s.max)
                bmin = b_s.min if bmin is None else min(bmin, b_s.min)
                bmax = b_s.max if bmax is None else max(bmax, b_s.max)
            if amin <= hi and amax >= lo and bmin <= hi and bmax >= lo:
                hit += 1
        return hit / len(files)

    lo, hi = 0, dim // 8 - 1  # 1/8 of each dim -> 1/64 of the space
    zfrac, hfrac = overlap_frac(zpath, lo, hi), overlap_frac(hpath, lo, hi)
    assert hfrac == 1.0, "hash layout should overlap everywhere"
    assert zfrac <= 0.25, f"z-order touched {zfrac:.0%} of files"

    cond = (F.col("a") <= hi) & (F.col("b") <= hi)
    zrows = sorted(r.v for r in spark.read.parquet(zpath).filter(cond).collect())
    hrows = sorted(r.v for r in spark.read.parquet(hpath).filter(cond).collect())
    assert zrows == hrows and zrows


def test_grouped_topk_salted_equals_window(spark):
    """Two-phase salted top-k must reproduce the rank window verbatim
    on a skewed frame (one group holds 90% of rows), including the
    tie-break order among equal sort keys."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.skew import (
        grouped_topk_salted,
    )

    df = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, "hot").otherwise("cold").alias("g"),
        (F.col("id") % 97).cast("double").alias("score"),  # many ties
        F.col("id").alias("k"),
    )
    w = Window.partitionBy("g").orderBy(F.col("score").desc(), F.col("k"))
    want = {
        (r.g, r.k, r.score, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    item = F.struct(
        (-F.col("score")).alias("ns"), F.col("k").alias("k"),
        F.col("score").alias("score"),
    )
    got = {
        (r.g, r.item.k, r.item.score, r.rn)
        for r in grouped_topk_salted(df, ["g"], item, k=5).collect()
    }
    assert got == want


def test_join_key_overlap_estimate_accuracy(spark):
    """Planted partial overlap: estimates within 5% of exact counts
    (exact below the sketch's nominal-entries threshold)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.operators.sketches import (
        join_key_overlap_estimate,
    )

    left = spark.range(0, 1000).select(F.col("id").alias("k"))
    right = spark.range(600, 2000).select(F.col("id").alias("k"))
    r = join_key_overlap_estimate(left, "k", right, "k").first()
    assert abs(r.n_left_keys - 1000) <= 50
    assert abs(r.n_right_keys - 1400) <= 70
    assert abs(r.n_shared_keys - 400) <= 40
    assert 0.3 <= r.left_match_frac <= 0.5
    assert 0.2 <= r.right_match_frac <= 0.4
