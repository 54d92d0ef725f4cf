"""Unit tests for the data-quality operators: PII redaction sequencing,
sequence-packing invariants, decontamination on handcrafted frames, and
table profiling with nulls."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.operators import (
    curation,
    graph,
    privacy,
    profiling,
)


# --- privacy -------------------------------------------------------------

def test_redact_all_pii_classes(spark):
    df = spark.createDataFrame(
        [(1, "mail a@b.co see https://x.io/p?q=1 host 10.0.0.1 tel +1 555-010-9999 done")],
        "doc_id long, text string",
    )
    row = privacy.redact_pii(df).first()
    assert (row.n_email, row.n_url, row.n_ip, row.n_phone) == (1, 1, 1, 1)
    assert row.redacted == "mail <EMAIL> see <URL> host <IP> tel <PHONE> done"


def test_redact_no_double_count(spark):
    # an IP and a URL both contain digit runs the phone pattern matches;
    # sequential staging must not re-count them as phones
    df = spark.createDataFrame(
        [(1, "10.1.2.3 and http://a.io/1234567890 only")],
        "doc_id long, text string",
    )
    row = privacy.redact_pii(df).first()
    assert row.n_ip == 1 and row.n_url == 1 and row.n_phone == 0
    assert "<PHONE>" not in row.redacted


def test_redact_clean_text_is_identity(spark):
    df = spark.createDataFrame([(1, "nothing sensitive here")], "doc_id long, text string")
    row = privacy.redact_pii(df).first()
    assert row.redacted == "nothing sensitive here"
    assert row.n_email == row.n_url == row.n_ip == row.n_phone == 0


# --- packing -------------------------------------------------------------

def test_pack_bins_rejects_bad_budget(spark):
    df = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, source string")
    with pytest.raises(ValueError):
        curation.pack_bins(df, budget=0)


def test_pack_bins_offsets_and_bins(spark):
    # 3 docs of 4 tokens each in one source at budget 6:
    # starts 0,4,8 -> bins 0,0,1
    rows = [(i, "w w w w", "s") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in curation.pack_bins(df, budget=6).collect()}
    assert [out[i].tok_start for i in range(3)] == [0, 4, 8]
    assert [out[i].bin_id for i in range(3)] == [0, 0, 1]
    # offsets are gapless: start_{i+1} = start_i + n_tokens_i
    assert all(out[i + 1].tok_start == out[i].tok_start + out[i].n_tokens for i in range(2))


# --- decontamination -----------------------------------------------------

def test_decontaminate_finds_only_true_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different words with no benchmark overlap at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix words the quick brown fox jumps over the lazy dog suffix")],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_shared for r in curation.decontaminate(train, bench, n=8).collect()}
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits


# --- profiling -----------------------------------------------------------

def test_profile_counts_nulls_and_extremes(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, 5), (4, 9)], "k long, v long"
    )
    prof = {r.column_name: r for r in profiling.profile_table(df, exact_distinct=True).collect()}
    assert prof["v"].n_nulls == 1
    assert prof["v"].n_distinct == 2
    assert prof["v"].min_value == "5" and prof["v"].max_value == "9"
    assert prof["k"].n_rows == 4 and prof["k"].n_nulls == 0


# --- mixing --------------------------------------------------------------

def test_mix_rates_weights_sum_to_one(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import mixing

    docs = load_table(spark, sf_dir, "documents")
    rates = mixing.mix_rates(docs, source_col="lang", temperature=0.5).collect()
    assert abs(sum(r.weight for r in rates) - 1.0) < 1e-9
    # skewed corpus: the largest source downsamples, the smallest upsamples
    by_n = sorted(rates, key=lambda r: r.n_docs)
    assert by_n[-1].rate < 1.0 < by_n[0].rate


def test_resample_hits_expected_sizes(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import mixing

    docs = load_table(spark, sf_dir, "documents")
    rates = mixing.mix_rates(docs, source_col="lang", temperature=0.5)
    out = mixing.resample(docs, rates, source_col="lang")
    got = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    want = {r.lang: r.rate * r.n_docs for r in rates.collect()}
    for lang, target in want.items():
        # hash-Bernoulli on the fractional part: binomial tolerance
        assert abs(got.get(lang, 0) - target) <= max(4 * (target ** 0.5), 4), lang
    # determinism: second materialization is identical
    again = mixing.resample(docs, rates, source_col="lang")
    assert out.select("doc_id", "epoch").exceptAll(again.select("doc_id", "epoch")).count() == 0


def test_shard_order_positions_gapless(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import mixing

    docs = load_table(spark, sf_dir, "documents")
    out = mixing.shard_order(docs, n_shards=4)
    stats = out.groupBy("shard").agg(
        F.count("*").alias("n"), F.min("position").alias("lo"), F.max("position").alias("hi")
    ).collect()
    assert {r.shard for r in stats} <= set(range(4))
    for r in stats:
        assert r.lo == 0 and r.hi == r.n - 1  # dense 0..n-1 within shard


def test_mixing_rejects_bad_params(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import mixing

    df = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    with pytest.raises(ValueError):
        mixing.mix_rates(df, temperature=0.0)
    with pytest.raises(ValueError):
        mixing.shard_order(df, n_shards=0)


# --- pagerank ------------------------------------------------------------

def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from gcp_cloudsql_airflow_bigquery_spark.operators import graph

    # weighted digraph with a dangling node (3 has no out-edges)
    edges = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r.node: r.rank
        for r in graph.pagerank(df, weight="w", max_iter=100).collect()
    }

    n, d = 4, 0.85
    P = np.zeros((n, n))
    for s, t, w in edges:
        P[s, t] = w
    out = P.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(200):
        emitted = np.zeros(n)
        for s in range(n):
            if out[s] > 0:
                emitted += r[s] * P[s] / out[s]
        dangling = r[out == 0].sum()
        r = (1 - d) / n + d * (emitted + dangling / n)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-6, (i, got[i], r[i])


def test_event_type_pagerank_runs(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    rows = QUERIES["event_type_pagerank"](spark, sf_dir).collect()
    assert len(rows) == 5  # five event types
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-3


# --- graph.iterate: the fixed-round driver -------------------------------

def _plan_nodes(df):
    """Node count of the optimized logical plan."""
    n, stack = 0, [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        n += 1
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return n


def _small_graph(spark):
    return spark.createDataFrame(
        [(0, 1, 2), (0, 2, 1), (1, 2, 1), (2, 0, 1), (1, 3, 1), (3, 4, 1)],
        "a long, b long, n long",
    )


_LOOPS = {
    "pagerank": lambda spark, sf: graph.pagerank(
        _small_graph(spark), src="a", dst="b", weight="n", broadcast_ranks=True
    ),
    "label_propagation": lambda spark, sf: graph.label_propagation(
        _small_graph(spark), weight="n", broadcast_labels=True
    ),
    "k_core": lambda spark, sf: graph.k_core(_small_graph(spark), k=2),
    "event_type_hits": None,
    "events_markov_stationary": None,
}


@pytest.mark.parametrize("loop", list(_LOOPS))
def test_iterate_round_templates_read_their_state_once(spark, sf_dir, monkeypatch, loop):
    """Every round template a caller fuses through ``graph.iterate``
    reads ``{prev}`` once: uncut, 8 rounds plan at most about 2.5x the
    nodes of 4 (a template reading it twice would make that about 16x).
    A caller that cuts every round (PageRank, whose 1-row total reads
    the round's contributions twice) fuses nothing, so its second read
    does not compound."""
    from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES

    calls, real = [], graph.iterate

    def spy(state, round_sql, rounds, **kw):
        calls.append((state, round_sql, kw))
        return real(state, round_sql, rounds, **kw)

    monkeypatch.setattr(graph, "iterate", spy)
    (_LOOPS[loop] or QUERIES[loop])(spark, sf_dir)
    assert calls, loop
    for state, round_sql, kw in calls:
        if kw["cut_every"] == 1:
            continue
        kw = {**kw, "cut_every": None}
        n4 = _plan_nodes(real(state, round_sql, 4, **kw))
        n8 = _plan_nodes(real(state, round_sql, 8, **kw))
        assert n8 <= 2.5 * n4, (loop, n4, n8)


def test_iterate_contract(spark):
    """``rounds=0`` returns the initial state; an uncut build submits no
    Spark job; every cut cadence gives the same state, cut after its
    last statement too; and the plan-size check above does catch a
    template that reads ``{prev}`` twice."""
    state = spark.range(3).select(F.col("id").alias("x"))
    step = "SELECT x + :d AS x FROM {prev}"
    assert graph.iterate(state, step, 0, cut_every=None) is state

    sc = spark.sparkContext
    sc.setJobGroup("iterate_build", "iterate construction")
    try:
        graph.iterate(state, step, 6, cut_every=None, args={"d": 1})
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup("iterate_build")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    for cut_every in (None, 1, 2, 5, 7):
        got = graph.iterate(state, step, 5, cut_every=cut_every, args={"d": 1})
        assert sorted(r.x for r in got.collect()) == [5, 6, 7], cut_every
        assert (_plan_nodes(got) == 1) == (cut_every is not None), cut_every

    twice = "SELECT a.x FROM {prev} a JOIN {prev} b ON a.x = b.x"
    n4, n8 = (
        _plan_nodes(graph.iterate(state, twice, r, cut_every=None)) for r in (4, 8)
    )
    assert n8 > 10 * n4


# --- pack_bins property test ---------------------------------------------

from hypothesis import given, settings, strategies as st


_pack_case = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(1, 40), st.sampled_from(["a", "b"])),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None)
@given(_pack_case, st.sampled_from([7, 32, 100]))
def test_pack_bins_matches_pandas_cumsum(case, budget):
    # hypothesis can't inject pytest fixtures; reuse the session singleton
    from gcp_cloudsql_airflow_bigquery_spark.operators import curation
    from gcp_cloudsql_airflow_bigquery_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(doc_id, " ".join(["w"] * n_words), src) for doc_id, n_words, src in case]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.doc_id: (r.n_tokens, r.tok_start, r.bin_id)
        for r in curation.pack_bins(df, budget=budget).collect()
    }
    # pandas reference: per-source cumulative offsets in doc_id order
    import pandas as pd

    pdf = pd.DataFrame(case, columns=["doc_id", "n", "src"]).sort_values(["src", "doc_id"])
    pdf["start"] = pdf.groupby("src")["n"].cumsum() - pdf["n"]
    for r in pdf.itertuples():
        n, start, bin_id = got[r.doc_id]
        assert n == r.n
        assert start == r.start
        assert bin_id == r.start // budget


def test_map_in_arrow_matches_pandas_path(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = multimodal.attach_fake_media(docs)
    via_arrow = {
        r.media_id: (r.n_bytes, r.checksum)
        for r in multimodal.extract_features_arrow(media).collect()
    }
    via_pandas = {
        r.media_id: (r.n_bytes, r.checksum)
        for r in multimodal.extract_features(media).collect()
    }
    assert via_arrow == via_pandas


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 100_000), st.sampled_from(["s0", "s1", "s2"])),
        min_size=3,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([0.3, 0.7, 1.0]),
)
def test_mix_rates_match_closed_form(case, temperature):
    import math

    from gcp_cloudsql_airflow_bigquery_spark.operators import mixing
    from gcp_cloudsql_airflow_bigquery_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    df = spark.createDataFrame(case, "doc_id long, source string")
    got = {r.source: r for r in mixing.mix_rates(df, temperature=temperature).collect()}
    counts: dict[str, int] = {}
    for _, s in case:
        counts[s] = counts.get(s, 0) + 1
    total = sum(counts.values())
    wsum = sum(n ** temperature for n in counts.values())
    for s, n in counts.items():
        w = n ** temperature / wsum
        assert math.isclose(got[s].weight, w, rel_tol=1e-9), s
        assert math.isclose(got[s].rate, w * total / n, rel_tol=1e-9), s
    # at T=1 the mix is the natural distribution: every rate is exactly 1
    if temperature == 1.0:
        assert all(math.isclose(r.rate, 1.0, rel_tol=1e-12) for r in got.values())


def test_zorder_key_matches_python_interleave(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators import skew

    def morton(a, b, bits=16):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 1024, 65535)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", skew.zorder_key(F.col("a"), F.col("b")).alias("z")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == morton(a, b), (a, b)
    # locality: the 2x2 block (0,0),(1,0),(0,1),(1,1) occupies keys 0..3
    block = sorted(morton(a, b) for a in (0, 1) for b in (0, 1))
    assert block == [0, 1, 2, 3]


# --- live JDBC (embedded Derby) ------------------------------------------

def _derby_seed(spark, db):
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};create=true")
    st = conn.createStatement()
    st.execute("CREATE TABLE people (id INT, name VARCHAR(20), score DOUBLE)")
    for i in range(1, 21):
        st.execute(f"INSERT INTO people VALUES ({i},'n{i}',{i}.5)")
    st.close()
    return f"jdbc:derby:memory:{db}"


def test_jdbc_query_pushdown_roundtrip(spark):
    from gcp_cloudsql_airflow_bigquery_spark.config import SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark.sources import jdbc

    url = _derby_seed(spark, "t_push")
    spec = SourceSpec(kind="jdbc", url=url, driver="org.apache.derby.jdbc.EmbeddedDriver")
    df = jdbc.read_jdbc(spark, spec, query="SELECT id, name FROM people WHERE id > 15")
    rows = df.collect()
    assert {r.ID for r in rows} == {16, 17, 18, 19, 20}
    assert df.columns == ["ID", "NAME"]  # schema from ResultSetMetaData


def test_jdbc_partitioned_parallel_extract(spark):
    from gcp_cloudsql_airflow_bigquery_spark.config import SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark.sources import jdbc

    url = _derby_seed(spark, "t_part")
    spec = SourceSpec(
        kind="jdbc",
        url=url,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        partition_column="ID",
        lower_bound=1,
        upper_bound=21,
        num_partitions=4,
    )
    df = jdbc.read_jdbc(spark, spec, query="SELECT id, score FROM people")
    assert df.rdd.getNumPartitions() == 4  # real range-partitioned extract
    assert df.count() == 20
    assert abs(sum(r.SCORE for r in df.collect()) - sum(i + 0.5 for i in range(1, 21))) < 1e-9


def test_full_reference_shape_pipeline_from_live_jdbc(spark, tmp_path):
    """The reference's whole v2 DAG, live: JDBC extract (real Derby) ->
    lossy type map -> name sanitization -> WRITE_TRUNCATE load ->
    stage_final_query finalize (the declared-but-unwired op I, made
    real)."""
    from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark import pipeline as pl

    url = _derby_seed(spark, "t_pipe")
    spec = PipelineSpec(
        export_table="people",
        source=SourceSpec(
            kind="jdbc", url=url, driver="org.apache.derby.jdbc.EmbeddedDriver"
        ),
        export_query="SELECT id, name, score FROM people WHERE id <= 10",
        source_types={"ID": "int", "NAME": "varchar", "SCORE": "double"},
        type_mode="legacy",
        stage_final_query=(
            "SELECT COUNT(*) AS n_rows, SUM(SCORE) AS total FROM people_stage"
        ),
        final_table="people_summary",
    )
    wh = pl.Warehouse(str(tmp_path / "wh"))
    res = pl.run_pipeline(spark, spec, wh)
    assert res.rows_written == 10 and res.attempts == 1
    staged = spark.read.parquet(wh.path("people"))
    # legacy type map: INT -> LongType, DOUBLE stays double, VARCHAR -> string
    kinds = dict(staged.dtypes)
    assert kinds["ID"] == "bigint" and kinds["SCORE"] == "double"
    final = spark.read.parquet(wh.path("people_summary")).first()
    assert final.n_rows == 10
    assert abs(final.total - sum(i + 0.5 for i in range(1, 11))) < 1e-9


def test_reference_three_table_dag_with_join_finalize(spark, tmp_path):
    """The reference's exact table set (2 dims + 1 fact, README.md:6,
    get_tables() at cloudsql_to_bigquery.py:82-84) through the pipeline
    loop, then the docstring's step 3 — 'join the stage table with the
    existing table' (cloudsql_to_bigquery.py:11) — actually executed."""
    from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark import pipeline as pl

    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection("jdbc:derby:memory:t_dag;create=true")
    st = conn.createStatement()
    st.execute("CREATE TABLE DimAge (age_id INT, bracket VARCHAR(10))")
    st.execute("INSERT INTO DimAge VALUES (1,'young'),(2,'old')")
    st.execute("CREATE TABLE DimPerson (person_id INT, name VARCHAR(20))")
    st.execute("INSERT INTO DimPerson VALUES (10,'ada'),(11,'bob')")
    st.execute("CREATE TABLE FactPerson (person_id INT, age_id INT, amount DOUBLE)")
    st.execute("INSERT INTO FactPerson VALUES (10,1,5.0),(11,2,7.0),(10,2,3.0)")
    st.close()
    src = SourceSpec(
        kind="jdbc",
        url="jdbc:derby:memory:t_dag",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    specs = [
        PipelineSpec(export_table="DimAge", source=src),
        PipelineSpec(export_table="DimPerson", source=src),
        PipelineSpec(
            export_table="FactPerson",
            source=src,
            stage_final_query="""
                SELECT p.NAME AS name, a.BRACKET AS bracket,
                       SUM(f.AMOUNT) AS total
                FROM FactPerson_stage f
                JOIN DimPerson_stage p ON f.PERSON_ID = p.PERSON_ID
                JOIN DimAge_stage a ON f.AGE_ID = a.AGE_ID
                GROUP BY p.NAME, a.BRACKET
            """,
            final_table="person_rollup",
        ),
    ]
    wh = pl.Warehouse(str(tmp_path / "wh"))
    results = pl.run_pipelines(spark, specs, wh)
    assert [r.rows_written for r in results] == [2, 2, 3]
    rollup = {
        (r.name, r.bracket): r.total
        for r in spark.read.parquet(wh.path("person_rollup")).collect()
    }
    assert rollup == {("ada", "young"): 5.0, ("ada", "old"): 3.0, ("bob", "old"): 7.0}


def test_jdbc_schema_scan_parity(spark):
    """Op B against a live catalog: Derby's SYS tables standing in for
    INFORMATION_SCHEMA.COLUMNS (same projection, same ordering)."""
    from gcp_cloudsql_airflow_bigquery_spark.config import SourceSpec
    from gcp_cloudsql_airflow_bigquery_spark.functions.typemap import bq_type_for
    from gcp_cloudsql_airflow_bigquery_spark.sources import jdbc

    url = _derby_seed(spark, "t_schema")
    spec = SourceSpec(kind="jdbc", url=url, driver="org.apache.derby.jdbc.EmbeddedDriver")
    derby_q = """
        SELECT c.COLUMNNAME AS column_name,
               CAST(c.COLUMNDATATYPE AS VARCHAR(40)) AS data_type
        FROM SYS.SYSCOLUMNS c
        JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID
        WHERE t.TABLENAME = 'PEOPLE'
        ORDER BY c.COLUMNNUMBER
    """
    rows = jdbc.scan_schema(spark, spec, "PEOPLE", derby_q).collect()
    assert [r.COLUMN_NAME for r in rows] == ["ID", "NAME", "SCORE"]
    # and the scanned types drive the reference's 5-type collapse (op C)
    mapped = [bq_type_for(r.DATA_TYPE) for r in rows]
    assert mapped == ["INTEGER", "STRING", "FLOAT"]


def test_curate_corpus_end_to_end(spark, tmp_path):
    """The executable curation pipeline: audit counts are monotone
    non-increasing through the gates, agree with the operator stages,
    and the written corpus is split-partitioned."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
    from gcp_cloudsql_airflow_bigquery_spark.operators import curation
    from gcp_cloudsql_airflow_bigquery_spark.pipeline import curate_corpus

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    splits = curation.assign_splits(docs)
    bench = splits.filter(F.col("split") == "test").select("doc_id", "text")
    out = str(tmp_path / "curated")
    audit = curate_corpus(spark, docs, out, benchmark=bench)
    assert (
        audit["raw"]
        >= audit["quality_gate"]
        >= audit["exact_dedup"]
        >= audit["decontaminated"]
        >= 1
    )
    assert audit["written"] == audit["decontaminated"]
    curated = spark.read.parquet(out)
    assert set(r.split for r in curated.select("split").distinct().collect()) <= {
        "train",
        "val",
        "test",
    }
    # no contaminated doc survived: overlap vs benchmark is empty
    leaked = curation.decontaminate(curated, bench, n=8)
    assert leaked.count() == 0


def test_label_propagation_two_planted_communities(spark):
    """label_propagation: two densely connected triangles joined by a
    weak bridge resolve to exactly two communities split on the
    bridge; rerunning gives the identical labeling (synchronous
    rounds + smallest-label tie-break = deterministic)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [
            (1, 2, 10), (1, 3, 10), (2, 3, 10),   # community A
            (4, 5, 10), (4, 6, 10), (5, 6, 10),   # community B
            (3, 4, 1),                              # weak bridge
        ],
        ["a", "b", "n"],
    )
    got = {
        r.node: r.community
        for r in label_propagation(edges, weight="n", rounds=5).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]
    again = {
        r.node: r.community
        for r in label_propagation(edges, weight="n", rounds=5).collect()
    }
    assert got == again


def test_curate_corpus_leakage_safe_splits(spark, tmp_path):
    """curate_corpus(leakage_safe_splits=True): surviving near-dup
    docs land in the SAME split even when their individual id hashes
    bucket differently (doc 4 -> train, doc 5 -> test under the plain
    rule), and the audit/partition contract is unchanged."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_airflow_bigquery_spark.pipeline import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps near the old barn while the fox waits for the night "
    ) * 3
    rows = [
        (3, "a completely different story about rivers and the mountains "
            "that the travellers crossed on the way to the sea " * 3),
        (4, base),
        (5, base + " one extra tail sentence to keep the pair inexact"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = str(tmp_path / "curated_ls")
    audit = curate_corpus(spark, docs, out, leakage_safe_splits=True)
    curated = spark.read.parquet(out)
    got = {r.doc_id: r.split for r in curated.collect()}
    # near-dup exact-survivors: exact dedup keeps both 4 and 5 (texts
    # differ), and the cluster-keyed split puts them together
    assert audit["written"] == 3
    assert got[4] == got[5] == "train"  # min-id rep 4 hashes to train
    assert got[3] == "test"             # singleton keeps its own bucket


def test_k_core_clique_survives_chain_peels(spark):
    """k_core: a 4-clique (every degree 3) survives 3-core peeling;
    a pendant chain hanging off it peels away round by round; the
    surviving degrees are the within-core degrees."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import k_core

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    edges = spark.createDataFrame(clique + chain, ["a", "b"])
    got = {r.node: r.core_degree for r in k_core(edges, k=3, rounds=6).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2: the chain still peels (endpoints have degree 1), clique stays
    got2 = {r.node: r.core_degree for r in k_core(edges, k=2, rounds=6).collect()}
    assert set(got2) == {1, 2, 3, 4}


from hypothesis import given, settings, strategies as st


@st.composite
def _edge_list(draw):
    n = draw(st.integers(4, 10))
    edges = draw(
        st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=20,
        )
    )
    return [(a, b) for a, b in edges if a != b][: n * 2] or [(0, 1)]


def _py_kcore(edges, k, rounds):
    cur = set()
    for a, b in edges:
        cur.add((a, b))
        cur.add((b, a))
    for _ in range(rounds):
        deg = {}
        for u, _v in cur:
            deg[u] = deg.get(u, 0) + 1
        alive = {u for u, d in deg.items() if d >= k}
        cur = {(u, v) for u, v in cur if u in alive and v in alive}
    out = {}
    for u, _v in cur:
        out[u] = out.get(u, 0) + 1
    return out


@settings(max_examples=6, deadline=None)
@given(_edge_list(), st.integers(1, 3), st.integers(0, 5))
def test_k_core_matches_python_reference(spark, edges, k, rounds):
    """Property: fixed-round k_core ≡ the pure-Python peeling
    reference on arbitrary small multigraphs (dedup + symmetrize +
    peel are engine-independent set arithmetic), for both window
    orders of a round and for zero rounds."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r.node: r.core_degree for r in k_core(df, k=k, rounds=rounds).collect()}
    assert got == _py_kcore(edges, k, rounds)


def test_k_core_builds_without_jobs_one_exchange_per_round(spark):
    """k_core is one lazy plan: building it submits no Spark job, and
    each added round adds exactly one Exchange (the round's first
    window reuses the partitioning the previous round left)."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import k_core

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], ["a", "b"])
    sc = spark.sparkContext
    sc.setJobGroup("k_core_build", "k_core construction")
    try:
        k_core(edges, k=2, rounds=6)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup("k_core_build")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def exchanges(r):
        plan = k_core(edges, k=2, rounds=r)._jdf.queryExecution().executedPlan()
        return plan.toString().count("Exchange")

    for r in range(4):
        assert exchanges(r + 2) - exchanges(r) == 2, r


def test_k_core_empty_input(spark):
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import k_core

    edges = spark.createDataFrame([], "a long, b long")
    out = k_core(edges, k=2, rounds=3)
    assert out.columns == ["node", "core_degree"]
    assert out.collect() == []


def _py_lpa(edges_w, rounds):
    w = {}
    for a, b, n in edges_w:
        if a == b:
            continue
        w[(a, b)] = w.get((a, b), 0) + n
        w[(b, a)] = w.get((b, a), 0) + n
    nodes = {u for u, _v in w}
    lab = {u: u for u in nodes}
    for _ in range(rounds):
        votes = {}
        for (u, v), ww in w.items():
            key = (v, lab[u])
            votes[key] = votes.get(key, 0) + ww
        new = {}
        for v in nodes:
            cand = [(s, l) for (vv, l), s in votes.items() if vv == v]
            new[v] = sorted(cand, key=lambda x: (-x[0], x[1]))[0][1]
        lab = new
    return lab


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7), st.integers(1, 5)),
        min_size=1,
        max_size=15,
    )
)
def test_label_propagation_matches_python_reference(spark, edges_w):
    """Property: synchronous LPA with smallest-label tie-breaks ≡ the
    pure-Python reference on arbitrary small weighted multigraphs."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.graph import (
        label_propagation,
    )

    edges_w = [(a, b, n) for a, b, n in edges_w if a != b]
    if not edges_w:
        edges_w = [(0, 1, 1)]
    df = spark.createDataFrame(edges_w, ["a", "b", "n"])
    got = {
        r.node: r.community
        for r in label_propagation(df, weight="n", rounds=3).collect()
    }
    assert got == _py_lpa(edges_w, 3)
