"""Structured Streaming tests: watermarked windows, stateful dedup,
custom stateful operator — driven with availableNow triggers into
memory sinks (SURVEY.md §7 M3)."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table
from gcp_cloudsql_airflow_bigquery_spark.streaming import streams, windows


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """events table re-materialized as NDJSON chunks (the v2 interchange
    shape) for file-source streaming."""
    out = str(tmp_path_factory.mktemp("events_ndjson"))
    load_table(spark, sf_dir, "events").coalesce(3).write.mode("overwrite").json(out)
    return out


def test_stream_tumbling_matches_batch(spark, sf_dir, event_dir):
    stream = streams.read_event_stream(spark, event_dir)
    streams.run_to_memory(
        streams.windowed_counts_stream(stream), "t_tumbling", output_mode="complete"
    )
    got = {
        (r.w_start, r.event_type): r.n_events
        for r in spark.table("t_tumbling").collect()
    }
    batch = load_table(spark, sf_dir, "events")
    want = {
        (r.w_start, r.event_type): r.n_events
        for r in windows.tumbling_counts(batch).collect()
    }
    assert got == want


def test_stream_dedup_within_watermark(spark, event_dir, tmp_path):
    """Duplicate event_ids across chunks must be emitted exactly once."""
    dup_dir = str(tmp_path / "dups")
    base = spark.read.json(event_dir).limit(200)
    base.union(base).coalesce(2).write.mode("overwrite").json(dup_dir)
    stream = streams.read_event_stream(spark, dup_dir)
    streams.run_to_memory(
        streams.dedup_stream(stream), "t_dedup", output_mode="append"
    )
    out = spark.table("t_dedup")
    assert out.count() == out.select("event_id").distinct().count()
    assert out.count() == 200


def test_stream_running_user_totals(spark, sf_dir, event_dir):
    """Custom stateful operator: final per-user emission equals the
    batch aggregate (state survives micro-batch boundaries)."""
    stream = streams.read_event_stream(spark, event_dir, max_files_per_trigger=1)
    streams.run_to_memory(
        streams.running_user_totals(stream), "t_running", output_mode="update"
    )
    # memory sink in update mode appends each emission; the LAST per user
    # is the running total after its final batch
    emissions = spark.table("t_running").collect()
    final: dict[int, tuple[int, float]] = {}
    for r in emissions:  # in emission order
        final[r.user_id] = (r.n_events, r.total_value)
    batch = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, round(r.total, 6))
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert {u: v[0] for u, v in final.items()} == {u: v[0] for u, v in want.items()}
    for u in want:
        assert abs(final[u][1] - want[u][1]) < 1e-3


def test_stream_sessionization_append(spark, event_dir):
    """Watermarked session windows in append mode: sessions closed by
    the final watermark are emitted, each with >=1 event."""
    stream = streams.read_event_stream(spark, event_dir)
    streams.run_to_memory(
        streams.sessionized_stream(stream), "t_sessions", output_mode="append"
    )
    out = spark.table("t_sessions")
    assert out.filter(F.col("n_events") < 1).count() == 0
    assert out.filter(F.col("session_end") <= F.col("session_start")).count() == 0


def test_stream_static_enrichment(spark, sf_dir, event_dir):
    """Stream-static join: per-batch broadcast against the customer dim;
    result matches the batch-mode join."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = streams.read_event_stream(spark, event_dir)
    enriched = streams.enriched_stream(stream, dim).groupBy("c_mktsegment").count()
    streams.run_to_memory(enriched, "t_enriched", output_mode="complete")
    got = {r.c_mktsegment: r["count"] for r in spark.table("t_enriched").collect()}
    batch = load_table(spark, sf_dir, "events").join(dim, "user_id", "left")
    want = {
        r.c_mktsegment: r["count"]
        for r in batch.groupBy("c_mktsegment").count().collect()
    }
    assert got == want


def test_stream_foreach_batch_merge(spark, event_dir, tmp_path):
    """foreachBatch upsert: after streaming all chunks, the target holds
    exactly one row per event_id (last write wins on the merge key)."""
    target = str(tmp_path / "merged")
    stream = streams.read_event_stream(
        spark, event_dir, max_files_per_trigger=1
    ).select("event_id", "ts", "user_id", "value")
    streams.foreach_batch_merge(stream, target, ["event_id"])
    merged = spark.read.parquet(target)
    assert merged.count() == merged.select("event_id").distinct().count()
    src = spark.read.schema(streams.EVENT_SCHEMA).json(event_dir)
    assert merged.count() == src.select("event_id").distinct().count()


def test_stream_stream_attribution_join(spark, event_dir):
    stream = streams.read_event_stream(spark, event_dir)
    streams.run_to_memory(
        streams.attribution_join_stream(stream), "t_attrib", output_mode="append"
    )
    got = {
        (r.click_id, r.purchase_id) for r in spark.table("t_attrib").collect()
    }
    # batch equivalent over the same files
    batch = spark.read.schema(streams.EVENT_SCHEMA).json(event_dir)
    clicks = batch.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert want, "fixture should produce at least one attributed pair"
    # every batch pair must be found by the stream (watermark may not drop
    # any here: the fixture replays in bounded micro-batches)
    assert got == want


def test_streaming_dedup_ingest(spark, tmp_path):
    import json as _json

    src = tmp_path / "doc_stream"
    src.mkdir()
    target = str(tmp_path / "corpus")
    passage = "the quick brown fox jumps over the lazy dog again and again today"
    # batch files: doc 2 is an exact duplicate of doc 1 (different id),
    # doc 3 is novel, doc 4 duplicates doc 1 within the same file
    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 1, "text": passage}) + "\n"
    )
    (src / "b2.json").write_text(
        "\n".join(
            [
                _json.dumps({"doc_id": 2, "text": passage}),
                _json.dumps({"doc_id": 3, "text": "completely novel content with distinct wording throughout here"}),
                _json.dumps({"doc_id": 4, "text": passage}),
            ]
        )
    )
    stream = (
        spark.readStream.format("json")
        .schema(streams.DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    streams.dedup_ingest_stream(stream, target, threshold=0.7)
    final = {r.doc_id for r in spark.read.parquet(target).collect()}
    assert 1 in final and 3 in final
    assert 2 not in final and 4 not in final


def test_streaming_dedup_ingest_replay_idempotent_short_docs(spark, tmp_path):
    """A replayed micro-batch must not re-append docs shorter than the
    shingle width: they produce zero index entries, so only the exact
    content-hash anti-join can suppress them on replay."""
    import json as _json
    import shutil

    src = tmp_path / "doc_stream"
    src.mkdir()
    target = str(tmp_path / "corpus")
    rows = [
        {"doc_id": 1, "text": "hi"},  # 1 token < shingle width 3
        {"doc_id": 2, "text": "one two"},  # 2 tokens < shingle width 3
        {"doc_id": 3, "text": "a proper document with enough tokens to shingle"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    def run():
        stream = (
            spark.readStream.format("json")
            .schema(streams.DOC_SCHEMA)
            .load(str(src))
        )
        streams.dedup_ingest_stream(stream, target, threshold=0.7)

    run()
    assert spark.read.parquet(target).count() == 3
    # simulate a checkpoint loss + replay of the same batch file
    shutil.rmtree(str(tmp_path / "corpus__dedup_ingest_chk"))
    run()
    got = spark.read.parquet(target).groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in got} == {1: 1, 2: 1, 3: 1}


def test_stream_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Exactly-once across restart: a file-sink stream stopped after
    draining phase-1 input and restarted from the SAME checkpoint picks
    up only the new files — nothing lost, nothing re-emitted."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    part1 = ev.filter(F.col("event_id") % 3 != 0)
    part2 = ev.filter(F.col("event_id") % 3 == 0)

    part1.coalesce(2).write.mode("overwrite").json(src)
    streams.run_to_files(streams.read_event_stream(spark, src), out, ckpt)
    assert spark.read.parquet(out).count() == part1.count()

    # "crash" happened here; new chunks land, query restarts on the
    # same checkpoint
    part2.coalesce(1).write.mode("append").json(src)
    streams.run_to_files(streams.read_event_stream(spark, src), out, ckpt)

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # phase-1 files not re-ingested
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_capped_sessions_match_batch(spark, sf_dir, tmp_path):
    """Streaming gap+max-duration sessions: closed sessions emitted
    across micro-batches equal the batch kernel's sessions minus each
    user's final (still-open) one."""
    import time as _t

    from pyspark.sql import Window

    from gcp_cloudsql_airflow_bigquery_spark.operators.temporal import (
        sessionize_capped,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    )
    # 4 time-ordered chunks with strictly increasing mtimes so the file
    # source replays them in event-time order (per-key order across
    # batches is the operator's documented input contract)
    chunked = ev.withColumn(
        "chunk",
        F.ntile(4).over(Window.orderBy("ts_us")),
    )
    src = str(tmp_path / "capped_src")
    import os

    os.makedirs(src, exist_ok=True)
    for i in range(1, 5):
        part = str(tmp_path / f"part{i}")
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).json(part)
        for f in os.listdir(part):
            if f.endswith(".json"):
                os.replace(os.path.join(part, f), os.path.join(src, f"{i:02d}.json"))
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    streams.run_to_memory(
        streams.capped_sessions_stream(stream, gap_s=43_200, max_duration_s=172_800),
        "t_capped_sessions",
        output_mode="append",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("t_capped_sessions").collect()
    }
    batch = sessionize_capped(ev, gap_s=43_200, max_duration_s=172_800)
    w = Window.partitionBy("user_id").orderBy(F.col("session_start").desc())
    batch_closed = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)  # drop each user's final/open session
        .select("user_id", "session_start", "session_end", "n_events")
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch_closed.collect()
    }
    assert got == want and len(got) > 100


def test_quarantined_ingest_routes_streams(spark, tmp_path):
    """Streaming contract gate: clean rows reach the table, violations
    reach the dead-letter path with their failed-check names, and
    clean+dlq == input."""
    from gcp_cloudsql_airflow_bigquery_spark.operators.validate import (
        in_range,
        not_null,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        "event_type",
        # poison a slice: every 7th event gets a negative value, every
        # 13th a NULL type
        F.when(F.col("event_id") % 7 == 0, -F.col("value")).otherwise(
            F.col("value")
        ).alias("value"),
    ).withColumn(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, None).otherwise(F.col("event_type")),
    )
    ev.coalesce(2).write.mode("overwrite").json(src)

    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    clean_p = str(tmp_path / "clean")
    dlq_p = str(tmp_path / "dlq")
    checks = [not_null("event_type"), in_range("value", 0.0, 1e9)]
    streams.quarantined_ingest(
        stream, checks, clean_p, dlq_p, str(tmp_path / "ckpt")
    )

    clean = spark.read.parquet(clean_p)
    dlq = spark.read.parquet(dlq_p)
    n_in = ev.count()
    assert clean.count() + dlq.count() == n_in
    assert clean.filter(
        F.col("event_type").isNull() | (F.col("value") < 0)
    ).count() == 0
    bad = dlq.filter(F.col("event_id") % 13 == 0).select("failed_checks").first()
    assert "event_type_not_null" in bad.failed_checks
    assert dlq.filter(F.col("event_id") % 7 == 0).count() > 0


def test_stream_cusum_matches_batch_closed_form(spark, sf_dir, tmp_path):
    """Streaming CUSUM (literal GroupState recurrence) equals the batch
    plan's closed prefix form (running sum minus running min) on the
    same ordered daily-z feed — the stream-vs-batch equivalence that
    lets one detector definition serve the backfill and the live
    monitor."""
    import os
    import time as _t

    from pyspark.sql import Window

    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        events_changepoint_cusum,
    )

    batch = events_changepoint_cusum(spark, sf_dir).collect()
    assert batch
    # reconstruct the daily-z feed the batch plan standardizes (zscore
    # is rounded(4); the recurrence drift stays far below the 5e-3
    # comparison tolerance)
    daily_z = spark.createDataFrame(
        [
            (r["event_type"], int(r["day"].toordinal()) * 86_400_000_000, r["zscore"])
            for r in batch
        ],
        "event_type string, day_us long, z double",
    )
    chunked = daily_z.withColumn("chunk", F.ntile(3).over(Window.orderBy("day_us")))
    src = str(tmp_path / "cusum_src")
    os.makedirs(src, exist_ok=True)
    for i in range(1, 4):
        part = str(tmp_path / f"zpart{i}")
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).json(part)
        for f in os.listdir(part):
            if f.endswith(".json"):
                os.replace(os.path.join(part, f), os.path.join(src, f"{i:02d}.json"))
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("event_type string, day_us long, z double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    streams.run_to_memory(
        streams.cusum_stream(stream, k=0.5), "t_cusum", output_mode="append"
    )
    got = {
        (r.event_type, r.day_us): (r.cusum_pos, r.cusum_neg)
        for r in spark.table("t_cusum").collect()
    }
    assert len(got) == len(batch)
    for r in batch:
        key = (r["event_type"], int(r["day"].toordinal()) * 86_400_000_000)
        cp, cn = got[key]
        assert cp == pytest.approx(r["cusum_pos"], abs=5e-3), key
        assert cn == pytest.approx(r["cusum_neg"], abs=5e-3), key


def test_stream_welford_zscore_matches_batch_prior_window(spark, sf_dir, tmp_path):
    """Streaming prequential z-score (Welford GroupState) equals the
    batch plan's PRECEDING-only window moments on the same ordered
    daily feed."""
    import os
    import time as _t

    from pyspark.sql import Window

    from gcp_cloudsql_airflow_bigquery_spark.plans.events import (
        events_prequential_zscore,
    )

    batch = events_prequential_zscore(spark, sf_dir).collect()
    assert batch
    daily = spark.createDataFrame(
        [
            (
                r["event_type"],
                int(r["day"].toordinal()) * 86_400_000_000,
                r["day_value"],
            )
            for r in batch
        ],
        "event_type string, day_us long, x double",
    )
    chunked = daily.withColumn("chunk", F.ntile(3).over(Window.orderBy("day_us")))
    src = str(tmp_path / "welford_src")
    os.makedirs(src, exist_ok=True)
    for i in range(1, 4):
        part = str(tmp_path / f"wpart{i}")
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).json(part)
        for f in os.listdir(part):
            if f.endswith(".json"):
                os.replace(os.path.join(part, f), os.path.join(src, f"{i:02d}.json"))
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("event_type string, day_us long, x double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    streams.run_to_memory(
        streams.welford_zscore_stream(stream), "t_welford", output_mode="append"
    )
    got = {
        (r.event_type, r.day_us): (r.prior_n, r.z)
        for r in spark.table("t_welford").collect()
    }
    assert len(got) == len(batch)
    for r in batch:
        key = (r["event_type"], int(r["day"].toordinal()) * 86_400_000_000)
        n, z = got[key]
        assert n == r["prior_n"], key
        if r["zscore"] is None:
            assert z is None or abs(z) == float("inf"), key
        else:
            # batch z standardizes the ROUNDED(6) day_value replayed
            # here, so drift stays well under the rounding tolerance
            assert z == pytest.approx(r["zscore"], abs=5e-3), key


def test_stream_misra_gries_guarantee_vs_exact_counts(spark, sf_dir, tmp_path):
    """Misra-Gries GroupState summary over a 3-chunk feed: the final
    snapshot per key satisfies both MG guarantees against exact counts
    of the same feed — every estimate undercounts by at most
    n/(k+1), and every item with true frequency > n/(k+1) is
    tracked."""
    import os
    import time as _t
    from collections import Counter

    from pyspark.sql import Window

    from gcp_cloudsql_airflow_bigquery_spark.catalog import load_table

    k = 8
    rows = [
        (r["event_type"], int(e), int(r["user_id"]))
        for e, r in enumerate(load_table(spark, sf_dir, "events").collect())
        if r["event_type"] is not None
    ]
    feed = spark.createDataFrame(
        rows, "event_type string, order_us long, item long"
    )
    chunked = feed.withColumn("chunk", F.ntile(3).over(Window.orderBy("order_us")))
    src = str(tmp_path / "mg_src")
    os.makedirs(src, exist_ok=True)
    for i in range(1, 4):
        part = str(tmp_path / f"mgpart{i}")
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).json(part)
        for f in os.listdir(part):
            if f.endswith(".json"):
                os.replace(os.path.join(part, f), os.path.join(src, f"{i:02d}.json"))
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("event_type string, order_us long, item long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    streams.run_to_memory(
        streams.misra_gries_stream(stream, k=k), "t_mg", output_mode="update"
    )
    snap = spark.table("t_mg").collect()
    latest_n = {}
    for r in snap:
        latest_n[r.event_type] = max(latest_n.get(r.event_type, 0), r.n_processed)
    est = {
        (r.event_type, r.item): r.est_count
        for r in snap
        if r.n_processed == latest_n[r.event_type]
    }
    exact: Counter = Counter((et, it) for et, _, it in rows)
    n_per_key: Counter = Counter(et for et, _, it in rows)
    assert latest_n == dict(n_per_key)
    for et, n in n_per_key.items():
        bound = n / (k + 1)
        tracked = {it for (e, it) in est if e == et}
        assert len(tracked) <= k
        for (e, it), c in exact.items():
            if e != et:
                continue
            if c > bound:
                assert it in tracked, (et, it, c, bound)
            if it in tracked:
                assert c - bound <= est[(et, it)] <= c, (et, it)


def test_stream_foreach_batch_merge_lww(spark, event_dir, tmp_path):
    """Event-time LWW upsert sink (stream #6's engine): the final
    snapshot equals the batch per-key argmax regardless of micro-batch
    slicing (max_files_per_trigger=1 forces many batches), and a
    second STALE feed (older event times) must not overwrite it."""
    target = str(tmp_path / "snap")
    stream = (
        streams.read_event_stream(spark, event_dir, max_files_per_trigger=1)
        .select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_id",
        )
    )
    streams.foreach_batch_merge_lww(
        stream,
        target,
        ["user_id"],
        ["ts_us", "event_id"],
        checkpoint=str(tmp_path / "ckpt1"),
    )
    from pyspark.sql import Window

    batch = (
        spark.read.schema(streams.EVENT_SCHEMA)
        .json(event_dir)
        .select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    want = {
        (r.user_id, r.ts_us, r.event_id)
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    got = {
        (r.user_id, r.ts_us, r.event_id)
        for r in spark.read.parquet(target).collect()
    }
    assert got == want

    # stale replay: shift every event 10 days into the PAST and feed it
    # through a fresh stream — the conditional merge must drop all of it
    stale_dir = str(tmp_path / "stale")
    (
        spark.read.schema(streams.EVENT_SCHEMA)
        .json(event_dir)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 10 DAYS"))
        .write.mode("overwrite")
        .json(stale_dir)
    )
    stale_stream = (
        spark.readStream.schema(streams.EVENT_SCHEMA)
        .json(stale_dir)
        .select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_id",
        )
    )
    streams.foreach_batch_merge_lww(
        stale_stream,
        target,
        ["user_id"],
        ["ts_us", "event_id"],
        checkpoint=str(tmp_path / "ckpt2"),
    )
    got2 = {
        (r.user_id, r.ts_us, r.event_id)
        for r in spark.read.parquet(target).collect()
    }
    assert got2 == want


@pytest.mark.parametrize("fault", ["job", "crash_mid_swap"])
def test_stream_merge_lww_fault_keeps_the_old_snapshot(
    spark, tmp_path, crash_mid_swap, fault
):
    """A micro-batch upsert that fails in its Spark job, or is killed
    between the table commit's two renames, leaves the previous
    snapshot; restarted from its checkpoint, the stream replays the
    batch onto those rows and leaves no ``__v``/``__old`` sibling."""
    schema = "k long, ord long, v string"
    target = str(tmp_path / "snap")
    feed_dir = str(tmp_path / "feed")
    old = [(k, 1, f"old{k}") for k in range(50)]
    new = [(k, 2, f"new{k}") for k in range(40, 60)]
    spark.createDataFrame(old, schema).write.parquet(target)
    spark.createDataFrame(new, schema).write.parquet(feed_dir)

    def upsert(fail=False):
        feed = spark.readStream.schema(schema).parquet(feed_dir)
        if fail:
            boom = F.raise_error(F.lit("injected job failure"))
            feed = feed.withColumn(
                "v", F.when(F.col("k") == 45, boom).otherwise(F.col("v"))
            )
        streams.foreach_batch_merge_lww(
            feed, target, ["k"], ["ord"], checkpoint=str(tmp_path / "ckpt")
        )

    def snapshot():
        return sorted(tuple(r) for r in spark.read.parquet(target).collect())

    if fault == "job":
        with pytest.raises(Exception, match="injected job failure"):
            upsert(fail=True)
        assert snapshot() == old
    else:
        with crash_mid_swap(), pytest.raises(Exception, match="injected crash"):
            upsert()
    assert spark.streams.active == []
    upsert()
    assert snapshot() == sorted(old[:40] + new)
    leftovers = [
        e for e in os.listdir(tmp_path) if e.startswith(("snap__v", "snap__old"))
    ]
    assert leftovers == []


@pytest.mark.parametrize(
    "sink",
    [
        "run_to_memory",
        "run_to_files",
        "foreach_batch_merge",
        "foreach_batch_merge_lww",
        "dedup_ingest_stream",
    ],
)
def test_stream_timeout_stops_query_and_raises(spark, event_dir, tmp_path, sink):
    """A query still running at ``timeout_s`` is stopped and the sink
    raises TimeoutError — no timed-out query returns as success or is
    left running."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = streams.read_event_stream(spark, event_dir, max_files_per_trigger=1)
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    for i in range(3):
        (docs_dir / f"d{i}.json").write_text(
            json.dumps({"doc_id": i, "text": f"document number {i} text"})
        )
    docs = (
        spark.readStream.schema(streams.DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(docs_dir))
    )
    run = {
        "run_to_memory": lambda t: streams.run_to_memory(
            events, "t_timeout", timeout_s=t
        ),
        "run_to_files": lambda t: streams.run_to_files(
            events, out, ckpt, timeout_s=t
        ),
        "foreach_batch_merge": lambda t: streams.foreach_batch_merge(
            events, out, ["event_id"], timeout_s=t
        ),
        "foreach_batch_merge_lww": lambda t: streams.foreach_batch_merge_lww(
            events, out, ["user_id"], ["ts", "event_id"], checkpoint=ckpt,
            timeout_s=t,
        ),
        "dedup_ingest_stream": lambda t: streams.dedup_ingest_stream(
            docs, out, timeout_s=t
        ),
    }[sink]
    with pytest.raises(TimeoutError):
        run(0.001)
    assert spark.streams.active == []


def test_source_bytes_counts_broken_symlink_as_zero(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x" * 10)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.parquet").write_bytes(b"y" * 5)
    os.symlink(tmp_path / "missing", tmp_path / "dangling")
    assert streams._source_bytes(str(tmp_path)) == 15


def test_heavy_hitters_stream_exact_below_capacity(spark, sf_dir):
    """k=8 covers all 8 user_id%8 slots, so the registered stream's MG
    summary must equal the exact batch GROUP BY."""
    from gcp_cloudsql_airflow_bigquery_spark.streaming import streams

    got = {
        (r.event_type, r.item): (r.est_count, r.n_processed)
        for r in streams.events_heavy_hitters_streamed(spark, sf_dir).collect()
    }
    counts: dict[tuple, int] = defaultdict(int)
    totals: dict[str, int] = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").collect():
        counts[(r.event_type, r.user_id % 8)] += 1
        totals[r.event_type] += 1
    expect = {
        k: (v, totals[k[0]]) for k, v in counts.items()
    }
    assert got == expect


def test_distinct_users_streamed_matches_batch(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.streaming import streams

    got = {
        r.wk_start: (r.n_users, r.n_events)
        for r in streams.events_distinct_users_streamed(
            spark, sf_dir
        ).collect()
    }
    per: dict[int, set] = defaultdict(set)
    cnt: dict[int, int] = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").collect():
        if r.ts is None:
            continue
        wk = int(r.ts.timestamp() * 1_000_000) // 604_800_000_000
        per[wk].add(r.user_id)
        cnt[wk] += 1
    assert len(got) == len(per)
    got_by_epoch = {
        int(k.timestamp()) // 604_800: v for k, v in got.items()
    }
    for wk, users in per.items():
        assert got_by_epoch[wk] == (len(users), cnt[wk]), wk


def test_quarantine_stream_matches_batch_split(spark, sf_dir):
    from gcp_cloudsql_airflow_bigquery_spark.streaming import streams

    got = {
        r.bucket: r.n_rows
        for r in streams.events_quarantine_streamed(spark, sf_dir).collect()
    }
    expect: dict[str, int] = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").collect():
        fails = []
        if r.ts is None:
            fails.append("ts_not_null")
        if r.value is not None and (r.value < 0.0 or r.value > 250.0):
            fails.append("value_range")
        if r.event_type is not None and r.event_type not in (
            "click",
            "view",
            "purchase",
            "signup",
            "error",
        ):
            fails.append("event_type_domain")
        expect[",".join(fails) if fails else "clean"] += 1
    assert got == dict(expect)
    assert "clean" in got and any(b != "clean" for b in got)  # DLQ fired


@pytest.mark.parametrize(
    "query, prefix",
    [
        ("events_upsert_streamed", "events_upsert_"),
        ("events_filesink_pipeline", "events_filesink_"),
        ("events_quarantine_streamed", "events_quarantine_"),
    ],
)
def test_streams_over_temp_sinks_leave_no_directory(
    spark, sf_dir, tmp_path, monkeypatch, query, prefix
):
    """A registered stream that lands in a temp directory returns a
    frame that no longer needs it and removes it: nothing of its prefix
    is left in ``tempfile.gettempdir()``, and the frame still reads."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = getattr(streams, query)(spark, sf_dir)
    assert not [p for p in os.listdir(tmp_path) if p.startswith(prefix)]
    assert out.count() > 0
