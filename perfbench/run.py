"""Benchmark of the spark-graft engine: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload etl_stream_ingest --seed 1 --seconds 15 --trace 0

A run starts one SparkSession on ``local[1]`` through ``session.get_spark``
(see :data:`CORES`), makes the workload's inputs from the seed, and runs
untimed warm-up passes; session start plus warm-up is the set-up.  It
then runs passes of the workload's ops in a closed loop with one client
until ``--seconds`` have passed.  Every op's output is checked.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it give the host context and
the figures behind each metric.

``--trace 0`` reports the end-to-end metrics (:data:`END_TO_END`).
``--trace 1`` wraps the engine's public callables (``trace.py``),
alternates untraced and traced passes, and reports the per-layer metrics
(:data:`PER_LAYER`) of the traced passes and the tracing overhead; spans
and per-op counters go to ``.perfbench/trace-<workload>-<seed>.json``.

The run writes under ``.perfbench/`` next to ``perfbench/`` (its scratch
directory there is removed at exit); Derby, the JDBC source, writes
``derby.log`` to the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.collect import (  # noqa: E402
    SparkCollector,
    StreamProgress,
    host_context,
    jvm_peak_rss_mb,
    tree_cpu_s,
)
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import ETL_OPS, WORKLOADS, OpResult  # noqa: E402

PKG = "gcp_cloudsql_airflow_bigquery_spark"
OPERATOR_MODULES = ("graph", "similarity", "tokenizer", "dedup", "linalg", "textstats")
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
#: task slots of the session, and the processors its JVM sizes its GC and
#: thread pools for.  One: on a shared host the cores left free by other
#: tenants vary from minute to minute, and a run that needs more of them
#: than are free measures the scheduler instead of the engine.  One
#: processor also gives the serial collector, whose heap sizing does not
#: follow GC pause times, so the driver's peak RSS repeats.
CORES = 1
#: JIT compiler threads, as the JVM picks for four processors; with the two
#: it picks for one, C2 is still compiling Spark's code after the warm-up
JIT_THREADS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "driver_peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.extract_s": "s",
    "sources.extract_jobs": "count",
    "sources.rows_read": "rows",
    "sources.input_bytes": "bytes",
    "sources.self_s": "s",
    "catalog.self_s": "s",
    "functions.transform_s": "s",
    "functions.nulls_repaired": "count",
    "functions.self_s": "s",
    "pipeline.load_overwrite_s": "s",
    "pipeline.load_merge_s": "s",
    "pipeline.finalize_s": "s",
    "pipeline.self_s": "s",
    "pipeline.attempts": "count",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "etl.sync_s": "s",
    "etl.merge_s": "s",
    "etl.write_amp": "ratio",
    "etl.rows_per_s": "rows/s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.self_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    **{f"operators.{m}.self_s": "s" for m in OPERATOR_MODULES},
    **{f"operators.{m}.calls": "count" for m in OPERATOR_MODULES},
    "streaming.self_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.rows_per_s": "rows/s",
    "streaming.batch_p50_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_records": "rows",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage_min": "ratio",
    "trace.spans": "count",
}

#: per-layer metrics that are not per pass (they are set once per run)
RUN_LEVEL = ("session.start_s", "session.warmup_s", "trace.overhead_s", "trace.spans")


class Context:
    """Run-wide state handed to the workload."""

    def __init__(self, spark, seed: int, work: str, tracer, collector, listener):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.collector, self.listener = tracer, collector, listener

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


def op_tail(samples: list[float]) -> tuple[float, int]:
    """The highest of :data:`TAIL_PERCENTILES` with at least ten samples
    beyond it, and that percentile; below 20 samples, the maximum (100)."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        k = int(n * p / 100)
        if n - k - 1 >= 10:
            return xs[k], p
    return xs[-1], 100


def run_pass(wl, ctx, order: list[str], traced: bool, pass_id: int) -> list:
    out = []
    for name in order:
        op_id = f"{pass_id}:{name}"
        if ctx.tracer is not None:
            ctx.tracer.enabled = traced
            ctx.tracer.op = op_id
        t0, p0 = time.time(), time.perf_counter()
        try:
            res = wl.run_op(name)
        except Exception as e:  # a failed op is counted, not fatal
            res = OpResult(name, time.perf_counter() - p0, (t0, time.time()),
                           f"{type(e).__name__}: {e}")
        if ctx.tracer is not None:
            ctx.tracer.enabled = False
        res.info["op_id"] = op_id
        if res.error:
            print(f"FAILED {wl.name} {name}: {res.error}", file=sys.stderr)
        out.append(res)
    return out


def layer_metrics(wl, ctx, results: list, epoch_offset: float) -> dict:
    """Per-layer counters of one traced pass.  ``epoch_offset`` converts
    span clock readings (``perf_counter``) to epoch seconds."""
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER if k not in RUN_LEVEL}
    tracer = ctx.tracer
    ctx.collector.flush()
    coverage, batches = [], []
    for res in results:
        win = ctx.collector.window(*res.window)
        for k, v in SparkCollector.summarize(win, res.wall_s).items():
            m[k] += v
        m["spark.execute_s"] += res.info.get("execute_s", 0.0)
        if res.info.get("layer") == "plans":
            build_group = f"perfbench:{res.name}:build"
            m["plans.build_jobs"] += sum(
                1 for j in win["jobs"] if j.get("jobGroup") == build_group
            )
            m["plans.build_s"] += res.info["build_s"]
            for phase, ms in res.info["catalyst_ms"].items():
                m[f"plans.{phase}_ms"] += ms
        batches += res.info.get("batches", [])
        spans = tracer.op_spans(res.info["op_id"])
        selfs = tracer.self_times(spans)
        for s in spans:
            dur, own = s.end - s.start, selfs[s.sid]
            if s.layer == "bench":
                coverage.append((dur - own) / dur if dur > 0 else 1.0)
                continue
            if s.name == "pipeline.run_pipeline":
                m["pipeline.self_s"] += own
            elif f"{s.layer}.self_s" in m and s.layer != "pipeline":
                m[f"{s.layer}.self_s"] += own
            if s.layer.startswith("operators."):
                m[f"{s.layer}.calls"] += 1
            if s.name == "pipeline.extract":
                m["sources.extract_s"] += dur
                lo = (s.start + epoch_offset) * 1000 - 1
                hi = (s.end + epoch_offset) * 1000 + 1
                m["sources.extract_jobs"] += sum(
                    1 for j in win["jobs"] if lo <= j["submissionTime"] <= hi
                )
            elif s.name == "pipeline.transform":
                m["functions.transform_s"] += dur
            elif s.name == "pipeline.load":
                merge = res.name == "lineitem_merge"
                m["pipeline.load_merge_s" if merge else "pipeline.load_overwrite_s"] += dur
            elif s.name == "pipeline.finalize":
                m["pipeline.finalize_s"] += dur
        if "rows_written" in res.info:
            m["pipeline.attempts"] += res.info["attempts"]
            m["pipeline.files_written"] += res.info["files"]
            m["pipeline.bytes_written"] += res.info["bytes"]
            m["sources.rows_read"] += res.info["rows_read"]
            m["sources.input_bytes"] += res.info["source_bytes"]
            m["functions.nulls_repaired"] += res.info.get("nulls", 0)
    m.update(StreamProgress.summarize(batches))
    stream_wall = sum(r.wall_s for r in results if "input_rows" in r.info)
    if stream_wall:
        m["streaming.rows_per_s"] = m["streaming.input_rows"] / stream_wall
    sync_s, merge_s = etl_split(results)
    if sync_s:
        etl_wall = sync_s + merge_s
        m["etl.sync_s"], m["etl.merge_s"] = sync_s, merge_s
        m["etl.write_amp"] = m["pipeline.bytes_written"] / m["sources.input_bytes"]
        m["etl.rows_per_s"] = sum(r.info.get("rows_written", 0) for r in results) / etl_wall
    m["trace.coverage_min"] = min(coverage)
    return m


def etl_split(results: list) -> tuple[float, float]:
    """ETL time of one pass: the full sync (dims and fact) and the merge."""
    sync = sum(r.wall_s for r in results if r.name in ETL_OPS[:-1])
    merge = sum(r.wall_s for r in results if r.name == ETL_OPS[-1])
    return sync, merge


def _median_of(passes: list[dict]) -> dict:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "pipeline.py")):
        print(f"perfbench: no {PKG}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file the run writes under the work directory: temp files of
    # Python and its workers, and no JVM perf-data files under /tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    launcher_opts = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher_opts} -XX:-UsePerfData".strip()
    try:
        return _run(args, base, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str, tmp: str) -> int:
    # load every plans module first, so the registry keeps the unwrapped
    # functions and the wrapping below reaches their imported names
    import __spark_entry__  # noqa: F401
    from gcp_cloudsql_airflow_bigquery_spark import session

    host_start = host_context()
    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()

    p0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -XX:ActiveProcessorCount={CORES} "
                f"-XX:CICompilerCount={JIT_THREADS} -Djava.io.tmpdir={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - p0
    gateway = spark.sparkContext._gateway
    try:
        listener = StreamProgress()
        spark.streams.addListener(listener)
        ctx = Context(spark, args.seed, work, tracer, SparkCollector(spark), listener)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        rng = random.Random(args.seed)

        p1 = time.perf_counter()
        results = []
        for w in range(wl.warmup_passes):
            results += run_pass(wl, ctx, wl.ops(), False, -w)
        warmup_s = time.perf_counter() - p1

        # a fixed number of timed passes, sized from the workload's nominal
        # pass time so that the timed region lasts about --seconds
        n_passes = max(2, round(args.seconds / wl.pass_s))
        if args.trace:
            n_passes = max(4, n_passes)
        passes: list[tuple[bool, list]] = []
        pass_cpu: list[float] = []
        for i in range(1, n_passes + 1):
            order = wl.order(rng)
            # untraced and traced passes in ABBA order, so that a warm-up
            # trend does not bias the tracing overhead
            traced = bool(args.trace) and i % 4 in (2, 3)
            c0 = tree_cpu_s()
            res = run_pass(wl, ctx, order, traced, i)
            pass_cpu.append(tree_cpu_s() - c0)
            passes.append((traced, res))
            results += res
        rss_mb = jvm_peak_rss_mb(spark)
        plain = [r for t, r in passes if not t]
        walls = [sum(o.wall_s for o in r) for r in plain]
        op_walls = [o.wall_s for r in plain for o in r]
        failed = sum(1 for o in results if o.error)
        host_end = host_context()

        if args.trace:
            epoch_offset = time.time() - time.perf_counter()
            traced_passes = [layer_metrics(wl, ctx, r, epoch_offset) for t, r in passes if t]
            metrics = _median_of(traced_passes)
            traced_walls = [sum(o.wall_s for o in r) for t, r in passes if t]
            metrics["session.start_s"] = start_s
            metrics["session.warmup_s"] = warmup_s
            metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
            metrics["trace.spans"] = len(tracer.spans)
            _write_trace(base, args, tracer, passes, traced_passes)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": start_s + warmup_s,
                "wall_s": sum(walls),
                "op_p50_s": statistics.median(op_walls),
                "driver_peak_rss_mb": rss_mb,
            }
            units = END_TO_END
            rows = [sum(wl.rows(o) for o in r) for r in plain]
            tail, tail_p = op_tail(op_walls)
            print(f"# {len(plain)} timed passes, {len(op_walls)} op samples; "
                  f"op_tail_s {tail:.4f} (p{tail_p}); session start {start_s:.3f} s, "
                  f"warm-up {warmup_s:.3f} s")
            print(f"# pass cpu_s {','.join(f'{x:.2f}' for x in pass_cpu)} "
                  f"wall_s {','.join(f'{w:.2f}' for w in walls)}")
            print(f"# failed_frac {failed / len(results):.4f} ({failed}/{len(results)})")
            by_op: dict[str, list[float]] = {}
            for r in plain:
                for o in r:
                    by_op.setdefault(o.name, []).append(o.wall_s)
            for name, xs in by_op.items():
                print(f"# op {name} n={len(xs)} p50_s={statistics.median(xs):.4f} "
                      f"all={','.join(f'{x:.4f}' for x in xs)}")
            if any(rows):
                rps = statistics.median(n / w for n, w in zip(rows, walls))
                print(f"# rows_per_s {rps:.1f}")
            splits = [etl_split(r) for r in plain]
            if splits[0][0]:
                print(f"# sync_s {statistics.median(x for x, _ in splits):.4f} "
                      f"merge_s {statistics.median(y for _, y in splits):.4f}")
        print(f"# host start {json.dumps(host_start)}")
        print(f"# host end {json.dumps(host_end)}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(results),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _write_trace(base: str, args, tracer, passes, traced_passes) -> None:
    keep = ("rows_written", "table_rows", "attempts", "files", "bytes", "build_s",
            "execute_s", "catalyst_ms", "input_rows")
    ops = [
        {
            "op": o.info["op_id"],
            "name": o.name,
            "wall_s": o.wall_s,
            "window": o.window,
            "error": o.error,
            "traced": traced,
            **{k: o.info[k] for k in keep if k in o.info},
        }
        for traced, r in passes
        for o in r
    ]
    path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spans": [s.as_dict() for s in tracer.spans],
                "ops": ops,
                "passes": traced_passes,
            },
            f,
        )


if __name__ == "__main__":
    sys.exit(main())
