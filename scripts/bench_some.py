"""Targeted min-of-N timing for named queries, split into plan
CONSTRUCTION (the Python call building the DataFrame: py4j, analysis
and any eager jobs such as checkpoints) and EXECUTION (the noop write:
optimization, codegen and the run), plus the number of Spark jobs
submitted during construction.  The standing protocol stays
bench.py's best-of-2 full run.

Usage:
    python scripts/bench_some.py q1 q2 ...            # min-of-3 at sf0.1
    SPARK_GRAFT_RUNS=5 python scripts/bench_some.py q1
    SPARK_GRAFT_PLAN_DIR=plans/r10 SPARK_GRAFT_PLAN_TAG=before \
        python scripts/bench_some.py q1               # also dump explain

The dumped formatted plan has its run-specific ids replaced by fixed
tokens (expression ids ``#123`` -> ``#N``, ``plan_id=123`` ->
``plan_id=N``, RDD ids ``RDD[123]`` -> ``RDD[N]``, generated lambda
variables ``x_12`` -> ``x_N``, the checkout's own path, as in its
``spark-warehouse`` tables -> ``<checkout>``), so dumps of two
checkouts compare byte for byte with ``diff``.

Names are looked up in ``__spark_entry__.queries()``.  Each query is
warmed once at sf0.001 (JIT/codegen), then timed SPARK_GRAFT_RUNS
times into the noop sink at $SPARK_GRAFT_SF_DIR.  Prints one JSON
line {"queries": {name: min_total_s}, "construct": {name: min_s},
"execute": {name: min_s}, "construct_jobs": {name: max_jobs},
"all_runs": {name: [[construct, execute, jobs], ...]}, ...}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark  # noqa: E402

_RUN_IDS = [
    (re.compile(re.escape(ROOT)), "<checkout>"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_N"),
]


def normalized_plan(df) -> str:
    """The formatted physical plan with run-specific ids replaced."""
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    for pattern, token in _RUN_IDS:
        text = pattern.sub(token, text)
    return text


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))
    plan_dir = os.environ.get("SPARK_GRAFT_PLAN_DIR")
    plan_tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "plan")
    registry = entrymod.queries()
    missing = [n for n in names if n not in registry]
    if missing:
        raise KeyError(f"unknown queries {missing!r}")

    spark = get_spark("bench-some")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    out: dict[str, float] = {}
    construct: dict[str, float] = {}
    execute: dict[str, float] = {}
    construct_jobs: dict[str, int] = {}
    all_runs: dict[str, list[list[float]]] = {}
    for n in names:
        fn = registry[n]
        sc.setJobDescription(f"warmup:{n}")
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            with open(os.path.join(plan_dir, f"{n}_{plan_tag}.txt"), "w") as f:
                f.write(normalized_plan(df))
        ts = []
        for i in range(runs):
            group = f"construct:{n}:{i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(f"timed:{n}:{i}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            ts.append([round(t1 - t0, 3), round(t2 - t1, 3), jobs])
        out[n] = round(min(c + e for c, e, _ in ts), 3)
        construct[n] = min(c for c, _, _ in ts)
        execute[n] = min(e for _, e, _ in ts)
        construct_jobs[n] = max(j for _, _, j in ts)
        all_runs[n] = ts
        print(
            f"# {n}: min {out[n]}  construct {construct[n]}  "
            f"execute {execute[n]}  construct_jobs {construct_jobs[n]}  "
            f"runs {ts}",
            file=sys.stderr,
        )
    print(json.dumps({"queries": out, "construct": construct,
                      "execute": execute, "construct_jobs": construct_jobs,
                      "all_runs": all_runs,
                      "sf_dir": sf_dir, "loadavg": list(os.getloadavg())}))


if __name__ == "__main__":
    main()
