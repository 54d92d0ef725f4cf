"""Self-check of the benchmark: one traced run of every workload.

Run from the repository root (takes a few minutes; it starts one Spark
session per workload):

    python3 -m pytest perfbench/tests -q

For every workload the run must pass its own output checks and report
every per-layer metric; for every traced op the layer self-times must sum
to within 10% of the op's wall time; and every ETL op's recorded row count
must equal the rows actually present in the table it wrote.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SEED = 7


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_names_match_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_accounts_for_every_op(workload):
    out = _run(workload, trace=1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == set(PER_LAYER)

    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-{SEED}.json")) as f:
        trace = json.load(f)
    spans = trace["spans"]
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
    roots = {s["op"]: s for s in spans if s["layer"] == "bench"}
    traced_ops = [o for o in trace["ops"] if o["traced"]]
    assert traced_ops
    for op in traced_ops:
        root = roots[op["op"]]
        layers = sum(
            (s["end"] - s["start"]) - children.get(s["id"], 0.0)
            for s in spans
            if s["op"] == op["op"] and s["layer"] != "bench"
        )
        assert abs(layers - op["wall_s"]) <= 0.10 * op["wall_s"], (op, root)

    etl_ops = [op for op in trace["ops"] if "rows_written" in op]
    assert bool(etl_ops) == (workload == "etl_stream_ingest")
    for op in etl_ops:
        assert op["rows_written"] == op["table_rows"] > 0, op
