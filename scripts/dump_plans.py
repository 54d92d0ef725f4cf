"""Regenerate PLANS.md: physical-plan audit of the bench headline
queries at sf0.01 — exchange/broadcast/codegen counts plus the scan
lines (pushed filters, read schema) as reviewable evidence.

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES  # noqa: E402
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def main() -> None:
    spark = get_spark("plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of the bench headline (sf0.01)",
        "",
        "Generated by `scripts/dump_plans.py`. For each headline query: exchange /",
        "broadcast / codegen counts and the parquet scan lines (pushed filters +",
        "read schema), i.e. the evidence behind SCALE.md's audit table.",
        "",
        "| query | hash exch | range exch | broadcasts | SMJ | BHJ |",
        "|---|---|---|---|---|---|",
    ]
    scans: list[str] = []
    for name in HEADLINE:
        df = QUERIES[name](spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
        lines.append(
            f"| {name} | {p.count('Exchange hashpartitioning')} "
            f"| {p.count('Exchange rangepartitioning')} "
            f"| {p.count('BroadcastExchange')} "
            f"| {p.count('SortMergeJoin')} "
            f"| {p.count('BroadcastHashJoin')} |"
        )
        scan_lines = sorted(
            {
                ln.strip()[:200]
                for ln in p.splitlines()
                if "PushedFilters" in ln or "ReadSchema" in ln
            }
        )
        if scan_lines:
            scans.append(f"\n## {name}\n")
            scans.extend(f"- `{ln}`" for ln in scan_lines[:6])
    lines.append("")
    lines.append(
        "SMJ = SortMergeJoin, BHJ = BroadcastHashJoin.  (Plans are "
        "pre-execution AQE plans; `corpus_funnel` shows 0 exchanges because "
        "its per-split aggregate is behind a lazy `localCheckpoint` lineage "
        "cut.)"
    )
    lines.extend(scans)
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
