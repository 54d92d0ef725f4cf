"""The benchmark's workloads.

Each workload is a fixed list of ops run in a closed loop by one client.
A pass runs every op once; the seed fixes the inputs and the op order of
each pass.  Every op's output is checked and a mismatch counts as a
failed op.

* ``etl_stream_ingest`` — every write path: the nightly star sync through
  ``pipeline.run_pipeline`` (overwrite the ``customer`` dim from JDBC and
  the ``part`` dim from NDJSON, load the ``lineitem`` fact from CSV with
  ``"N`` broken-NULL markers and finalize a star-join rollup, then merge a
  seeded 5% delta on the surrogate key ``l_id`` and finalize again),
  followed by the registered stream that upserts a day's event feed into a
  snapshot through ``foreachBatch``.
* ``query_mix`` — read-only queries from the ``__spark_entry__.queries()``
  registry: execute-dominated TPC-H-shape and temporal joins, and a
  construction-dominated iterative graph query (k-core peeling).

The query and stream ops read one fixed fixture (seed 42); the seed only
permutes their order.  The ETL sources are generated from the seed.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from . import datagen
from .collect import catalyst_phases_ms
from .oracle import (
    SKETCH_EXACT_MAX_SF,
    SKETCH_EXACT_ONLY,
    Expected,
    canonical,
    duckdb_over,
    expected_from_sql,
)

#: fixture scale of the query and stream ops (lineitem ≈ 60k rows)
QUERY_SF = 0.01
#: scale of the generated star of the ETL ops (fact ≈ 60k rows)
ETL_SF = 0.01

RELATIONAL = (
    "q9_product_type_profit",
    "events_asof_purchase",
    "pricing_summary",
    "flagship_revenue_by_region_nation",
)
ITERATIVE = ("part_cooccurrence_kcore",)
STREAMS = ("events_upsert_streamed",)
ETL_OPS = ("customer", "part", "lineitem", "lineitem_merge")

ROLLUP_SQL = """
SELECT c.c_mktsegment AS segment,
       p.p_type AS p_type,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN f.l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_flag,
       CAST(SUM(CASE WHEN f.l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_discount,
       CAST(ROUND(SUM(CAST(f.l_extendedprice AS DECIMAL(18, 2))), 2) AS DOUBLE)
           AS revenue,
       CAST(ROUND(SUM(CAST(f.l_quantity AS DECIMAL(18, 2))), 2) AS DOUBLE)
           AS quantity,
       MAX(f.l_shipdate) AS last_ship
FROM lineitem_stage f
JOIN customer_stage c ON f.l_custkey = c.c_custkey
JOIN part_stage p ON f.l_partkey = p.p_partkey
GROUP BY c.c_mktsegment, p.p_type
"""


@dataclass
class OpResult:
    """What one op produced, for its check and for the per-layer counters."""

    name: str
    wall_s: float
    window: tuple[float, float]  # epoch start and end of the timed part
    error: str | None = None
    info: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: untimed passes before timing; the first one is cold, and the JIT
    #: still takes a quarter off the pass time in the second
    warmup_passes = 2
    #: nominal seconds of one pass on one core of a busy 4-core VM (a quiet
    #: one takes two thirds of that), which sizes the number of timed
    #: passes from ``--seconds``
    pass_s = 4.0

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        """Make the inputs and the expected results (untimed)."""

    def ops(self) -> list[str]:
        raise NotImplementedError

    def order(self, rng: random.Random) -> list[str]:
        """Op order of one timed pass."""
        ops = self.ops()
        rng.shuffle(ops)
        return ops

    def run_op(self, name: str) -> OpResult:
        raise NotImplementedError

    def rows(self, res: OpResult) -> int:
        """Rows the op consumed, for ``rows_per_s``."""
        return 0


# ---------------------------------------------------------------------------
# registry queries and streams


class RegistryOps:
    """Registry entries ``fn(spark, data_dir) → DataFrame`` run against the
    fixed fixture.  An op is the registry call (build) plus ``toPandas()``
    (execute), under one job group each; its result is compared with the
    entry's DuckDB oracle, or with the row count of its first run when the
    entry has none."""

    def __init__(self, ctx, names: tuple[str, ...]):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "fixture")
        tables = datagen.write_star_fixture(self.data_dir, QUERY_SF, seed=42)
        reg, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {n: reg[n] for n in names}
        con = duckdb_over(self.data_dir, tables)
        self.expected: dict[str, Expected | None] = {}
        for n in names:
            rows_only = n in SKETCH_EXACT_ONLY and QUERY_SF > SKETCH_EXACT_MAX_SF
            has_oracle = n in oracles and not rows_only
            self.expected[n] = expected_from_sql(con, oracles[n]) if has_oracle else None
        con.close()

    def run(self, name: str) -> OpResult:
        ctx = self.ctx
        fn = self.fns[name]
        layer = "streaming" if fn.__module__.endswith(".streams") else "plans"
        ctx.collector.set_group(f"perfbench:{name}:build")
        t0, p0 = time.time(), time.perf_counter()
        with ctx.span(f"op.{name}", "bench"):
            with ctx.span(f"{layer}.{name}", layer):
                df = fn(ctx.spark, self.data_dir)
            p1 = time.perf_counter()
            ctx.collector.set_group(f"perfbench:{name}:execute")
            with ctx.span("spark.execute", "spark"):
                pdf = df.toPandas()
        t2, p2 = time.time(), time.perf_counter()
        ctx.collector.set_group(None)
        res = OpResult(name, p2 - p0, (t0, t2))
        res.info.update(layer=layer, build_s=p1 - p0, execute_s=p2 - p1)
        if ctx.tracing:
            res.info["catalyst_ms"] = catalyst_phases_ms(df)
        if layer == "streaming":
            ctx.collector.flush()
            res.info["batches"] = ctx.listener.between(t0, t2)
            res.info["input_rows"] = sum(b["rows"] for b in res.info["batches"])
        exp = self.expected[name]
        if exp is None:
            exp = self.expected[name] = Expected(None, None, len(pdf))
        res.error = exp.check(pdf)
        return res


class QueryMix(Workload):
    """Read-only registry queries: the relational ones are
    execute-dominated, the iterative ones construction-dominated, so a
    change to plan building moves the second group and leaves the first."""

    name = "query_mix"

    def prepare(self) -> None:
        self.registry = RegistryOps(self.ctx, RELATIONAL + ITERATIVE)

    def ops(self) -> list[str]:
        return list(RELATIONAL + ITERATIVE)

    def run_op(self, name: str) -> OpResult:
        return self.registry.run(name)


# ---------------------------------------------------------------------------
# ETL and streams


class StarSync:
    """The ETL ops.  One cycle is a full 3-table sync (three
    ``run_pipeline`` calls; the fact's finalizes the rollup) and a delta
    merge of the fact (one ``run_pipeline`` call that finalizes again)."""

    def __init__(self, ctx):
        from gcp_cloudsql_airflow_bigquery_spark import pipeline as pl
        from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec

        self.ctx, self.pl = ctx, pl
        src = self.src = datagen.StarSources(ctx.seed, ETL_SF)
        src_dir = os.path.join(ctx.work, "sources")
        url = f"jdbc:derby:memory:perfbench_{os.getpid()}"
        self.source_bytes = {
            "customer": src.write_customer_derby(
                ctx.spark, url, os.path.join(src_dir, "customer.csv")
            ),
            "part": src.write_part_ndjson(os.path.join(src_dir, "part")),
        }
        fact_csv = os.path.join(src_dir, "lineitem", "lineitem.csv")
        self.source_bytes["lineitem"] = src.write_fact_csv(src.fact, fact_csv)
        self.delta_csv = os.path.join(src_dir, "delta", "delta.csv")
        self.warehouse = pl.Warehouse(os.path.join(ctx.work, "warehouse"))
        csv_opts = {"quote": ""}  # unquoted export: the marker is a bare token
        fact = dict(
            stage_table="lineitem",
            repair=True,
            source_types=dict(datagen.FACT_SOURCE_TYPES),
            stage_final_query=ROLLUP_SQL,
            final_table="star_rollup",
        )
        self.specs = {
            "customer": PipelineSpec(
                export_table="CUSTOMER",
                stage_table="customer",
                source=SourceSpec(
                    kind="jdbc",
                    url=url,
                    driver=datagen.DERBY_DRIVER,
                    partition_column="C_CUSTKEY",
                    lower_bound=0,
                    upper_bound=len(src.customer),
                    num_partitions=4,
                ),
            ),
            "part": PipelineSpec(
                export_table="part",
                source=SourceSpec(kind="json", path=os.path.join(src_dir, "part")),
            ),
            "lineitem": PipelineSpec(
                export_table="lineitem",
                source=SourceSpec(kind="csv", path=fact_csv, csv_options=csv_opts),
                **fact,
            ),
            "lineitem_merge": PipelineSpec(
                export_table="lineitem",
                source=SourceSpec(kind="csv", path=self.delta_csv, csv_options=csv_opts),
                write_mode="merge",
                merge_keys=("l_id",),
                **fact,
            ),
        }
        repaired = src.repaired(src.fact)
        self.expected_rows = {
            "customer": len(src.customer),
            "part": len(src.part),
            "lineitem": len(repaired),
        }
        self.expected_rollup = {"lineitem": self._rollup(repaired)}
        self.expected_nulls = {"lineitem": src.nulls(repaired)}

    def _rollup(self, fact: pd.DataFrame) -> Expected:
        con = duckdb.connect()
        con.register("lineitem_stage", fact)
        con.register("customer_stage", self.src.customer)
        con.register("part_stage", self.src.part)
        pdf = con.execute(ROLLUP_SQL).df()
        con.close()
        return Expected(sorted(pdf.columns), canonical(pdf), len(pdf))

    def _next_delta(self) -> None:
        """Write the next seeded delta and derive the expected merged state
        (untimed input preparation before the merge op)."""
        src = self.src
        delta = src.delta_of(src.fact)
        self.source_bytes["lineitem_merge"] = src.write_fact_csv(delta, self.delta_csv)
        self.delta_rows = len(delta)
        merged = src.repaired(src.merged(src.fact, delta))
        self.expected_rows["lineitem_merge"] = len(merged)
        self.expected_rollup["lineitem_merge"] = self._rollup(merged)
        self.expected_nulls["lineitem_merge"] = src.nulls(merged)

    def run(self, name: str) -> OpResult:
        ctx, pl = self.ctx, self.pl
        if name == "lineitem_merge":
            self._next_delta()
        spec = self.specs[name]
        t0, p0 = time.time(), time.perf_counter()
        result, err = None, None
        try:
            with ctx.span(f"op.{name}", "bench"):
                result = pl.run_pipeline(ctx.spark, spec, self.warehouse)
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        res = OpResult(name, time.perf_counter() - p0, (t0, time.time()), err)
        if result is None:
            return res
        merge = name == "lineitem_merge"
        written = self.warehouse.path(spec.stage_table)
        res.info.update(
            rows_written=result.rows_written,
            attempts=result.attempts,
            source_bytes=self.source_bytes[name],
            rows_read=self.delta_rows if merge else result.rows_written,
            table_rows=_parquet_files([written])[2],
        )
        tables = [written] + ([self.warehouse.path(spec.final_table)] if spec.final_table else [])
        res.info["files"], res.info["bytes"], _ = _parquet_files(tables)
        if result.rows_written != res.info["table_rows"]:
            res.error = f"rows_written {result.rows_written} != table rows {res.info['table_rows']}"
        elif result.rows_written != self.expected_rows[name]:
            res.error = f"rows_written {result.rows_written} != {self.expected_rows[name]}"
        elif name in self.expected_rollup:
            pdf = ctx.spark.read.parquet(self.warehouse.path("star_rollup")).toPandas()
            res.error = self.expected_rollup[name].check(pdf)
            nulls = {
                "l_returnflag": int(pdf["n_null_flag"].sum()),
                "l_discount": int(pdf["n_null_discount"].sum()),
            }
            res.info["nulls"] = sum(nulls.values())
            if res.error is None and nulls != self.expected_nulls[name]:
                res.error = f"NULLs {nulls} != expected {self.expected_nulls[name]}"
        return res


class EtlStreamIngest(Workload):
    """A pass is one ETL cycle in its fixed order (dims, fact, merge)
    followed by the streams in a seeded order."""

    name = "etl_stream_ingest"

    def prepare(self) -> None:
        self.etl = StarSync(self.ctx)
        self.streams = RegistryOps(self.ctx, STREAMS)

    def ops(self) -> list[str]:
        return list(ETL_OPS) + list(STREAMS)

    def order(self, rng: random.Random) -> list[str]:
        streams = list(STREAMS)
        rng.shuffle(streams)
        return list(ETL_OPS) + streams

    def run_op(self, name: str) -> OpResult:
        if name in ETL_OPS:
            return self.etl.run(name)
        return self.streams.run(name)

    def rows(self, res: OpResult) -> int:
        return res.info.get("rows_written", res.info.get("input_rows", 0))


def _parquet_files(paths: list[str]) -> tuple[int, int, int]:
    """Parquet data files under ``paths``: count, bytes and rows (rows from
    the file footers)."""
    n = size = rows = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    path = os.path.join(root, f)
                    n += 1
                    size += os.path.getsize(path)
                    rows += pq.read_metadata(path).num_rows
    return n, size, rows


WORKLOADS = {w.name: w for w in (EtlStreamIngest, QueryMix)}
