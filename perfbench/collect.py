"""Outside-in counters: host context, driver JVM memory, Spark job/stage
metrics from the status store, and streaming progress from a listener.

Nothing here changes how the engine runs.  Spark numbers are read back
after an op through py4j from ``SparkContext.statusStore`` (jobs and
stages, serialized to JSON in one call each) and attributed to the op by
submission time; the op's own job groups tell build jobs from execute
jobs.
"""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def host_context() -> dict:
    """Usable cores, load average, the host's CPU tick counters (``steal``
    is time the hypervisor gave to other guests) and cgroup CPU throttling
    counters."""
    info: dict = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    info["cpu_ticks"] = dict(
        zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), ticks)
    )
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                k, _, v = line.partition(" ")
                if k in ("nr_periods", "nr_throttled", "throttled_usec"):
                    info[f"cgroup_{k}"] = int(v)
    except OSError:
        pass
    return info


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the driver JVM and its Python workers."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = int(fields[11]) + int(fields[12])
    me = os.getpid()
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


class SparkCollector:
    """Reads job and stage metrics for a time window out of the status
    store.  ``stageList`` is called with all five arguments (py4j sees no
    Scala defaults) and its ``Seq`` is serialized in one JVM call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def window(self, t0: float, t1: float) -> dict:
        """Jobs submitted in ``[t0, t1]`` (epoch seconds) and their stages."""
        lo, hi = int(t0 * 1000) - 1, int(t1 * 1000) + 1
        jobs = [
            j
            for j in json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
            if j.get("submissionTime") is not None and lo <= j["submissionTime"] <= hi
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in json.loads(
                self._mapper.writeValueAsString(
                    self._store.stageList(None, False, False, self._no_quantiles, None)
                )
            )
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        return {"jobs": jobs, "stages": stages}

    @staticmethod
    def summarize(win: dict, wall_s: float) -> dict:
        """Per-op Spark counters; ``driver_gap_s`` is the op wall minus the
        union of its stages' run intervals."""
        stages = win["stages"]
        ivals = sorted(
            (s["submissionTime"], s["completionTime"])
            for s in stages
            if s.get("submissionTime") and s.get("completionTime")
        )
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo

        def total(key: str) -> float:
            return float(sum(s.get(key) or 0 for s in stages))

        return {
            "spark.jobs": len(win["jobs"]),
            "spark.stages": len(stages),
            "spark.tasks": total("numTasks"),
            "spark.executor_run_s": total("executorRunTime") / 1e3,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.input_records": total("inputRecords"),
            "spark.input_bytes": total("inputBytes"),
            "spark.shuffle_read_bytes": total("shuffleReadBytes"),
            "spark.shuffle_write_bytes": total("shuffleWriteBytes"),
            "spark.spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
            "spark.output_bytes": total("outputBytes"),
            "spark.driver_gap_s": max(0.0, wall_s - covered / 1e3),
        }


def catalyst_phases_ms(df) -> dict:
    """Catalyst phase durations recorded on the DataFrame's own
    ``QueryExecution`` (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress of the streams run in this
    session (the streams' jobs run under their own job groups, so the
    listener is the only complete source for them)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "t": datetime.fromisoformat(p.timestamp).timestamp(),
                "rows": int(p.numInputRows),
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def between(self, t0: float, t1: float) -> list[dict]:
        """Batches whose trigger started in ``[t0, t1]`` (epoch seconds)."""
        return [p for p in self.progress if t0 <= p["t"] <= t1]

    @staticmethod
    def summarize(batches: list[dict]) -> dict:
        def dur(key: str) -> float:
            return sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3

        trig = [b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in batches]
        return {
            "streaming.batches": len(batches),
            "streaming.input_rows": sum(b["rows"] for b in batches),
            "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.state_rows": max((b["state_rows"] for b in batches), default=0),
            "streaming.state_memory_bytes": max((b["state_bytes"] for b in batches), default=0),
        }
