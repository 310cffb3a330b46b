"""Spans and counter readouts, taken from outside ``bcdp_spark``.

A ``Tracer`` records one span per call the benchmark makes into a layer
(name, start, end, parent span, step id). Spans stay in memory; the
runner writes them out once, when the run ends. With tracing off,
``span`` does nothing, so untraced passes pay no bookkeeping.

``SparkProbe`` reads the counters Spark and the JVM already keep: the
status store (jobs and stages per job group), the SQL metrics of an
executed plan, the Catalyst phase tracker, Spark's codegen compile
counter and the JVM's management beans. All of them work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.step = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "step": self.step,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def step_spans(self, step: str) -> list[dict]:
        return [s for s in self.spans if s["step"] == step]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: a span's duration minus the part of it
    its child spans cover. ``spans`` must hold whole trees."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        cover = _union([(k["start"], k["end"]) for k in kids.get(s["id"], [])])
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - cover
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def covered(spans: list[dict]) -> float:
    """Wall time covered by the top-level spans of ``spans``."""
    return _union([(s["start"], s["end"]) for s in spans if s["parent"] is None])


class SparkProbe:
    """Counter readouts through py4j. One instance per session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._cls = mf.getClassLoadingMXBean()
        self._mem = mf.getMemoryMXBean()
        self._jvm = jvm
        self._store = self.sc._jsc.sc().statusStore()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    # -- JVM ------------------------------------------------------------
    def jvm_counters(self) -> dict[str, float]:
        return {
            "jit_s": self._comp.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "classes": float(self._cls.getTotalLoadedClassCount()),
            "compiles": self.compiles(),
        }

    def compiles(self) -> float:
        """Janino compilations so far (Spark's codegen cache misses)."""
        return float(
            self._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount()
        )

    def heap_live_mb(self) -> float:
        """Heap in use after forced full collections. Objects the driver
        released (py4j proxies, the blocks and shuffles Spark's
        ContextCleaner drops after a collection, objects waiting for a
        finalizer) free up over several collections, and a reading can
        stay high for a collection or two. So collect until three
        readings in a row agree within 1%, and keep the lowest.
        A ``System.gc()`` the JVM skipped (no collector count moved) is
        not a reading. Every reading is kept in ``heap_readings``."""
        system = self._jvm.java.lang.System
        self.heap_readings: list[list[float]] = []
        good: list[float] = []
        for _ in range(12):
            n0 = self._gc_count()
            system.gc()
            system.runFinalization()
            system.gc()
            used = self._mem.getHeapMemoryUsage().getUsed() / 2**20
            collected = self._gc_count() > n0
            self.heap_readings.append([round(used, 2), collected])
            if collected:
                good.append(used)
            if len(good) >= 3 and max(good[-3:]) <= 1.01 * min(good[-3:]):
                break
            time.sleep(0.5)
        return min(good or [used])

    def _gc_count(self) -> int:
        return sum(g.getCollectionCount() for g in self._gcs)

    def jvm_rss_peak_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # -- jobs and stages ------------------------------------------------
    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_metrics(self, group: str, timeout: float = 10.0) -> dict[str, float]:
        """Jobs, stages and task counters of every job in ``group``, read
        from the status store once the listener has seen each job end."""
        ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "input_mb"),
            0.0,
        )
        deadline = time.monotonic() + timeout
        for jid in ids:
            job = self._store.job(jid)
            while job.status().toString() == "RUNNING":
                if time.monotonic() > deadline:
                    raise TimeoutError(f"job {jid} of {group} still running")
                time.sleep(0.002)
                job = self._store.job(jid)
            out["jobs"] += 1
            out["tasks"] += job.numTasks() - job.numSkippedTasks()
            out["failed_tasks"] += job.numFailedTasks()
            stages = job.stageIds()
            for i in range(stages.size()):
                st = self._store.lastStageAttempt(stages.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
                out["input_mb"] += st.inputBytes() / 2**20
        return out

    # -- plans ----------------------------------------------------------
    def plan_metrics(self, df) -> dict[str, float]:
        """Catalyst phase times and SQL metrics of ``df``'s executed
        (final adaptive) plan."""
        qe = df._jdf.queryExecution()
        out = dict.fromkeys(
            ("analysis_s", "optimization_s", "planning_s", "scan_rows",
             "agg_time_s", "join_build_s", "sort_s", "py_rows",
             "py_sent_mb", "py_received_mb"),
            0.0,
        )
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                out[f"{phase}_s"] += got.get().durationMs() / 1000.0
        todo = [qe.executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                todo.append(node.child())
                continue
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
            m = _metrics(node)
            if "Scan" in cls:
                out["scan_rows"] += m.get("numOutputRows", 0)
            elif "Aggregate" in cls:
                out["agg_time_s"] += m.get("aggTime", 0) / 1000.0
            elif cls in ("BroadcastExchangeExec", "ShuffledHashJoinExec"):
                out["join_build_s"] += m.get("buildTime", 0) / 1000.0
            elif cls == "SortExec":
                out["sort_s"] += m.get("sortTime", 0) / 1000.0
            if "pythonDataSent" in m:
                out["py_rows"] += m.get("pythonNumRowsReceived", 0)
                out["py_sent_mb"] += m["pythonDataSent"] / 2**20
                out["py_received_mb"] += m.get("pythonDataReceived", 0) / 2**20
        return out


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out
