"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded only in the benchmark's own files, around its calls
into each layer of the engine. A span's name is ``<layer>.<call>``;
layers are the repo's modules (session, codec, sources, operators,
queries, streaming, spark) plus ``bench`` for the harness's own work.
Spans stay in memory and are written out once, when the run ends.

``SparkCounters`` reads what Spark itself counted for one operation,
through py4j, by the job group the operation ran under: jobs, stages
and tasks from the status tracker, task metrics from the status store,
analysis time from the query's ``QueryExecution.tracker()`` and the
JVM-wide codegen counters.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = enabled  # False while an untraced operation runs
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "op": self.op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer over the spans of operations: each span's
        duration minus the time its direct children cover, summed by
        layer (the name's prefix)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


class SparkCounters:
    """Per-operation counters read back from the running SparkContext."""

    KEYS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
            "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = spark._jvm
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._codegen_count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile milliseconds so far), JVM-wide."""
        return self._codegen_count.getCount(), self._codegen.compileTime() / 1e6

    def jobs(self, group: str) -> dict[str, float]:
        """Totals over every job of ``group`` and every stage they ran."""
        out = dict.fromkeys(self.KEYS, 0.0)
        job_ids = list(self._tracker.getJobIdsForGroup(group))
        out["jobs"] = float(len(job_ids))
        stages = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            seq = self._store.stageData(s, False, self._no_status, False, self._no_quantiles)
            for i in range(seq.size()):
                d = seq.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["failed_tasks"] += d.numFailedTasks()
                out["executor_run_ms"] += d.executorRunTime()
                out["executor_cpu_ms"] += d.executorCpuTime() / 1e6
                out["gc_ms"] += d.jvmGcTime()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out

    @staticmethod
    def analysis_ms(df) -> float:
        phase = df._jdf.queryExecution().tracker().phases().get("analysis")
        return float(phase.get().durationMs()) if phase.isDefined() else 0.0


def tree_rss_mb() -> float:
    """Peak resident memory (VmHWM) summed over this process and all its
    descendants (the JVM and Spark's Python workers), from /proc."""
    total_kb, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except (OSError, ValueError):
            continue
    return total_kb / 1024.0
