"""Per-layer spans measured from outside the package.

A span is a named interval around calls into one package module. Its jobs
are tagged with a Spark job group, so after the span the live status store
gives the stages they ran (the UI can stay off). Per span the recorder adds
up:

- ``s``: wall time of the span;
- ``jobs``: Spark jobs started inside it;
- ``task_s``: summed executor run time of its stages;
- ``shuffle_write_bytes``, ``spill_bytes`` (memory + disk), ``gc_s``;
- ``no_stage_s``: span wall time during which none of its stages ran, that
  is driver-side Python, py4j and Catalyst planning time.

Spans stay in memory; ``metrics()`` flattens them at the end of the run.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Job-group ids are unique for the whole process: statusTracker keeps the
# jobs of finished groups, so a reused id would count earlier spans' jobs.
_GROUP_IDS = itertools.count(1)

SPAN_FIELDS = ("s", "jobs", "task_s", "shuffle_write_bytes", "spill_bytes",
               "gc_s", "no_stage_s")


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.values: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        """Time the block and attribute the Spark jobs it starts to ``name``."""
        group = f"perfbench-{next(_GROUP_IDS)}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._account(name, group, t0, t1)

    def _account(self, name: str, group: str, t0: float, t1: float) -> None:
        v = self.values
        jobs = self.tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        busy = []
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store: counted in no_stage_s
            if sd.status().toString() == "SKIPPED":
                continue
            v[f"{name}.task_s"] += sd.executorRunTime() / 1e3
            v[f"{name}.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            v[f"{name}.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            v[f"{name}.gc_s"] += sd.jvmGcTime() / 1e3
            if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                a = max(sd.submissionTime().get().getTime() / 1e3, t0)
                b = min(sd.completionTime().get().getTime() / 1e3, t1)
                if b > a:
                    busy.append((a, b))
        v[f"{name}.s"] += t1 - t0
        v[f"{name}.jobs"] += len(jobs)
        v[f"{name}.no_stage_s"] += (t1 - t0) - _interval_union(busy)

    def add(self, name: str, value: float) -> None:
        self.values[name] += value


def codegen_counters(spark) -> tuple[int, float]:
    """JVM-wide whole-stage codegen compiles and compile seconds so far."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return n, ns / 1e9


def plan_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase seconds of the DataFrame's last execution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out
