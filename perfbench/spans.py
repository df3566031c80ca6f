"""Spans around layer calls, with Spark's own counters for each span.

A span records name, start, end and parent. A leaf span that runs Spark
work gets its own job group; when it ends, the tracer waits for the
listener bus to drain and reads, for that group's jobs, the job
intervals from ``statusStore.job`` and the stage metrics from
``statusStore.stageData``. Every counter read here is available with
``spark.ui.enabled=false``. A disabled tracer records nothing; its
spans cost one attribute check.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "input_rows",
    "shuffle_write_bytes",
    "spill_bytes",
    "job_ms",
)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "counters", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None) -> None:
        self.id, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.counters: dict[str, float] = {}
        self.attrs: dict[str, object] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **self.counters,
            **self.attrs,
        }


class Tracer:
    """Records spans while ``enabled``; writes them as JSON lines."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._spark = None

    def attach(self, spark) -> None:
        """Read counters through this session from now on."""
        self._spark = spark

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Time a layer call. ``group=True`` runs it under its own job
        group and attaches the group's Spark counters to the span. Work
        that runs in other job groups (a streaming query runs under its
        run id) is attached by adding those ids to ``span.attrs["groups"]``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._spark.sparkContext
        groups = sp.attrs.setdefault("groups", [])
        if group:
            groups.append(f"perfbench-{sp.id}")
            sc.setJobGroup(groups[0], name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                sc.setJobGroup("perfbench-idle", "")
            if groups:
                t0 = time.perf_counter()
                sp.counters = self.group_counters(groups)
                # the read is tracing cost, not the program's: kept apart
                # so that it can be taken out of the parent's self time
                sp.attrs["trace_s"] = time.perf_counter() - t0

    def group_counters(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages, tasks and stage metrics of some job groups."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        c = dict.fromkeys(COUNTERS, 0)
        intervals = []
        job_ids = [j for g in groups for j in sc.statusTracker().getJobIdsForGroup(g)]
        for job_id in job_ids:
            job = store.job(job_id)
            c["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (
                        job.submissionTime().get().getTime(),
                        job.completionTime().get().getTime(),
                    )
                )
            for stage_id in to_java(job.stageIds()):
                if stage_id in self._seen_stages:
                    continue
                attempts = store.stageData(stage_id, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    self._seen_stages.add(stage_id)
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["run_ms"] += sd.executorRunTime()
                    c["cpu_ns"] += sd.executorCpuTime()
                    c["input_rows"] += sd.inputRecords()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c["job_ms"] = _union_ms(intervals)
        return c

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.id]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s.parent == pid]
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.to_json()) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phases_ms(jqe) -> dict[str, int]:
    """Analysis, optimization and planning time of a (JVM) QueryExecution,
    from ``tracker().phases()``."""
    phases = jqe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = ph.get().durationMs() if ph.isDefined() else 0
    return out
