"""Spans around calls into the program's layers, with the Spark
status-store numbers of each call.

A :class:`Tracer` records one span per public call: name, start, end,
parent and the run id every span of the run shares. The jobs a span
runs are tagged with a job group of the span's own, so its stage
metrics are read back for exactly that call's stages — never as a diff
of cumulative store totals, which ``spark.ui.retainedStages`` eviction
would inflate over a long run. They are read once the run is over
(:meth:`Tracer.collect`): jobs a call starts on other threads, such as
the scanner's per-bucket iterators, may still be running when its span
closes. Spans stay in memory until :meth:`Tracer.write` dumps them as a
sidecar.

With ``enabled=False`` every span is a no-op and nothing is recorded:
the end-to-end metrics are measured that way.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

STAGE_FIELDS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "spill_bytes",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


class StatusStore:
    """Reads per-stage task metrics from Spark's AppStatusStore, which
    the listener bus fills with or without the UI."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        jvm = self._sc._jvm
        self._empty = jvm.java.util.ArrayList()
        # Scala default-argument accessors: the full signatures vary
        # between minor versions, their defaults do not
        self._list_defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]
        self._data_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in (2, 3, 4, 5)
        ]

    @staticmethod
    def _row(s) -> dict:
        sub, done = s.submissionTime(), s.completionTime()
        return {
            "stage_id": s.stageId(),
            "tasks": s.numCompleteTasks(),
            "executor_run_ms": s.executorRunTime(),
            "executor_cpu_ms": s.executorCpuTime() / 1e6,
            "gc_ms": s.jvmGcTime(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "output_bytes": s.outputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "start_ms": sub.get().getTime() if sub.isDefined() else None,
            "end_ms": done.get().getTime() if done.isDefined() else None,
        }

    def stages_of_group(self, group: str) -> tuple[int, list[dict]]:
        """(job count, stage rows) of every job tagged with ``group``."""
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        rows = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                it = self._store.stageData(sid, *self._data_defaults).iterator()
                while it.hasNext():
                    rows.append(self._row(it.next()))
        return len(job_ids), rows

    def stages_since(self, since_ms: float) -> list[dict]:
        """Every retained stage submitted at or after ``since_ms``."""
        rows = []
        it = self._store.stageList(self._empty, *self._list_defaults).iterator()
        while it.hasNext():
            r = self._row(it.next())
            if r["start_ms"] is not None and r["start_ms"] >= since_ms:
                rows.append(r)
        return rows


def stage_totals(rows: list[dict]) -> dict:
    return {f: sum(r[f] for r in rows) for f in STAGE_FIELDS}


def busy_ms(rows: list[dict], lo_ms: float, hi_ms: float) -> float:
    """Length of the union of the stages' run intervals, clipped to
    [lo_ms, hi_ms]: the part of a span during which some stage ran."""
    iv = sorted(
        (max(r["start_ms"], lo_ms), min(r["end_ms"] or hi_ms, hi_ms))
        for r in rows
        if r["start_ms"] is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Span:
    __slots__ = ("id", "parent", "name", "group", "start", "end", "jobs", "stages")

    def __init__(self, sid: int, parent: int | None, name: str, group: str):
        self.id, self.parent, self.name, self.group = sid, parent, name, group
        self.start = self.end = 0.0
        self.jobs = 0
        self.stages: list[dict] = []

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping while tracing
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._store = StatusStore(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body as one span. The body's Spark jobs run under a
        job group of this span's own, restored to the enclosing span's
        group on exit."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        sp = Span(sid, parent.id if parent else None, name, f"{self.run_id}/{sid}")
        sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t

    def collect(self) -> None:
        """Read every span's stages from the status store; call once the
        traced work is over."""
        for sp in self.spans:
            sp.jobs, sp.stages = self._store.stages_of_group(sp.group)

    def stages_since(self, since_epoch_s: float) -> list[dict]:
        return self._store.stages_since(since_epoch_s * 1000.0)

    # ------------------------------------------------------------ views
    def subtree(self, sp: Span) -> list[Span]:
        kids = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def call_stats(self, sp: Span) -> dict:
        """Stage totals, job count and driver-only time of one call,
        over the stages of the span and every span below it."""
        tree = self.subtree(sp)
        rows = [r for s in tree for r in s.stages]
        out = stage_totals(rows)
        out["jobs"] = sum(s.jobs for s in tree)
        out["driver_only_ms"] = sp.ms - busy_ms(rows, sp.start * 1000.0, sp.end * 1000.0)
        return out

    def self_ms(self, sp: Span) -> float:
        """The span's duration minus the time its child spans cover."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == sp.id]
        rows = [{"start_ms": a * 1000.0, "end_ms": b * 1000.0} for a, b in kids]
        return sp.ms - busy_ms(rows, sp.start * 1000.0, sp.end * 1000.0)

    def write(self, path: str, extra: dict) -> None:
        spans = [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_ms": self.self_ms(s),
                "jobs": s.jobs,
                "stages": stage_totals(s.stages),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": spans}, f)
