"""Per-layer spans for the traced benchmark run.

A span wraps one call the benchmark makes into an engine layer.  Opening a
span tags every Spark job started inside it with a job group of its own
(``setJobGroup``); closing it reads those jobs' stages back from Spark's
status store (``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``), which works with the UI disabled.  The
store keeps only the last 1000 stages, so each span reads its stages when it
closes.  Spans stay in memory; :meth:`Tracer.totals` folds them by name once
at the end.

Engine calls made indirectly (``etl.run_ingest`` calling ``load_dims``, the
sinks and the fact builders) are reached with :meth:`Tracer.wrap`, which
swaps a module attribute for a spanning wrapper until :meth:`Tracer.unwrap_all`
puts the original back.  The engine itself is unchanged.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1e6


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def subtract(intervals: list[tuple[float, float]], holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``intervals`` minus every interval in ``holes``."""
    out = list(intervals)
    for hs, he in holes:
        nxt = []
        for s, e in out:
            if he <= s or hs >= e:
                nxt.append((s, e))
                continue
            if s < hs:
                nxt.append((s, hs))
            if he < e:
                nxt.append((he, e))
        out = nxt
    return out


@dataclass
class StageCost:
    """What one stage attempt cost, as Spark's status store records it."""

    start: float  # epoch seconds
    end: float
    task_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    input_mb: float
    output_mb: float


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with stage times
    parent: Span | None = None
    group: str = ""  # the Spark job group of the jobs started inside it
    end: float = 0.0
    jobs: int = 0
    stages: list[StageCost] = field(default_factory=list)
    children: list[Span] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def child_intervals(self) -> list[tuple[float, float]]:
        return [(c.start, c.end) for c in self.children]

    @property
    def self_s(self) -> float:
        """Wall time not covered by a child span."""
        return self.wall_s - union_length(clip(self.child_intervals, self.start, self.end))

    @property
    def driver_gap_s(self) -> float:
        """Self time that none of this span's own stages covers: driver,
        py4j and scheduling work."""
        own = clip([(st.start, st.end) for st in self.stages], self.start, self.end)
        return self.self_s - union_length(subtract(own, self.child_intervals))


def read_stage(status_store, stage_id: int) -> StageCost | None:
    """One stage's cost from the JVM status store, or None when the stage
    never ran (skipped, or already evicted from the store)."""
    try:
        sd = status_store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # NoSuchElementException: never submitted, or evicted
        return None
    sub, done = sd.submissionTime(), sd.completionTime()
    if not sub.isDefined() or not done.isDefined():
        return None
    return StageCost(
        start=sub.get().getTime() / 1000.0,
        end=done.get().getTime() / 1000.0,
        task_s=sd.executorRunTime() / 1000.0,
        cpu_s=sd.executorCpuTime() / 1e9,
        gc_s=sd.jvmGcTime() / 1000.0,
        shuffle_read_mb=sd.shuffleReadBytes() / MB,
        shuffle_write_mb=sd.shuffleWriteBytes() / MB,
        input_mb=sd.inputBytes() / MB,
        output_mb=sd.outputBytes() / MB,
    )


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    apart from running the wrapped code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, group=f"perfbench-{next(self._ids)}")
        sc.setJobGroup(sp.group, name, interruptOnCancel=False)
        self._stack.append(sp)
        self.own_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._collect(sp)
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(parent.group, parent.name, interruptOnCancel=False)
                parent.children.append(sp)
            self.spans.append(sp)
            self.own_s += time.perf_counter() - t1

    def _collect(self, sp: Span) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(sp.group)
        sp.jobs = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            cost = read_stage(store, sid)
            if cost is not None:
                sp.stages.append(cost)

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def records(self) -> list[dict]:
        """Every span as a flat record, parents referenced by index."""
        index = {id(sp): i for i, sp in enumerate(self.spans)}
        t0 = min((sp.start for sp in self.spans), default=0.0)
        return [{
            "i": i, "name": sp.name,
            "parent": index.get(id(sp.parent)) if sp.parent else None,
            "start_s": round(sp.start - t0, 4), "wall_s": round(sp.wall_s, 4),
            "self_s": round(sp.self_s, 4), "driver_gap_s": round(sp.driver_gap_s, 4),
            "jobs": sp.jobs, "stages": len(sp.stages),
            "task_s": round(sum(st.task_s for st in sp.stages), 4),
            "cpu_s": round(sum(st.cpu_s for st in sp.stages), 4),
            "gc_s": round(sum(st.gc_s for st in sp.stages), 4),
            "input_mb": round(sum(st.input_mb for st in sp.stages), 4),
            "output_mb": round(sum(st.output_mb for st in sp.stages), 4),
        } for i, sp in enumerate(self.spans)]

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed self time, jobs, task time, shuffle and
        driver gap, plus the number of spans folded in."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            t = out.setdefault(sp.name, {
                "count": 0, "self_s": 0.0, "jobs": 0, "task_s": 0.0,
                "shuffle_mb": 0.0, "shuffle_read_mb": 0.0, "driver_gap_s": 0.0,
            })
            t["count"] += 1
            t["self_s"] += sp.self_s
            t["jobs"] += sp.jobs
            t["task_s"] += sum(st.task_s for st in sp.stages)
            t["shuffle_read_mb"] += sum(st.shuffle_read_mb for st in sp.stages)
            t["shuffle_mb"] += sum(st.shuffle_read_mb + st.shuffle_write_mb for st in sp.stages)
            t["driver_gap_s"] += sp.driver_gap_s
        return out
