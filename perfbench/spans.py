"""Spans and Spark counters, taken from outside the program.

``Tracer`` records one span per public call the benchmark makes: name,
start, end, parent span and the id of the iteration it belongs to. Spans
stay in memory until the run ends. ``self_times`` derives each span's self
time: its duration minus the part of it covered by its children.

``StageCounters`` reads Spark's application status store, the same store the
web UI renders, so it works with the UI disabled. A call's stages are the
ids above a watermark taken before the call; the listener bus is drained
before reading, or the last stage of the call is missed. Jobs are found the
same way, which also catches the map-stage jobs that adaptive query
execution submits outside any job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: How long to wait for the listener bus to drain before reading counters.
_DRAIN_MS = 10_000
#: Consecutive missing ids that end a scan: an id can be consumed without
#: ever reaching the status store (a job that failed while being planned).
_MAX_GAP = 3


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so the
    timed code is the same with tracing on and off."""

    def __init__(self, enabled: bool, counters: "StageCounters | None" = None):
        self.enabled = enabled
        self.counters = counters if enabled else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.iteration: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        mark = self.counters.mark() if self.counters else None
        s = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            iteration=self.iteration,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                s.counters = self.counters.since(mark)

    def self_times(self) -> list[float]:
        """Per span, its duration minus the union of its children's
        intervals (children of one span never overlap: one client)."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.duration
        return [s.duration - c for s, c in zip(self.spans, covered)]

    def to_records(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "id": i,
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                "iteration": s.iteration,
                "self_s": round(st, 6),
                **({"counters": s.counters} if s.counters else {}),
            }
            for i, (s, st) in enumerate(zip(self.spans, selfs))
        ]


class StageCounters:
    """Jobs, stages and task metrics of everything Spark ran between
    :meth:`mark` and :meth:`since`, read from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        jvm = spark.sparkContext._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._next = self._scan(0, self._has_stage), self._scan(0, self._has_job)

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(_DRAIN_MS)

    def _has_stage(self, sid: int):
        """Every attempt of stage ``sid``, or None if the store has none."""
        attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
        return attempts if attempts.size() else None

    def _has_job(self, jid: int):
        return self._tracker.getJobInfo(jid)

    @staticmethod
    def _scan(start: int, probe) -> int:
        """First id at or above ``start`` after which ``_MAX_GAP`` ids in a
        row are missing."""
        i, gap, nxt = start, 0, start
        while gap < _MAX_GAP:
            if probe(i) is None:
                gap += 1
            else:
                gap, nxt = 0, i + 1
            i += 1
        return nxt

    def mark(self) -> tuple[int, int]:
        self._drain()
        self._next = (
            self._scan(self._next[0], self._has_stage),
            self._scan(self._next[1], self._has_job),
        )
        return self._next

    def since(self, mark: tuple[int, int]) -> dict:
        self._drain()
        out = {
            "jobs": 0,
            "stages": 0,
            "skipped_stages": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "run_time_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        stage0, job0 = mark
        sid, gap = stage0, 0
        while gap < _MAX_GAP:
            attempts = self._has_stage(sid)
            sid += 1
            if attempts is None:
                gap += 1
                continue
            gap = 0
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["run_time_s"] += st.executorRunTime() / 1e3
                out["shuffle_read_mb"] += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                ) / 1e6
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        jid, gap = job0, 0
        while gap < _MAX_GAP:
            found = self._has_job(jid) is not None
            jid += 1
            gap = 0 if found else gap + 1
            out["jobs"] += found
        self._next = (max(self._next[0], sid - _MAX_GAP), max(self._next[1], jid - _MAX_GAP))
        return out
