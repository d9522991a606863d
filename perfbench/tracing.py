"""Spans, Spark counters and a resident-memory sampler for the benchmark.

A span times one call into the engine from outside it. With tracing off a
span records only its start and end, which is all the end-to-end metrics
need. With tracing on it also runs its Spark jobs under a job group of its
own and, once the call returns, reads that group's jobs from
``StatusTracker`` and their stages' task, shuffle and spill figures from
the JVM status store. Both work with ``spark.ui.enabled=false``. Counters
are read after the span's end time is taken, so they cost the traced run's
wall time but not the span's own duration.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory, written out by the caller when the run ends."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                # jobs launched outside any inner span belong to the
                # enclosing one; the top level runs with no group
                if self._stack:
                    self.sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                s.counters = self._counters(group)

    def _counters(self, group: str) -> dict[str, int]:
        jsc = self.sc._jsc.sc()
        # job/stage end events reach the status store asynchronously
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    def record(self, name: str, start: float, end: float) -> None:
        """A top-level span for a call made before the tracer existed."""
        self.spans.append(Span(len(self.spans), name, None, start, end))

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id]

    def top_level(self, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.name != "iteration" and name in (None, s.name)]

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end, **s.counters}
            for s in self.spans
        ]


def _descendants(root: int) -> list[int]:
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent_of[int(entry)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Summed RSS of this process's descendants, sampled in the background:
    the driver JVM and the Python workers it forks, not the driver's own
    Python. Workers come and go with the scheduler, so a window's median is
    a far steadier figure than its peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), sum(_rss_bytes(p) for p in _descendants(me))))
            self._stop.wait(self.interval)

    def median_between(self, start: float, end: float) -> float:
        window = [b for t, b in self.samples if start <= t <= end]
        return float(statistics.median(window)) if window else 0.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
