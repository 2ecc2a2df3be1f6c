"""Spans around the engine's public entry points, and the reduction of
Spark's event log to per-span layer metrics.

A span is opened by the benchmark around a call into one layer. While
it is open, every Spark job the call submits carries the span's job
group, so the event log attributes jobs, executor time, shuffle bytes,
spill and Python-worker bytes to the innermost open span. Nothing in
the engine changes: wrappers are installed on instances, classes or
module attributes from this file and removed again by ``close``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass

GROUP = "spark.jobGroup.id"
# per-span layer metrics reported for a span (``python_bytes`` too,
# where the span crosses the Arrow boundary)
SPAN_KEYS = ("jobs", "executor_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "driver_gap_s")
# SQL metrics of the Arrow boundary, summed into ``python_bytes``
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # epoch seconds, the clock the event log uses
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; a disabled tracer only runs the wrapped call."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list = []
        self.counts: dict[str, float] = {}

    def count(self, key: str, n: float) -> None:
        """Add ``n`` to an exact counter kept beside the spans."""
        self.counts[key] = self.counts.get(key, 0) + n

    @contextlib.contextmanager
    def span(self, name: str):
        """Run the block as span ``name``: its Spark jobs carry the
        span's job group. Yields the Span, or None when disabled."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(GROUP, f"perfbench-{s.sid}")
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP, f"perfbench-{self._stack[-1].sid}" if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a call that runs inside span
        ``name``; ``close`` puts the original back."""
        original = getattr(owner, attr)

        def traced(*a, **kw):
            with self.span(name):
                return original(*a, **kw)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, fn) -> None:
        """Install ``fn`` as ``owner.attr`` while tracing is enabled."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        had_own = attr in vars(owner)
        setattr(owner, attr, functools.wraps(original)(fn))
        self._undo.append((owner, attr, original if had_own else None))

    def close(self) -> None:
        for owner, attr, original in reversed(self._undo):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._undo.clear()

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out


# ------------------------------------------------------------ event log


@dataclass
class Job:
    group: str | None
    t0: float
    t1: float = 0.0
    stages: tuple = ()


def read_event_log(log_dir: str, app_id: str) -> tuple[dict, dict]:
    """Jobs by id, and per-stage task totals, from one application's
    uncompressed event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    with open(os.path.join(log_dir, app_id)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP)
                jobs[ev["Job ID"]] = Job(group, ev["Submission Time"] / 1e3,
                                         stages=tuple(ev.get("Stage IDs", ())))
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], {}), ev)
    return jobs, stages


def _add_task(acc: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    for key, val in (
        ("executor_s", m.get("Executor Run Time", 0) / 1e3),
        ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
        ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
        ("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
    ):
        acc[key] = acc.get(key, 0) + val
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if a.get("Name") in PYTHON_BYTES:
            acc["python_bytes"] = acc.get("python_bytes", 0) + int(a.get("Update", 0))


def span_metrics(tracer: Tracer, s: Span, jobs: dict, stages: dict) -> dict:
    """Inclusive layer metrics of one span: its jobs and its children's.
    ``driver_gap_s`` is the part of the span no job was running."""
    groups = {f"perfbench-{d.sid}" for d in tracer.descendants(s)}
    mine = [j for j in jobs.values() if j.group in groups]
    out = {"jobs": len(mine), "executor_s": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "python_bytes": 0}
    seen: set[int] = set()
    for j in mine:
        for sid in j.stages:
            if sid in seen:
                continue
            seen.add(sid)
            for k, v in stages.get(sid, {}).items():
                out[k] += v
    busy, end = 0.0, s.t0
    for j in sorted(mine, key=lambda j: j.t0):
        lo, hi = max(j.t0, end), min(j.t1 or s.t1, s.t1)
        if hi > lo:
            busy += hi - lo
            end = hi
    out["driver_gap_s"] = max(0.0, s.seconds - busy)
    return out
