"""Layer spans for the traced run, and the Spark event-log join.

A span is one timed call into one layer: an operation, a query build, a
``sql()`` call, a ``TableStore`` method, a terminal action.  Each span
sets its own Spark job group while it is open, so every job, stage and
task the event log records carries the id of the innermost open span.
A span's *self time* is its duration minus the time its children cover.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    parent: str | None
    layer: str
    kind: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the time covered by its direct children."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {
        s.id: s.duration - covered(kids.get(s.id, []), s.t0, s.t1) for s in spans
    }


class Tracer:
    """Records spans in memory.  ``set_group(gid)`` is called with the id
    of the innermost open span (``None`` when none is open), so the
    caller can point Spark's job group at it."""

    def __init__(self, set_group=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._set_group = set_group or (lambda gid: None)

    @contextmanager
    def span(self, layer: str, kind: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"span-{next(self._ids)}", parent, layer, kind, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, fn, layer: str, kind: str, **attrs):
        """``fn`` with every call inside a span."""

        def traced(*args, **kwargs):
            with self.span(layer, kind, **attrs):
                return fn(*args, **kwargs)

        return traced


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    spans: tuple[Span, ...] = ()

    @contextmanager
    def span(self, layer: str, kind: str, **attrs):
        yield None


def _blank() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }


def parse_event_log(path: str) -> dict[str | None, dict]:
    """Job group -> jobs, tasks, executor CPU, shuffle-write and spill bytes.

    Reads an uncompressed, unrolled Spark event log.  A job belongs to the
    group in its start event's properties; a task belongs to the group of
    the stage it ran in, taken from the stage's submit event (a stage that
    another job already computed is skipped, never resubmitted)."""
    groups: dict[str | None, dict] = {}
    stage_group: dict[int, str | None] = {}

    def g(gid):
        return groups.setdefault(gid, _blank())

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                g(gid)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                props = ev.get("Properties") or {}
                if "spark.jobGroup.id" in props:
                    stage_group[sid] = props["spark.jobGroup.id"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = g(stage_group.get(ev["Stage ID"]))
                acc["tasks"] += 1
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return groups
