"""Arithmetic of the benchmark, kept free of Spark so it can be tested on
canned inputs: the median and the spread, span self time, Spark event-log
attribution and the failure share.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def failed_share(attempted: int, failed: int) -> float:
    """Failed operations over attempted operations."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the quartiles
    of ``statistics.quantiles(values, n=4)``."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``span(name)`` is a context manager; spans
    opened inside it become its children. Disabled tracers record nothing, so
    the timed run pays no bookkeeping."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._open[-1] if t._open else None
            t.spans.append(Span(self.name, time.time(), math.nan, parent, t.run_id))
            t._open.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t.spans[t._open.pop()].end = time.time()
        return False


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its direct
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - _covered(kids.get(i, []), s.start, s.end) for i, s in enumerate(spans)
    ]


def children_share(spans: list[Span], parent_name: str) -> float:
    """Share of the wall of the spans named ``parent_name`` that their
    direct children cover (1 - self/duration, pooled over those spans)."""
    st = self_times(spans)
    wall = self_part = 0.0
    for i, s in enumerate(spans):
        if s.name == parent_name:
            wall += s.duration
            self_part += st[i]
    if wall <= 0:
        raise ValueError(f"no span named {parent_name!r}")
    return 1.0 - self_part / wall


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_UNITS = {"task_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "B", "tasks": "count"}


def parse_event_log(lines) -> list[dict]:
    """Finished tasks from Spark event-log JSON lines, as dicts with the
    task's launch time (seconds since the epoch) and its resource use."""
    tasks = []
    for line in lines:
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        tasks.append(
            {
                "launch": info.get("Launch Time", 0) / 1000.0,
                "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            }
        )
    return tasks


def attribute_tasks(spans: list[Span], tasks: list[dict]) -> dict[str, dict[str, float]]:
    """Sum task resource use per span name. A task belongs to the innermost
    span whose interval holds its launch time (one client issues the jobs,
    so the innermost open span is the one that started the job)."""
    out: dict[str, dict[str, float]] = {}
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    for t in tasks:
        owner = None
        for i in order:
            s = spans[i]
            if s.start > t["launch"]:
                break
            if t["launch"] <= s.end and (owner is None or s.start >= spans[owner].start):
                owner = i
        if owner is None:
            continue
        acc = out.setdefault(spans[owner].name, dict.fromkeys(EVENT_UNITS, 0.0))
        acc["task_cpu_s"] += t["task_cpu_s"]
        acc["gc_s"] += t["gc_s"]
        acc["shuffle_write_bytes"] += t["shuffle_write_bytes"]
        acc["tasks"] += 1
    return out
