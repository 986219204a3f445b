"""Tracing for the per-layer run: spans recorded from the benchmark's own
files, self time, and attribution of Spark task metrics to spans.

A span is (id, name, start, end, parent, op). Spans stay in memory and
are written out once, when the run ends. While a span is open the
benchmark tags Spark jobs with the span's job group, so the event log
tells which span ran each task.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with a SparkContext it also sets the job group of
    each span while the span is the innermost one open."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self.op = "setup"
        self._stack: list[Span] = []
        self._grouped: set[int] = set()
        self._sc = sc

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", s.name)

    @contextmanager
    def span(self, name: str, group: bool = True):
        """Record a span around the block. ``group=False`` is for code that
        starts no Spark job: it keeps the job group of the enclosing span
        and saves the two job-group calls to the JVM."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.sid if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        if group:
            self._grouped.add(s.sid)
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group:
                self._set_group(next((p for p in reversed(self._stack) if p.sid in self._grouped), None))

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def wrap_method(cls, attr: str, tracer: Tracer, name: str, count=None, group: bool = True):
    """Replace ``cls.attr`` with a wrapper that records a span around each
    call; ``count(span, args, kwargs, result)`` may add counts. ``group``
    is passed to ``Tracer.span``. Returns a function that restores the
    original."""
    orig = cls.__dict__[attr]

    def wrapper(*args, **kwargs):
        with tracer.span(name, group) as s:
            out = orig(*args, **kwargs)
            if count is not None:
                count(s, args, kwargs, out)
            return out

    setattr(cls, attr, wrapper)
    return lambda: setattr(cls, attr, orig)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {s.sid: s.dur - _covered(kids.get(s.sid, [])) for s in spans}


@dataclass
class TaskTotals:
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        self.tasks += other.tasks
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes


def parse_event_log(lines) -> dict[str, TaskTotals]:
    """Job group -> task metrics summed over the tasks of its jobs, from
    the JSON lines of a Spark event log. Tasks of jobs without a group
    are summed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, TaskTotals] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            t = out.setdefault(stage_group.get(ev.get("Stage ID"), ""), TaskTotals())
            t.tasks += 1
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return out


def tasks_by_op(spans: list[Span], groups: dict[str, TaskTotals]) -> dict[str, TaskTotals]:
    """Op id -> task metrics of every span of that op."""
    out: dict[str, TaskTotals] = {}
    for s in spans:
        t = groups.get(f"{GROUP_PREFIX}{s.sid}")
        if t is not None:
            out.setdefault(s.op, TaskTotals()).add(t)
    return out
