"""Spans, Spark event-log parsing and the statistics the benchmark reports.

Everything here is plain Python over plain data so the helpers can be
tested on canned inputs without a Spark session.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import threading
import time
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

# Local property that tags every Spark job with the span that launched it.
SPAN_PROPERTY = "perfbench.span"

# Percentiles tried, highest first, when picking the reported tail.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# -- statistics ---------------------------------------------------------------


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``%
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values: Iterable[float], min_beyond: int = 10):
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``min_beyond`` samples strictly above it, as ``(p, value)``; ``None``
    when even the median has fewer than that many samples beyond it."""
    xs = sorted(values)
    for p in TAIL_LADDER:
        if not xs:
            break
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            return p, v
    return None


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_time(span: "Span", children: Iterable["Span"]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (children are clipped to the parent, overlaps counted
    once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - union_length(clipped)


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    request: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the engine and tags the Spark jobs
    they launch.  Spans are kept in memory; the parent of a span is the
    innermost open span of the same thread."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            sid, name, time.time(), 0.0,
            parent.id if parent else None,
            request or (parent.request if parent else f"{name}#{sid}"),
        )
        stack.append(sp)
        if self.sc is not None:
            self.sc.setJobDescription(name)
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.sc is not None:
                outer = stack[-1] if stack else None
                self.sc.setJobDescription(outer.name if outer else None)
                self.sc.setLocalProperty(
                    SPAN_PROPERTY, str(outer.id) if outer else None
                )
            with self._lock:
                self.spans.append(sp)

    def wrap(self, module, attr: str, name) -> None:
        """Replace ``module.attr`` by a wrapper that records a span around
        each call; :meth:`unwrap_all` restores it.  ``name`` is a string
        or a function of ``(args, kwargs)``."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def summary(self) -> dict[str, dict[str, float]]:
        """Count and total seconds per span name."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s.duration
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> set[int]:
        out = {span.id}
        grew = True
        while grew:
            grew = False
            for s in self.spans:
                if s.parent in out and s.id not in out:
                    out.add(s.id)
                    grew = True
        return out


# -- Spark event log ----------------------------------------------------------


@dataclass
class TaskRecord:
    stage: int
    launch_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    bytes_written: int
    accumulables: dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    tasks: list[TaskRecord] = field(default_factory=list)
    # job id -> {"span": id or None, "submit": ms, "complete": ms or None}
    jobs: dict[int, dict] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)

    def job_span(self, stage: int) -> int | None:
        job = self.jobs.get(self.stage_job.get(stage, -1))
        return job["span"] if job else None

    def tasks_of_spans(self, span_ids: set[int]) -> list[TaskRecord]:
        return [t for t in self.tasks if self.job_span(t.stage) in span_ids]

    def tasks_between(self, start_ms: float, end_ms: float) -> list[TaskRecord]:
        return [t for t in self.tasks if start_ms <= t.launch_ms <= end_ms]

    def stages_of_spans(self, span_ids: set[int]) -> set[int]:
        return {t.stage for t in self.tasks_of_spans(span_ids)}

    def job_wall_s(self, span_ids: set[int]) -> float:
        """Wall time covered by the jobs launched under ``span_ids``."""
        return union_length(
            (j["submit"] / 1000.0, j["complete"] / 1000.0)
            for j in self.jobs.values()
            if j["span"] in span_ids and j["complete"] is not None
        )


def _int(d: dict, *keys: str) -> int:
    for k in keys:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return int(d) if isinstance(d, (int, float)) else 0


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Parse the JSON-lines Spark event log into tasks and jobs.  A stage
    belongs to the first job that lists it (later jobs only skip it)."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            jid = int(ev["Job ID"])
            log.jobs[jid] = {
                "span": int(span) if span else None,
                "submit": int(ev.get("Submission Time", 0)),
                "complete": None,
            }
            for st in ev.get("Stage IDs", []):
                log.stage_job.setdefault(int(st), jid)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(int(ev["Job ID"]))
            if job is not None:
                job["complete"] = int(ev.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if name and isinstance(upd, (int, float, str)):
                    try:
                        acc[name] = acc.get(name, 0) + int(upd)
                    except ValueError:
                        pass
            log.tasks.append(
                TaskRecord(
                    stage=int(ev["Stage ID"]),
                    launch_ms=int(info.get("Launch Time", 0)),
                    run_ms=_int(m, "Executor Run Time"),
                    gc_ms=_int(m, "JVM GC Time"),
                    shuffle_write_bytes=_int(
                        m, "Shuffle Write Metrics", "Shuffle Bytes Written"
                    ),
                    shuffle_read_bytes=_int(
                        m, "Shuffle Read Metrics", "Remote Bytes Read"
                    )
                    + _int(m, "Shuffle Read Metrics", "Local Bytes Read"),
                    spill_bytes=_int(m, "Memory Bytes Spilled")
                    + _int(m, "Disk Bytes Spilled"),
                    bytes_written=_int(m, "Output Metrics", "Bytes Written"),
                    accumulables=acc,
                )
            )
    return log


def totals(tasks: Iterable[TaskRecord]) -> dict[str, float]:
    """Summed task counters, times in seconds."""
    out = {
        "tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "spill_bytes": 0, "bytes_written": 0,
    }
    for t in tasks:
        out["tasks"] += 1
        out["run_s"] += t.run_ms / 1000.0
        out["gc_s"] += t.gc_ms / 1000.0
        out["shuffle_write_bytes"] += t.shuffle_write_bytes
        out["shuffle_read_bytes"] += t.shuffle_read_bytes
        out["spill_bytes"] += t.spill_bytes
        out["bytes_written"] += t.bytes_written
    return out


def median_or_zero(values: Iterable[float]) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0
