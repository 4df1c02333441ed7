"""Spans around the program's public calls, and the Spark event log.

``Tracer`` wraps functions in place: each patch replaces the attribute
under the name its caller looks it up by (``module.attr``), records a
span (name, start, end, parent) for every call, and sets one Spark job
group per span so that the event log charges every job to the span
that submitted it. ``Tracer.restore`` puts the original functions back.

``parse_event_log`` reads an uncompressed Spark event log into jobs,
stages and task totals (the parsing of tools/prof_summary.py, extended
to task metrics). ``run.layer_metrics`` folds spans and jobs into the
per-layer numbers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    attrs: dict = field(default_factory=dict)
    end: float = 0.0
    count: int = 0


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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
    """Per span: its duration minus the part its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.sid: (s.end - s.start)
        - covered((max(a, s.start), min(b, s.end)) for a, b in children[s.sid])
        for s in spans
    }


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group each span sets (None records spans only)."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            group = None if span is None else f"span-{span.sid}"
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def begin(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, time.time(), parent, attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.begin(name, **attrs)
        try:
            yield span
        finally:
            self.end(span)

    def patch(self, owner, attr: str, name: str, count=None) -> None:
        """Wrap ``owner.attr`` so each call records a span ``name``;
        ``count(result)`` sets the span's work count (default 1)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as span:
                result = orig(*args, **kwargs)
                span.count = 1 if count is None else count(result)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0
    retried_tasks: int = 0


def parse_event_log(lines) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs (with their job group and epoch-second bounds) and per-stage
    task totals from the JSON lines of a Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000,
                ev["Submission Time"] / 1000,
                list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_s += m.get("Executor Run Time", 0) / 1000
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
                "Reason", "Success"
            ) != "Success":
                st.failed_tasks += 1
            if info.get("Attempt", 0) > 0:
                st.retried_tasks += 1
    return list(jobs.values()), dict(stages)
