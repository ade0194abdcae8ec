"""Spans around calls into the engine's layers, and their Spark metrics.

A span records a name, start, end, its parent span and the operation
it belongs to. Spans live in memory and are written out when the run
ends. While a span is open the benchmark sets the Spark job group to
the span's id, so the event log (enabled by launch conf in traced runs
only) attributes every job, task, shuffle, spill, record read and byte
written to the innermost open span.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one
    attribute check per span and never touches Spark."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def new_op(self) -> int:
        with self._lock:
            return next(self._ops)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(f"span-{sid}", name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))


@dataclass
class SpanWork:
    """Spark work attributed to one span (its own jobs only)."""

    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    bytes_written: int = 0
    scheduler_delay_ms: float = 0.0

    def add(self, other: "SpanWork") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def _span_id(props: dict | None) -> int | None:
    group = (props or {}).get(GROUP_KEY) or ""
    return int(group[5:]) if group.startswith("span-") else None


def _event_lines(log_dir: str):
    """Lines of the run's one uncompressed event log: a single file, or
    a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    entries = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    path = os.path.join(log_dir, entries[0])
    if os.path.isdir(path):
        parts = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in parts]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            yield from fh


def read_event_log(log_dir: str) -> dict[int, SpanWork]:
    """Per-span Spark work from the event log."""
    work: dict[int, SpanWork] = defaultdict(SpanWork)
    stage_span: dict[int, int | None] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            sid = _span_id(ev.get("Properties"))
            if sid is not None:
                work[sid].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            stage_span[ev["Stage Info"]["Stage ID"]] = _span_id(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            w = work[sid]
            info = ev["Task Info"]
            w.tasks += 1
            w.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            w.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            w.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            w.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
            w.bytes_written += m.get("Output Metrics", {}).get("Bytes Written", 0)
            duration = info["Finish Time"] - info["Launch Time"]
            busy = (
                m.get("Executor Run Time", 0)
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
            )
            if info.get("Getting Result Time"):
                busy += info["Finish Time"] - info["Getting Result Time"]
            w.scheduler_delay_ms += max(0, duration - busy)
    return work


def subtree_work(spans: list[Span], work: dict[int, SpanWork], root: int) -> SpanWork:
    """Work of ``root`` plus every span nested under it."""
    children = defaultdict(list)
    for s in spans:
        children[s.parent].append(s.id)
    total = SpanWork()
    todo = [root]
    while todo:
        sid = todo.pop()
        if sid in work:
            total.add(work[sid])
        todo.extend(children[sid])
    return total
