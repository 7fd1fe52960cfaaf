"""Spans around calls into the engine's layers, folded with Spark task metrics.

The tracer records one span per call it wraps: name, label, start, end,
parent and the id of the operation it belongs to. Every Spark job a
span starts is tagged with ``SparkContext.setJobGroup``, so after the
run the event log's task metrics can be attributed to the innermost
span that was open when the job started. Spans live in memory until
the run ends.

Wrapping replaces a module global or class attribute for the length of
the run and restores it afterwards (``Tracer.restore``); no program
source is touched. With tracing off none of this is installed.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from lakebench.stats import union_length

GROUP_PREFIX = "lakebench-span-"

# Per-span task totals folded from the event log.
TASK_FIELDS = (
    "jobs", "tasks", "run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "input_records", "output_bytes", "output_records",
)


@dataclass
class Span:
    sid: int
    name: str
    label: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``sc`` (a SparkContext) is optional so the span
    bookkeeping can be exercised without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag_jobs(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.sid}", span.name, False)

    @contextmanager
    def span(self, name: str, label: str = "", new_op: bool = False):
        """Open a span; a span without a parent, or with ``new_op``,
        starts a new operation id."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
            op = next(self._ops) if (parent is None or new_op) else parent.op
        s = Span(sid, name, label, op, parent.sid if parent else None, 0.0)
        stack.append(s)
        self._tag_jobs(s)
        self.bookkeeping_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            self._tag_jobs(parent)
            self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name_of, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs the original
        inside a span. ``name_of(*args, **kwargs)`` returns the span
        name (or ``(name, label)``; ``None`` skips tracing that call);
        ``after(span, result, *args, **kwargs)`` may add counters."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            named = name_of(*args, **kwargs)
            if named is None:
                return original(*args, **kwargs)
            name, label = named if isinstance(named, tuple) else (named, "")
            with self.span(name, label) as s:
                result = original(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(s, result, *args, **kwargs)
                self.bookkeeping_s += time.perf_counter() - t0
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def read_event_log(lines) -> tuple[dict[int, str | None], list[dict]]:
    """Parse event-log JSON lines into ``job -> job group`` and a list of
    finished tasks, each carrying the job that ran it."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    raw_tasks = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            im, om = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
            raw_tasks.append({
                "stage": ev["Stage ID"],
                "launch": info.get("Launch Time", 0) / 1000.0,
                "finish": info.get("Finish Time", 0) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "input_bytes": im.get("Bytes Read", 0),
                "input_records": im.get("Records Read", 0),
                "output_bytes": om.get("Bytes Written", 0),
                "output_records": om.get("Records Written", 0),
            })
    tasks = []
    for t in raw_tasks:
        job = stage_job.get(t.pop("stage"))
        if job is not None:
            t["job"] = job
            tasks.append(t)
    return job_group, tasks


def fold(spans: list[Span], job_group: dict[int, str | None], tasks: list[dict]) -> dict[int, dict]:
    """Per-span totals, inclusive of descendant spans: task counters,
    the task intervals that ran inside the span, and its job count."""
    by_id = {s.sid: s for s in spans}
    own_jobs: dict[int, set] = defaultdict(set)
    for job, group in job_group.items():
        if group and group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            if sid in by_id:
                own_jobs[sid].add(job)
    job_span = {j: sid for sid, jobs in own_jobs.items() for j in jobs}

    def ancestors(sid: int):
        while sid is not None:
            yield sid
            sid = by_id[sid].parent if sid in by_id else None

    out = {s.sid: {**{f: 0 for f in TASK_FIELDS}, "intervals": []} for s in spans}
    for sid, jobs in own_jobs.items():
        for a in ancestors(sid):
            out[a]["jobs"] += len(jobs)
    for t in tasks:
        sid = job_span.get(t["job"])
        if sid is None:
            continue
        for a in ancestors(sid):
            acc = out[a]
            acc["tasks"] += 1
            for f in TASK_FIELDS[2:]:
                acc[f] += t[f]
            acc["intervals"].append((t["launch"], t["finish"]))
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    return (span.end - span.start) - union_length(
        ((c.start, c.end) for c in children), span.start, span.end)


def driver_only(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Wall time of the span during which none of its tasks ran."""
    return (span.end - span.start) - union_length(intervals, span.start, span.end)


SPAN_METRICS = ("wall_s", "self_s", "driver_only_s", "jobs", "tasks", "executor_cpu_s",
                "gc_s", "core_util", "shuffle_write_bytes", "spill_bytes")


def layer_metrics(spans: list[Span], folded: dict[int, dict], cores: int) -> dict[str, dict]:
    """Sum each span name's spans into one row of layer metrics."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    rows: dict[str, dict] = {}
    for s in spans:
        f = folded[s.sid]
        row = rows.setdefault(s.name, defaultdict(float))
        row["spans"] += 1
        row["wall_s"] += s.end - s.start
        row["self_s"] += self_time(s, children[s.sid])
        row["driver_only_s"] += driver_only(s, f["intervals"])
        for k in TASK_FIELDS:
            row[k] += f[k]
        for k, v in s.counters.items():
            row[k] += v
    for row in rows.values():
        wall = row["wall_s"]
        row["core_util"] = row["run_s"] / (wall * cores) if wall > 0 else 0.0
    return {k: dict(v) for k, v in rows.items()}
