"""Spans, self time and the Spark event-log reduction for traced runs.

Spans are kept in memory and written out once, at the end of a run.  A
span's self time is its duration minus the part of that interval covered
by its children.  Everything here is stdlib-only so the arithmetic can be
tested without a Spark session.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``enabled=False`` makes ``span`` a no-op so
    the same code path runs traced and untraced."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._trace_id = 0

    def new_trace(self) -> None:
        """Start a new trace id: spans of one workload iteration share it."""
        self._trace_id += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            trace_id=self._trace_id,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "trace": s.trace_id,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "self_s": selfs[i],
                    }
                    for i, s in enumerate(self.spans)
                ],
                f,
                indent=1,
            )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def sum_self(spans: list[Span], name: str, selfs: list[float] | None = None) -> float:
    selfs = self_times(spans) if selfs is None else selfs
    return sum(t for s, t in zip(spans, selfs) if s.name == name)


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order.  Spark 4 writes a directory per
    application (``eventlog_v2_<app>/events_<n>_<app>``) next to an
    ``appstatus`` marker; older layouts write one file per application."""
    out = []
    for d, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith(("appstatus", ".")):
                continue
            parts = name.split("_")
            n = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
            out.append((d, n, name))
    return [os.path.join(d, name) for d, _, name in sorted(out)]


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Reduce every uncompressed event log under ``log_dir`` to per job
    group totals: jobs, stages, tasks, executor run and CPU time, GC,
    shuffle write and spill.  Jobs with no group fall under ""."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(
            group,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0,
                "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_write_b": 0.0,
                "spill_b": 0.0,
            },
        )

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = group
                    a = acc(group)
                    a["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" in info and info.get("Number of Tasks"):
                        acc(stage_group.get(info["Stage ID"], ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    a = acc(stage_group.get(ev["Stage ID"], ""))
                    a["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    a["run_ms"] += m.get("Executor Run Time", 0)
                    a["cpu_ns"] += m.get("Executor CPU Time", 0)
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    return out
