"""Spans recorded around calls into the program, and a standard-library
parser for Spark's own event log.

A span is (name, start, end, parent). Entering a span also sets the
Spark job description to the path of open span names (``a / b / c``),
so every job in the event log can be attributed to the spans that ran
it.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Keeps spans in memory. A disabled tracer records nothing and
    leaves the job description alone, so untraced runs pay nothing."""

    def __init__(self, spark_context, enabled: bool) -> None:
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._names: list[str] = []
        self.counters: dict[str, float] = {}

    def current(self) -> str | None:
        return self._names[-1] if self._names else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        self._names.append(name)
        self.sc.setJobDescription(" / ".join(self._names))
        try:
            yield
        finally:
            self._stack.pop()
            self._names.pop()
            n, start, _, par = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), par)
            self.sc.setJobDescription(" / ".join(self._names) or None)

    def add(self, counter: str, value: float) -> None:
        self.counters[counter] = self.counters.get(counter, 0.0) + value

    def total(self, name: str, under: str | None = None) -> float:
        """Summed duration of ``name`` spans, only those nested in an
        ``under`` span when given."""
        inside = self._inside(under) if under else range(len(self.spans))
        return sum(
            self.spans[i][2] - self.spans[i][1] for i in inside if self.spans[i][0] == name
        )

    def _inside(self, root_name: str) -> set[int]:
        inside: set[int] = set()
        for i, (n, _, _, p) in enumerate(self.spans):
            if n == root_name or (p is not None and p in inside):
                inside.add(i)
        return inside

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus the time their
        direct child spans cover."""
        total = 0.0
        for i, (n, s, e, _) in enumerate(self.spans):
            if n != name:
                continue
            kids = sum(ke - ks for _, ks, ke, kp in self.spans if kp == i)
            total += (e - s) - kids
        return total

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        called ``name``; ``unwrap`` restores it."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__perfbench_orig__ = fn
        setattr(owner, attr, traced)

    @staticmethod
    def unwrap(owner, attr: str) -> None:
        fn = getattr(owner, attr)
        setattr(owner, attr, getattr(fn, "__perfbench_orig__", fn))


def dir_stats(path: str) -> tuple[int, int]:
    """(number of files, bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


# ------------------------------------------------------------ event log


def event_files(log_dir: str) -> list[str]:
    """The JSON-lines files of the one application logged under
    ``log_dir``: a plain file, or a rolling ``eventlog_v2_*`` directory
    of ``events_<n>_*`` files read in index order."""
    out = []
    for d, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                out.append((int(f.split("_")[1]), os.path.join(d, f)))
            elif not f.startswith("appstatus_") and d == log_dir:
                out.append((0, os.path.join(d, f)))
    return [p for _, p in sorted(out)]


def _lines(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            yield from f


class EventLog:
    """Per-job, per-stage and per-task figures from one application's
    JSON-lines event log."""

    def __init__(self, log_dir: str) -> None:
        self.job_desc: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metrics
        self.stages_done: set[int] = set()
        for line in _lines(event_files(log_dir)):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                self.job_desc[job] = props.get("spark.job.description")
                for sid in ev.get("Stage IDs", []):
                    self.stage_job[sid] = job
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif kind == "SparkListenerStageCompleted":
                self.stages_done.add(ev["Stage Info"]["Stage ID"])

    def jobs_for(self, span: str) -> list[int]:
        """Jobs run inside a root span named ``span``."""
        return [
            j for j, d in self.job_desc.items()
            if d is not None and (d == span or d.startswith(span + " / "))
        ]

    def stages_for(self, span: str) -> list[int]:
        jobs = set(self.jobs_for(span))
        return sorted(s for s, j in self.stage_job.items() if j in jobs)

    def run_s(self, stages: list[int]) -> float:
        return sum(t["run_ms"] for s in stages for t in self.tasks.get(s, [])) / 1e3

    def summary(self, span: str, per: int = 1) -> dict[str, float]:
        """The ``spark.*`` layer metrics over the jobs run inside root
        spans named ``span``, divided by ``per`` (the number of rounds)."""
        stages = self.stages_for(span)
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        mb = 1e6
        skew = 0.0
        if stages:
            heavy = max(stages, key=lambda s: sum(t["run_ms"] for t in self.tasks.get(s, [])))
            runs = [t["run_ms"] for t in self.tasks.get(heavy, [])]
            if runs and statistics.median(runs) > 0:
                skew = max(runs) / statistics.median(runs)
        return {
            "spark.jobs": len(self.jobs_for(span)) / per,
            "spark.stages": len([s for s in stages if s in self.stages_done]) / per,
            "spark.tasks": len(tasks) / per,
            "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3 / per,
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / per,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / per,
            "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb / per,
            "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb / per,
            "spark.spill_mb": sum(t["spill"] for t in tasks) / mb / per,
            "spark.task_skew": skew,
        }
