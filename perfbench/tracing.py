"""Spans around the program's public entry points, and the Spark
event-log reader that turns job/stage/task records into per-layer
numbers.

Spans are kept in memory (name, start, end, parent, operation id) and
written as JSONL when the run ends. The program's modules are not
edited: ``Tracer.wrap`` swaps a public function or method for a
timing wrapper for the length of the traced run and ``restore`` puts
the original back.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from typing import Iterator


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str, count_rows=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        named ``name``; ``count_rows(args)`` may add a ``rows`` field."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = {"rows": count_rows(args)} if count_rows else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _event_files(log_dir: str) -> list[tuple[str, str]]:
    """(application, file) pairs in replay order. A log is one file per
    application, or a directory of ``events_<n>_*`` files when Spark
    writes rolling (v2) logs."""
    out = []
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        if not os.path.isdir(path):
            out.append((app, path))
            continue
        parts = glob.glob(os.path.join(path, "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        out += [(app, p) for p in parts]
    return out


class EventLog:
    """Jobs with their tasks' metrics, read from Spark's JSON event log
    (``spark.eventLog.enabled``, uncompressed). Times are epoch
    seconds, on the same clock as the spans."""

    def __init__(self, log_dir: str):
        self.jobs: dict[tuple[str, int], dict] = {}
        stage_job: dict[tuple[str, int], tuple[str, int]] = {}
        for app, path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        key = (app, ev["Job ID"])
                        self.jobs[key] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "stages_run": 0,
                            "tasks": 0,
                            "task_s": 0.0,
                            "cpu_s": 0.0,
                            "gc_s": 0.0,
                            "result_bytes": 0,
                            "shuffle_read_bytes": 0,
                            "shuffle_write_bytes": 0,
                            "spill_bytes": 0,
                            "input_bytes": 0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault((app, sid), key)
                    elif kind == "SparkListenerJobEnd":
                        job = self.jobs.get((app, ev["Job ID"]))
                        if job is not None:
                            job["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        job = self.jobs.get(stage_job.get((app, ev["Stage Info"]["Stage ID"])))
                        if job is not None:
                            job["stages_run"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        job = self.jobs.get(stage_job.get((app, ev["Stage ID"])))
                        m = ev.get("Task Metrics")
                        if job is None or not m:
                            continue
                        sr = m.get("Shuffle Read Metrics", {})
                        job["tasks"] += 1
                        job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                        job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                        job["result_bytes"] += m.get("Result Size", 0)
                        job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        for job in self.jobs.values():
            if job["end"] is None:
                job["end"] = job["start"]

    def within(self, lo: float, hi: float) -> list[dict]:
        """Jobs submitted inside ``[lo, hi]``. With one client running
        one operation at a time, that is exactly the operation's jobs.
        The event log stamps in whole milliseconds, so the window is
        widened by one on each side."""
        return [j for j in self.jobs.values() if lo - 0.001 <= j["start"] <= hi + 0.001]

    @staticmethod
    def total(jobs: list[dict], field: str) -> float:
        return float(sum(j[field] for j in jobs))

    @staticmethod
    def busy(jobs: list[dict], lo: float, hi: float) -> float:
        """Wall seconds of ``[lo, hi]`` with at least one job in flight."""
        return covered([(j["start"], j["end"]) for j in jobs], lo, hi)
