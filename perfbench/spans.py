"""Spans for the traced run, and the Spark event log they are joined with.

A span is one timed interval of the closed loop: a pass, a call inside it
(one file, query or op), or a phase inside a call (``construct``,
``execute``, ``transfer``).  Spans live in memory and nest by a parent id;
a span's self time is its wall time minus the wall time of its children.
While a phase span is open, every Spark job the calling thread submits
carries the job group ``<workload>:<op>:<phase>`` and the description
``perfbench:<span id>``, which is how a job in the event log finds the span
that caused it.  A job without that description (a thread that did not
inherit the local properties) falls back to the innermost span whose
interval holds its submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # pass | call | phase
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span tree.  ``sc`` (a SparkContext) is optional so the
    arithmetic can be exercised without Spark."""

    def __init__(self, sc=None, clock=time.time):
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._sc = sc
        self._clock = clock

    @contextmanager
    def span(self, kind: str, name: str, group: str | None = None):
        s = Span(len(self.spans), self._open[-1] if self._open else None, kind, name, self._clock())
        self.spans.append(s)
        self._open.append(s.id)
        if group and self._sc is not None:
            self._sc.setJobGroup(group, f"perfbench:{s.id}", False)
        try:
            yield s
        finally:
            if group and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            s.end = self._clock()
            self._open.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        return self.spans[sid].wall - sum(c.wall for c in self.children(sid))

    def owner(self, t: float) -> Span | None:
        """Innermost span whose interval holds time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best


@dataclass
class Job:
    id: int
    span: int | None
    submit: float  # seconds, same clock as time.time()
    end: float


@dataclass
class Stage:
    id: int
    job: int | None = None  # the first job that lists the stage, which runs it
    tasks: list[dict] = field(default_factory=list)


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    shr = m.get("Shuffle Read Metrics", {})
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "result_b": m.get("Result Size", 0),
        "input_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_b": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "shuffle_read_b": shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0),
        "shuffle_write_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "failed": bool(info.get("Failed")),
    }


def read_eventlog(log_dir: str, tracer: Tracer) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs (with their causing span) and stages (with their tasks) from
    every uncompressed event-log file under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and os.path.basename(p).startswith(("events_", "local-")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    submit = ev["Submission Time"] / 1e3
                    sid = int(desc.split(":", 1)[1]) if desc.startswith("perfbench:") else None
                    if sid is None:
                        owner = tracer.owner(submit)
                        sid = owner.id if owner else None
                    jobs[ev["Job ID"]] = Job(ev["Job ID"], sid, submit, submit)
                    for st in ev["Stage IDs"]:
                        stage = stages.setdefault(st, Stage(st))
                        if stage.job is None:
                            stage.job = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])).tasks.append(_task(ev))
    return jobs, stages


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)
