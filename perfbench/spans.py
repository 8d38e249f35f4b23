"""Spans around the benchmark's calls into the program, and the Spark
work each span caused.

Every span is a (name, start, end, parent) record kept in memory. In a
traced run the span also becomes the Spark job group for its duration,
so each job the program starts is attributed to the innermost open span.
After the run the uncompressed event log is parsed for the jobs, tasks,
task time, shuffle and spill of every job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``traced`` also sets the job group per span."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if not self.traced:
            return
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(span.sid, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@dataclass
class JobStats:
    group: str | None
    submitted: float  # epoch seconds
    completed: float
    stages: list[int]
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(log_dir: str) -> dict[int, JobStats]:
    """Job id → its group, interval, tasks, executor run time, shuffle
    read + write bytes and spilled bytes, from an uncompressed log."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = JobStats(
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000,
                        0.0,
                        list(ev["Stage IDs"]),
                    )
                    jobs[ev["Job ID"]] = j
                    for sid in j.stages:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    j.shuffle_bytes += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs


def union_length(intervals: list[tuple[float, float]]) -> float:
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


@dataclass
class Work:
    """What a set of spans cost, their descendants included."""

    wall: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    gap_s: float = 0.0  # wall outside every job


def attribute(spans: list[Span], jobs: dict[int, JobStats]) -> dict[str, Work]:
    """Span id → the work of that span and its descendants."""
    children: dict[str | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list[JobStats]] = {}
    for j in jobs.values():
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)

    def subtree_jobs(s: Span) -> list[JobStats]:
        out = list(by_group.get(s.sid, []))
        for c in children.get(s.sid, []):
            out.extend(subtree_jobs(c))
        return out

    out: dict[str, Work] = {}
    for s in spans:
        js = subtree_jobs(s)
        ivs = [(max(j.submitted, s.start), min(j.completed or s.end, s.end)) for j in js]
        busy = union_length([iv for iv in ivs if iv[1] > iv[0]])
        out[s.sid] = Work(
            wall=s.wall,
            jobs=len(js),
            tasks=sum(j.tasks for j in js),
            task_s=sum(j.task_s for j in js),
            shuffle_mb=sum(j.shuffle_bytes for j in js) / 1e6,
            spill_mb=sum(j.spill_bytes for j in js) / 1e6,
            gap_s=s.wall - busy,
        )
    return out


def coverage(spans: list[Span], parent: Span) -> float:
    """Share of ``parent``'s wall time that its direct children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == parent.sid]
    return union_length(kids) / parent.wall if parent.wall > 0 else 1.0
