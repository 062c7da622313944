"""Spans recorded from the benchmark's own files, and the Spark event log
read back offline.

A span is one call into a layer's public functions: name, start, end,
parent span and op id. Each span runs in its own Spark job group (the span
id), so the jobs it starts can be found in the event log afterwards. Jobs
started by threads the group does not reach (the streaming query's own
thread sets its own group) are given to the innermost span open when they
were submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    op: str
    scale: float  # host normalization factor of the probe taken before the span


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0


class Tracer:
    """Records spans while ``on``; without a SparkContext it never records."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.on = False  # the caller turns recording on for the steps it traces
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str, op: str, scale: float = 1.0):
        if self.sc is None or not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{len(self.spans) + len(self._stack)}", name, time.time(), 0.0,
                 parent.id if parent else None, op, scale)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs with their task metrics summed, from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"]))
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.id
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class SpanTree:
    """Spans joined to the jobs they started."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job]) -> None:
        self.spans = {s.id: s for s in spans}
        self.children: dict[str, list[Span]] = {s.id: [] for s in spans}
        for s in spans:
            if s.parent in self.children:
                self.children[s.parent].append(s)
        self.own_jobs: dict[str, list[Job]] = {s.id: [] for s in spans}
        for j in jobs.values():
            sid = j.group if j.group in self.spans else self._innermost(j.submit)
            if sid is not None:
                self.own_jobs[sid].append(j)

    def _innermost(self, t: float) -> str | None:
        open_ = [s for s in self.spans.values() if s.start <= t <= s.end]
        return max(open_, key=lambda s: s.start).id if open_ else None

    def jobs(self, s: Span) -> list[Job]:
        """Jobs started by the span or any span inside it."""
        out = list(self.own_jobs[s.id])
        for c in self.children[s.id]:
            out += self.jobs(c)
        return out

    def self_s(self, s: Span) -> float:
        """Wall time not covered by child spans."""
        kids = [(c.start, c.end) for c in self.children[s.id]]
        return (s.end - s.start) - _covered(kids, s.start, s.end)

    def no_job_s(self, s: Span) -> float:
        """Wall time with none of the span's jobs running: driver work."""
        runs = [(j.submit, j.end or s.end) for j in self.jobs(s)]
        return (s.end - s.start) - _covered(runs, s.start, s.end)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans.values() if s.name == name]

    def median(self, name: str, value) -> float | None:
        """Median of ``value(span)`` over all spans called ``name``."""
        vals = [value(s) for s in self.named(name)]
        return statistics.median(vals) if vals else None
