"""Spans around the benchmark's calls into the engine, and the Spark work
each span launched.

A span is opened with ``Tracer.span(name)``. While it is open, every Spark
job the calling thread submits carries the span's job group, so the jobs
(and through them the stages) can be attributed afterwards:

- job ids come from ``SparkContext.statusTracker().getJobIdsForGroup``;
- job start/end times and stage metrics come from the monitoring REST API
  at ``sc.uiWebUrl`` (``/api/v1/applications/<app>/jobs/<id>`` and
  ``.../stages/<id>``).

A disabled tracer (``Tracer(None)``) opens no job groups and records
nothing, so the untraced run pays only a context-manager call per span.

Counters per span (inclusive of its child spans):

- ``wall_s``: span duration;
- ``driver_s``: wall time not covered by any Spark job the span launched;
- ``jobs``, ``tasks``: jobs launched and tasks run (skipped stages run none);
- ``task_s``: summed ``executorRunTime`` of those tasks;
- ``shuffle_mb``: shuffle bytes written, in MB (1e6 bytes).

``self_s`` is the span's wall time minus the union of its children's
intervals.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import itertools
import json
import math
import time
import urllib.request
from dataclasses import dataclass, field

COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "task_s", "shuffle_mb")
# how long to poll the REST API for a job or stage to reach a final status
POLL_TIMEOUT_S = 5.0


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs) within
    [lo, hi]. Overlaps count once."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    start: float  # epoch seconds
    end: float = 0.0
    group: str = ""
    # (start, end) epoch seconds of each job launched under this span's own group
    jobs: list = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def rollup(spans: list[Span]) -> list[dict]:
    """Per-span records with inclusive counters and self time.

    A span's jobs, tasks, task time and shuffle bytes include those of
    its descendants; ``driver_s`` is its wall time minus the union of all
    those jobs' intervals, and ``self_s`` its wall time minus the union of
    its direct children's intervals."""
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent_id, []).append(s)

    def subtree(s: Span):
        yield s
        for c in children.get(s.span_id, []):
            yield from subtree(c)

    out = []
    for s in spans:
        tree = list(subtree(s))
        jobs = [j for t in tree for j in t.jobs]
        kids = [(c.start, c.end) for c in children.get(s.span_id, [])]
        out.append(
            {
                "name": s.name,
                "span_id": s.span_id,
                "parent_id": s.parent_id,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall_s,
                # max(): summing the union piecewise can overshoot by an ulp
                "self_s": max(0.0, s.wall_s - union_length(kids, s.start, s.end)),
                "driver_s": max(0.0, s.wall_s - union_length(jobs, s.start, s.end)),
                "jobs": len(jobs),
                "tasks": sum(t.tasks for t in tree),
                "task_s": sum(t.task_s for t in tree),
                "shuffle_mb": sum(t.shuffle_mb for t in tree),
            }
        )
    return out


def _epoch(ts: str | None) -> float | None:
    """Parse the REST API's ``2024-01-01T00:00:00.123GMT`` timestamps."""
    if not ts:
        return None
    return (
        _dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )


class Tracer:
    """Records spans for one SparkContext; ``Tracer(None)`` is a no-op."""

    _DONE_JOB = {"SUCCEEDED", "FAILED"}
    _DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}

    def __init__(self, spark):
        self.enabled = spark is not None
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        if self.enabled:
            self._sc = spark.sparkContext
            self._url = (
                f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
            )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(name, sid, parent.span_id if parent else None, time.time(),
                 group=f"perfbench-{sid}")
        self._sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self._pending.append(s)

    def _get(self, path: str):
        with urllib.request.urlopen(self._url + path, timeout=10) as r:
            return json.load(r)

    def _wait(self, path: str, done: set[str]):
        """GET ``path`` until its status is final (the REST view lags the
        action's return by the listener-bus delay)."""
        deadline = time.monotonic() + POLL_TIMEOUT_S
        while True:
            data = self._get(path)
            attempts = data if isinstance(data, list) else [data]
            if all(a.get("status") in done for a in attempts) or time.monotonic() > deadline:
                return attempts
            time.sleep(0.01)

    def resolve(self) -> None:
        """Attach job intervals and stage metrics to the spans closed since
        the last call. Call between operations, outside any timing: it
        talks to the REST API."""
        if not self.enabled:
            return
        tracker = self._sc.statusTracker()
        # a stage several jobs list ran once; children resolve before their
        # parents, so it is counted in the innermost span it ran in
        counted: set[int] = set()
        for s in self._pending:
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                (job,) = self._wait(f"/jobs/{jid}", self._DONE_JOB)
                start = _epoch(job.get("submissionTime"))
                end = _epoch(job.get("completionTime"))
                if start is not None and end is not None:
                    s.jobs.append((start, end))
                for sid in job.get("stageIds", []):
                    if sid in counted:
                        continue
                    for att in self._wait(f"/stages/{sid}", self._DONE_STAGE):
                        # a stage reused from an earlier job ran there, not
                        # here: count only work submitted inside this span
                        sub = _epoch(att.get("submissionTime"))
                        if att.get("status") == "SKIPPED" or sub is None:
                            continue
                        if not (s.start - 0.001 <= sub <= s.end + 0.001):
                            continue
                        counted.add(sid)
                        s.tasks += att.get("numCompleteTasks", 0)
                        s.task_s += att.get("executorRunTime", 0) / 1000.0
                        s.shuffle_mb += att.get("shuffleWriteBytes", 0) / 1e6
        self._pending.clear()

    def take(self) -> list[dict]:
        """Resolve, return the rolled-up records of every span recorded
        since the last ``take``, and forget them."""
        self.resolve()
        out = rollup(self.spans)
        self.spans = []
        return out
