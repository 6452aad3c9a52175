"""Spans and counts for the traced benchmark run.

A ``Tracer`` keeps spans (name, start, end, parent, run id, counts) in
memory and writes them out once, when the run ends. Self time is a span's
duration minus the part of it that its child spans cover; the same
interval arithmetic turns Spark's stage and job spans into the "driver"
time of a call (the part of its wall that no stage covers).

``SparkStatus`` reads jobs and stages from the Spark status REST API (the
UI must be on) for the job groups a traced call ran under.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import time
import urllib.request
from dataclasses import asdict, dataclass, field


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
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


def uncovered(start: float, end: float, intervals) -> float:
    """Length of [start, end] that no interval covers."""
    return (end - start) - covered(start, end, intervals)


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest by the order they are opened."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        s = Span(name, time.time(), None, parent, self.run_id)
        self.spans.append(s)
        self._open.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return uncovered(s.start, s.end, [(c.start, c.end) for c in self.children(idx)])

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec["index"] = i
                rec["self_s"] = self.self_time(i)
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def _epoch_s(raw: str | None) -> float | None:
    """REST time stamps look like '2026-08-15T18:28:12.123GMT'."""
    if not raw:
        return None
    dt = datetime.datetime.strptime(raw.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp()


@dataclass
class CallStats:
    """What Spark ran for one traced call, from its job groups."""

    jobs: int
    tasks: int
    executor_busy_s: float
    shuffle_mb: float
    spill_mb: float
    job_spans: list
    stage_spans: list


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, rel: str):
        with urllib.request.urlopen(f"{self._base}/{rel}", timeout=10) as r:
            return json.load(r)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def stats(self, groups, settle_s: float = 5.0) -> CallStats:
        """Jobs, tasks and stage totals of every job in ``groups``.

        The status store is fed asynchronously by the listener bus, so this
        waits (up to ``settle_s``) until every job of the groups has ended."""
        tracker = self._sc.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        deadline = time.time() + settle_s
        while True:
            jobs = [self._get(f"jobs/{j}") for j in job_ids]
            if all(j["status"] != "RUNNING" and j.get("completionTime") for j in jobs):
                break
            if time.time() > deadline:
                break
            time.sleep(0.05)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for attempt in self._get(f"stages/{sid}?details=false"):
                if attempt["status"] == "COMPLETE":
                    stages.append(attempt)
        mb = 1024 * 1024
        return CallStats(
            jobs=len(jobs),
            tasks=sum(s["numCompleteTasks"] for s in stages),
            executor_busy_s=sum(s["executorRunTime"] for s in stages) / 1000,
            shuffle_mb=sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages) / mb,
            spill_mb=sum(s["diskBytesSpilled"] for s in stages) / mb,
            job_spans=[
                (_epoch_s(j.get("submissionTime")), _epoch_s(j.get("completionTime")))
                for j in jobs
                if j.get("submissionTime") and j.get("completionTime")
            ],
            stage_spans=[
                (_epoch_s(s.get("submissionTime")), _epoch_s(s.get("completionTime")))
                for s in stages
                if s.get("submissionTime") and s.get("completionTime")
            ],
        )
