"""Spans around calls into the program's layers, and the Spark work in each.

A span is kept in memory: name, start, end (seconds since the tracer
began), parent, op id and, after the run, its job ids. Each span sets
its own Spark job group, so every job it starts can be read back from the
REST ``/jobs`` listing by group and its stages from ``/stages``. All
counters except ``self_s`` include the span's descendants.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import sys
import time
import urllib.request
from dataclasses import dataclass, field

# counter -> unit
COUNTERS = {
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "job_s": "s",
    "gap_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "output_rows": "rows",
}


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1
        self.t0 = time.perf_counter()

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None if span is None else f"pb-{span.sid}")
        sc.setLocalProperty("spark.job.description", None if span is None else span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, self.op, parent.sid if parent else None, time.perf_counter() - self.t0
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


class SparkRest:
    """Reads the Spark UI's REST API (``/jobs``, ``/stages``) on localhost."""

    def __init__(self, spark):
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settled_jobs(self) -> list[dict]:
        """All jobs, once the listener has caught up: no job still running
        and two reads in a row agree (the status listener drains its queue
        asynchronously, so a read right after an action can miss the tail)."""
        prev = None
        for _ in range(50):
            jobs = self._get("jobs")
            key = [(j["jobId"], j["status"], j.get("completionTime")) for j in jobs]
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            prev = key
            time.sleep(0.1)
        return jobs

    def stages(self) -> dict[int, dict]:
        """stageId -> summed metrics of all its attempts."""
        out: dict[int, dict] = {}
        for st in self._get("stages"):
            if st["status"] == "SKIPPED":
                continue
            acc = out.setdefault(st["stageId"], {k: 0 for k in _STAGE_KEYS})
            for k in _STAGE_KEYS:
                acc[k] += st.get(k, 0)
        return out


_STAGE_KEYS = ("executorCpuTime", "shuffleWriteBytes", "diskBytesSpilled", "outputRecords")


def _ts(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=dt.timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_counters(spans: list[Span], jobs: list[dict], stages: dict[int, dict]) -> tuple[dict, int]:
    """Sum the counters of every span per span name.

    Returns ({name: {counter: value}}, number of jobs that belong to no
    span). ``jobs`` and ``stages`` are the REST listings after the run.
    """
    by_group = {f"pb-{s.sid}": s for s in spans}
    untraced = 0
    for s in spans:
        s.job_ids = []
    job_by_id = {}
    for j in jobs:
        s = by_group.get(j.get("jobGroup"))
        if s is None:
            untraced += 1
            print(f"job outside any span: {j['jobId']} {j.get('name')}", file=sys.stderr)
            continue
        s.job_ids.append(j["jobId"])
        job_by_id[j["jobId"]] = j
    # a reused shuffle stage is listed by every job that reads it: count
    # it once, in the first job that lists it
    owner: dict[int, int] = {}
    for i in sorted(job_by_id):
        for sid in job_by_id[i]["stageIds"]:
            owner.setdefault(sid, i)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s: Span) -> list[int]:
        ids = list(s.job_ids)
        for c in children.get(s.sid, []):
            ids += subtree_jobs(c)
        return ids

    out: dict[str, dict] = {}
    for s in spans:
        ids = subtree_jobs(s)
        wall = s.end - s.start
        job_s = _union(
            [
                (_ts(job_by_id[i]["submissionTime"]), _ts(job_by_id[i]["completionTime"]))
                for i in ids
                if job_by_id[i].get("completionTime")
            ]
        )
        st = [
            stages[sid]
            for i in ids
            for sid in job_by_id[i]["stageIds"]
            if owner[sid] == i and sid in stages
        ]
        acc = out.setdefault(s.name, {k: 0.0 for k in COUNTERS})
        acc["wall_s"] += wall
        acc["self_s"] += wall - sum(c.end - c.start for c in children.get(s.sid, []))
        acc["jobs"] += len(ids)
        acc["job_s"] += job_s
        acc["gap_s"] += wall - job_s
        acc["executor_cpu_s"] += sum(x["executorCpuTime"] for x in st) / 1e9
        acc["shuffle_write_mb"] += sum(x["shuffleWriteBytes"] for x in st) / 1e6
        acc["spill_mb"] += sum(x["diskBytesSpilled"] for x in st) / 1e6
        acc["output_rows"] += sum(x["outputRecords"] for x in st)
    return out, untraced
