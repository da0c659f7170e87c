"""Traced-run bookkeeping: spans kept in memory, Spark jobs and stages
read back from the local UI REST API, and the per-query layer split.

A query's span is its timed region on the driver. Its jobs are the ones
tagged with the query's job group, plus any submitted inside the span
from a thread that did not inherit the group (one client thread runs
one query at a time, so nothing else submits then). The driver gap is
the span minus the union of its job intervals, clipped to the span.

The check on that split is not true by construction: ``outside_s`` is
how far the unclipped union of the query's jobs overhangs its span,
so ``job union + driver_gap_s - wall_s``. A job attributed to the wrong
query, or a job of the query's group that the UI never reported, shows
up there, and ``run.py`` counts such a query as failed.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from datetime import datetime, timezone

QUERY_FIELDS = ("wall_s", "jobs", "stages", "tasks", "job_s", "driver_gap_s",
                "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "outside_s", "missing_jobs")


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class SpanLog:
    """Spans (run > workload > pass > query > job > stage), in memory
    until ``dump``."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, kind: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "kind": kind,
                           "name": name, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, separators=(",", ":"))


class SparkUi:
    """Reads jobs and stages of this application from the local UI."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def group_jobs(self, group: str) -> set[int]:
        """Ids of every job the scheduler ran in ``group``."""
        return set(self.tracker.getJobIdsForGroup(group))

    def settled(self, groups: list[str], timeout_s: float = 15.0):
        """Jobs and stages once the UI has recorded every job of ``groups``
        as finished: ``(jobs, stages_by_id)``."""
        want = set().union(*(self.group_jobs(g) for g in groups))
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self._get("jobs")
            done = {j["jobId"] for j in jobs
                    if j["status"] != "RUNNING" and j.get("completionTime")}
            if want <= done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stages = {}
        for s in self._get("stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(s["stageId"], []).append(s)
        return [j for j in jobs if j["jobId"] in done], stages


def attribute(log: SpanLog, qspan: int, group: str, t0: float, t1: float,
              jobs: list[dict], stages: dict[int, list[dict]],
              group_jobs: set[int]) -> dict:
    """Attach the jobs and stages of one query span; return its layer
    split. ``group_jobs`` are the ids the scheduler ran in ``group``;
    any the UI did not report are counted in ``missing_jobs``."""
    mine = []
    for j in jobs:
        s, e = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if s is None or e is None:
            continue
        if j.get("jobGroup") == group or t0 <= s <= t1:
            mine.append((s, e, j))
    m = dict.fromkeys(QUERY_FIELDS, 0.0)
    m["wall_s"] = t1 - t0
    clipped = []
    for s, e, j in mine:
        jspan = log.add("job", str(j["jobId"]), s, e, qspan,
                        group=j.get("jobGroup"), tasks=j["numTasks"])
        clipped.append((max(s, t0), min(e, t1)))
        for sid in j.get("stageIds", []):
            for st in stages.get(sid, []):
                ss, se = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
                log.add("stage", f"{sid}.{st['attemptId']}", ss or s, se or e, jspan,
                        tasks=st["numCompleteTasks"])
                m["stages"] += 1
                m["tasks"] += st["numCompleteTasks"]
                m["executor_run_s"] += st["executorRunTime"] / 1e3
                m["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                m["gc_s"] += st["jvmGcTime"] / 1e3
                m["shuffle_read_mb"] += (st["shuffleLocalBytesRead"]
                                         + st["shuffleRemoteBytesRead"]) / 1e6
                m["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                m["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
    m["jobs"] = len(mine)
    m["job_s"] = union_length([c for c in clipped if c[1] > c[0]])
    m["driver_gap_s"] = m["wall_s"] - m["job_s"]
    m["outside_s"] = union_length([(s, e) for s, e, _ in mine]) - m["job_s"]
    m["missing_jobs"] = len(group_jobs - {j["jobId"] for _, _, j in mine})
    return m
