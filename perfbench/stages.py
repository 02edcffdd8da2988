"""Per-job-group Spark execution statistics.

Job ids come from ``statusTracker()``; job and stage details come from
the driver's own REST API (``sc.uiWebUrl``, always localhost).  The
aggregation is a pure function over the REST JSON so it can be tested
from a recorded sample."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

MB = 1024.0 * 1024.0
#: Stages whose median task runs shorter than this are scheduler noise
#: for the skew ratio.
SKEW_MIN_MEDIAN_MS = 100.0


class Rest:
    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        # never route through an HTTP proxy from the environment
        self._opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self._opener.open(self.base + path, timeout=30) as r:
            return json.load(r)


def fetch_group(sc, rest: Rest, group: str) -> dict:
    """REST JSON of every job of ``group`` and of the stages they planned.

    Drains the listener bus first, so the status store has seen the end
    of every job the group ran."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    jobs = [rest.get(f"/jobs/{j}") for j in job_ids]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    stages = {str(s): rest.get(f"/stages/{s}?details=false") for s in stage_ids}
    sample = {"jobs": jobs, "stages": stages, "summaries": {}}
    for a in _executed(sample):
        if _may_be_skewed(a):
            key = f"{a['stageId']}/{a['attemptId']}"
            sample["summaries"][key] = rest.get(
                f"/stages/{key}/taskSummary?quantiles=0.5,1.0"
            )
    return sample


def _executed(sample: dict) -> list[dict]:
    """Stage attempts the group's own jobs ran.

    A job also lists the stages it reused from an earlier job's shuffle
    (possibly a job of the previous phase); those were submitted before
    the group's first job and are left out.  The REST timestamps share
    one fixed-width format, so they order as strings."""
    if not sample["jobs"]:
        return []
    first = min(j["submissionTime"] for j in sample["jobs"])
    return [
        a
        for attempts in sample["stages"].values()
        for a in attempts
        if a["status"] == "COMPLETE" and a.get("submissionTime", "") >= first
    ]


def _may_be_skewed(stage: dict) -> bool:
    # a median task of at least T ms needs a mean of at least T/2 ms
    n = max(1, stage["numCompleteTasks"])
    return stage["executorRunTime"] / n >= SKEW_MIN_MEDIAN_MS / 2


def aggregate(sample: dict) -> dict:
    """Totals over the jobs of one group.

    ``stages`` counts the stage attempts the group ran (each once, even
    when several jobs list it), ``skipped_stages`` the planned stages a job reused from an
    earlier shuffle, and ``task_skew`` is the largest max/median task
    run time over stages whose median task takes at least
    :data:`SKEW_MIN_MEDIAN_MS` (0 when none does)."""
    out = {
        "jobs": len(sample["jobs"]),
        "planned_stages": sum(len(j["stageIds"]) for j in sample["jobs"]),
        "skipped_stages": sum(j["numSkippedStages"] for j in sample["jobs"]),
        "stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "input_mb": 0.0, "input_rows": 0, "output_mb": 0.0,
        "output_rows": 0, "task_skew": 0.0,
    }
    for a in _executed(sample):
        out["stages"] += 1
        out["tasks"] += a["numCompleteTasks"]
        out["executor_run_s"] += a["executorRunTime"] / 1e3
        out["executor_cpu_s"] += a["executorCpuTime"] / 1e9
        out["gc_s"] += a["jvmGcTime"] / 1e3
        out["shuffle_read_mb"] += a["shuffleReadBytes"] / MB
        out["shuffle_write_mb"] += a["shuffleWriteBytes"] / MB
        out["spill_mb"] += (a["memoryBytesSpilled"] + a["diskBytesSpilled"]) / MB
        out["input_mb"] += a["inputBytes"] / MB
        out["input_rows"] += a["inputRecords"]
        out["output_mb"] += a["outputBytes"] / MB
        out["output_rows"] += a["outputRecords"]
    for summary in sample["summaries"].values():
        p50, top = summary["executorRunTime"]
        if p50 >= SKEW_MIN_MEDIAN_MS:
            out["task_skew"] = max(out["task_skew"], top / p50)
    return out
