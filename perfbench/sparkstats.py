"""Spark status-API readers for the traced run.

Numbers are read per job group, never as running totals over retained
stages: every group's jobs, its completed stage attempts, and the SQL
executions whose jobs belong to it. Only the Spark monitoring REST API
(the same data a history server serves) is used.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import time
import urllib.request

# SQL node metric names of the Python runners (Spark 4.1 PythonSQLMetrics)
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def ts(s: str) -> float:
    """Epoch seconds of a status-API timestamp (``...T18:03:03.249GMT``)."""
    d = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return d.replace(tzinfo=dt.timezone.utc).timestamp()


def duration_total_s(value: str) -> float:
    """Total of a SQL timing metric rendered as
    ``total (min, med, max ...)\\n11.8 s (...)`` or a bare ``697 ms``."""
    line = value.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        raise ValueError(f"unparsed SQL timing metric {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StatusApi:
    def __init__(self, spark) -> None:  # noqa: ANN001
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs the Spark UI (spark.ui.enabled)")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):  # noqa: ANN201
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, groups: set[str], settle_s: float = 20.0) -> dict:
        """Jobs, completed stages and SQL executions, once every job of
        ``groups`` has reached a final state in the status store (the
        listener bus updates it asynchronously)."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self.get("/jobs")
            seen = {j.get("jobGroup") for j in jobs}
            pending = [j for j in jobs if j["status"] == "RUNNING"]
            if (groups <= seen and not pending) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = [s for s in self.get("/stages") if s["status"] == "COMPLETE"]
        sql = self.get("/sql?details=true&planDescription=false&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def reduce_task_skew(self, stage: dict) -> float:
        """max / median shuffle-read records over one stage's tasks."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["shuffleReadMetrics"]["readRecords"]
        return mx / med if med else 0.0


def group_totals(snap: dict, job_ids: list[int]) -> dict:
    """Scheduler totals over ``job_ids``: exec wall (first job submitted
    to last job completed; driver planning before the first job is not
    in it), task run/CPU/GC core-seconds, Python-worker time, shuffle
    bytes, and the counts behind them."""
    jobs = [j for j in snap["jobs"] if j["jobId"] in set(job_ids)]
    out = {
        "jobs": len(jobs), "stages": 0, "tasks": 0, "exec_s": 0.0,
        "run_core_s": 0.0, "cpu_core_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
        "python_boot_s": 0.0, "python_init_s": 0.0, "shuffle_bytes": 0,
        "first_submit": None, "last_complete": None, "stage_rows": [],
    }
    if not jobs:
        return out
    out["first_submit"] = min(ts(j["submissionTime"]) for j in jobs)
    out["last_complete"] = max(ts(j["completionTime"]) for j in jobs)
    out["exec_s"] = out["last_complete"] - out["first_submit"]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    for st in snap["stages"]:
        if st["stageId"] not in stage_ids:
            continue
        out["stages"] += 1
        out["tasks"] += st["numCompleteTasks"]
        out["run_core_s"] += st["executorRunTime"] / 1e3
        out["cpu_core_s"] += st["executorCpuTime"] / 1e9
        out["gc_s"] += st["jvmGcTime"] / 1e3
        out["shuffle_bytes"] += st["shuffleWriteBytes"]
        out["stage_rows"].append(st)
    ids = set(job_ids)
    for ex in snap["sql"]:
        if not ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = {PY_TOTAL: "python_s", PY_BOOT: "python_boot_s", PY_INIT: "python_init_s"}.get(m["name"])
                if key:
                    out[key] += duration_total_s(m["value"])
    return out


def sql_plan_gap_s(snap: dict, job_ids: list[int]) -> float:
    """Driver time inside the SQL execution that ran ``job_ids`` before
    its first job was submitted (optimization + physical planning of a
    write command's query)."""
    ids = set(job_ids)
    firsts = {j["jobId"]: ts(j["submissionTime"]) for j in snap["jobs"]}
    gaps = [
        min(firsts[i] for i in ex["successJobIds"] if i in firsts) - ts(ex["submissionTime"])
        for ex in snap["sql"]
        if ids & set(ex.get("successJobIds", []))
    ]
    return max(gaps) if gaps else 0.0


def span_totals(totals: dict) -> dict:
    """The group totals a span carries (SQL Python-node times included)."""
    keys = ("exec_s", "run_core_s", "cpu_core_s", "gc_s", "python_s",
            "python_boot_s", "python_init_s", "shuffle_bytes", "jobs", "tasks")
    return {k: totals[k] for k in keys}


def stage_spans(totals: dict, parent: str, job: int) -> list[dict]:
    return [
        {
            "name": f"stage.{st['stageId']}",
            "start": ts(st["submissionTime"]),
            "end": ts(st["completionTime"]),
            "parent": parent,
            "job": job,
            "run_core_s": st["executorRunTime"] / 1e3,
            "cpu_core_s": st["executorCpuTime"] / 1e9,
            "gc_s": st["jvmGcTime"] / 1e3,
            "tasks": st["numCompleteTasks"],
        }
        for st in totals["stage_rows"]
    ]
