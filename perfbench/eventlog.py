"""Spark event-log parser for the traced run (stdlib only).

Reads the JSON-lines log that ``spark.eventLog.enabled`` writes (epoch-ms
timestamps) and attributes jobs and stages to the benchmark's labels:
every engine call the benchmark makes runs under ``setJobGroup(label)``.
Jobs without a label, such as those of the engine's background
compaction thread, are attributed by their Python call site
(``callSite.short``, e.g. ``collect at .../cdc/table.py:1990``) when the
log has one, else counted as ``unlabelled``.

Times are seconds. "In-job" time of a call is the length of the union
of its jobs' [submission, completion] intervals; the rest of the call's
wall time is driver-side (planning, listing, commits, Python).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    group: str | None = None
    site: str | None = None
    execution: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    tasks: list[float] = field(default_factory=list)  # task durations
    shuffle_write: int = 0
    spill: int = 0
    scan: bool = False  # reads files (a FileScanRDD among its RDDs)


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    accum: dict[int, float] = field(default_factory=dict)  # accumulator id -> summed updates
    # SQL metric accumulator id -> (execution id, plan node, metric name)
    metric_of: dict[int, tuple[int, str, str]] = field(default_factory=dict)


def _walk_plan(log: Log, execution: int, node: dict) -> None:
    for m in node.get("metrics", []):
        log.metric_of[m["accumulatorId"]] = (execution, node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk_plan(log, execution, c)


def load(path: str) -> Log:
    """Parse one event-log file (or the single file of a rolling-log
    directory)."""
    if os.path.isdir(path):
        files = sorted(f for f in os.listdir(path) if f.startswith("events_"))
        path = os.path.join(path, files[0])
    log = Log()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                ex = p.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = Job(
                    id=e["Job ID"],
                    start=e["Submission Time"] / 1000.0,
                    group=p.get("spark.jobGroup.id"),
                    site=p.get("callSite.short"),
                    execution=int(ex) if ex is not None else None,
                    stages=list(e.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job.end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                info = e["Task Info"]
                st.tasks.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                tm = e.get("Task Metrics") or {}
                st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        log.accum[a["ID"]] = log.accum.get(a["ID"], 0.0) + float(a["Update"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.scan = any("FileScanRDD" in (r.get("Name") or "") for r in info.get("RDD Info", []))
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(log, e["executionId"], e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, v in e["accumUpdates"]:
                    log.accum[acc_id] = log.accum.get(acc_id, 0.0) + float(v)
    return log


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


def owner(job: Job) -> str:
    """The label a job ran under, else the file its Python call site
    names (``site:table.py``), else ``unlabelled``."""
    if job.group:
        return job.group
    if job.site and " at " in job.site:
        return "site:" + os.path.basename(job.site.split(" at ", 1)[1].rsplit(":", 1)[0])
    return "unlabelled"


def skew(stage: Stage) -> float:
    """Slowest task over the median task of a stage."""
    med = statistics.median(stage.tasks)
    return max(stage.tasks) / med if med > 0 else 1.0


def _node_metric_s(log: Log, executions: set[int], node: str, metric: str) -> float:
    ms = sum(
        log.accum.get(acc_id, 0.0)
        for acc_id, (ex, n, m) in log.metric_of.items()
        if ex in executions and n == node and m == metric
    )
    return ms / 1000.0


def attribute(log: Log, calls: list[dict]) -> dict:
    """Per-batch figures for ``apply_batch`` calls. Each call carries its
    ``label``, wall ``start``/``end`` and ``BatchMetrics`` as a dict
    (whose phase split locates the write phase in time)."""
    by_group: dict[str, list[Job]] = {}
    for j in log.jobs.values():
        by_group.setdefault(j.group or "", []).append(j)
    jobs_n, in_job, driver, skews = [], [], [], []
    shuffle = spill = 0
    executions: set[int] = set()
    for c in calls:
        jobs = by_group.get(c["label"], [])
        wall = c["end"] - c["start"]
        ij = union_s([(j.start, j.end) for j in jobs])
        jobs_n.append(len(jobs))
        in_job.append(ij)
        driver.append(max(0.0, wall - ij))
        for j in jobs:
            if j.execution is not None:
                executions.add(j.execution)
            for sid in j.stages:
                st = log.stages.get(sid)
                if st is not None:
                    shuffle += st.shuffle_write
                    spill += st.spill
        ph = c["m"]["phases"] or {}
        w0 = c["start"] + sum(ph.get(p, 0.0) for p in ("spool", "stats", "census"))
        w1 = w0 + ph.get("write", 0.0)
        write_stages = [
            log.stages[sid] for j in jobs if w0 - 0.05 <= j.start <= w1 + 0.05
            for sid in j.stages if sid in log.stages and len(log.stages[sid].tasks) >= 2
        ]
        if write_stages:
            # the files are written by the final stage of the write job
            skews.append(skew(max(write_stages, key=lambda s: s.id)))
    return {
        "jobs_per_batch": statistics.mean(jobs_n),
        "in_job_s": statistics.mean(in_job),
        "driver_s": statistics.mean(driver),
        "write_task_skew": statistics.median(skews) if skews else 1.0,
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "udf_s": _node_metric_s(log, executions, "ArrowEvalPython", "time to run Python workers"),
    }


def spans(log: Log, spans: list[tuple[str, float, float]]) -> dict:
    """Jobs and driver-side time of labelled bench calls
    ``(label, start, end)``, e.g. ``read_key`` lookups."""
    by_group: dict[str, list[Job]] = {}
    for j in log.jobs.values():
        by_group.setdefault(j.group or "", []).append(j)
    jobs_n, driver = [], []
    for label, t0, t1 in spans:
        jobs = by_group.get(label, [])
        jobs_n.append(len(jobs))
        driver.append(max(0.0, (t1 - t0) - union_s([(j.start, j.end) for j in jobs])))
    return {"jobs_per_span": statistics.mean(jobs_n), "driver_s_p50": statistics.median(driver)}


def spans_stages(log: Log, spans: list[tuple[str, float, float]]) -> dict:
    """Stage shape of labelled bench calls, e.g. analytic queries: scan
    stages that ran on at most 2 tasks (parallelism-starved reads), and
    the largest task skew of any stage with at least 2 tasks."""
    groups = {label for label, _, _ in spans}
    stages = [log.stages[sid] for j in log.jobs.values() if j.group in groups
              for sid in j.stages if sid in log.stages and log.stages[sid].tasks]
    return {
        "small_scan_stages": sum(1 for st in stages if st.scan and len(st.tasks) <= 2),
        "stage_skew_max": max([skew(st) for st in stages if len(st.tasks) >= 2] or [1.0]),
    }


def owners(log: Log, since: float = 0.0) -> dict[str, tuple[int, float]]:
    """(jobs, in-job seconds) per owner for jobs submitted after
    ``since``; numeric label fields (replay, batch, round) are dropped,
    so ``trickle:apply:3`` counts under ``trickle:apply``."""
    out: dict[str, list[tuple[float, float]]] = {}
    for j in log.jobs.values():
        if j.start >= since:
            key = ":".join(p for p in owner(j).split(":") if not p.isdigit()) if j.group else owner(j)
            out.setdefault(key, []).append((j.start, j.end))
    return {k: (len(v), union_s(v)) for k, v in out.items()}
