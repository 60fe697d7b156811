"""Spark event-log reader: jobs, stages, task metrics and SQL metrics,
keyed by the ``setJobGroup(<query id>, <phase>)`` tag of each job."""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
# Plan nodes that run Python workers (pandas/Arrow UDFs, mapInPandas, ...).
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


@dataclass
class Job:
    job_id: int
    group: str | None
    phase: str | None
    execution_id: int | None
    start: float
    end: float | None = None
    stages: set[int] = field(default_factory=set)


@dataclass
class Log:
    jobs: dict[int, Job]
    stage_jobs: dict[int, int]  # stage id -> job id that ran it
    completed_stages: set[int]
    task_metrics: dict[int, dict[str, float]]  # stage id -> summed metrics
    accum_updates: dict[int, float]  # accumulator id -> summed updates
    accum_exec: dict[int, int]  # accumulator id -> SQL execution id
    accum_meta: dict[int, tuple[str, str]]  # accumulator id -> (node, metric)


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(info: dict, meta: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        meta[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, meta)


def _task_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "tasks": 1,
        "task_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
    }


def read(path: str) -> Log:
    jobs: dict[int, Job] = {}
    stage_jobs: dict[int, int] = {}
    completed: set[int] = set()
    task_metrics: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    updates: dict[int, float] = defaultdict(float)
    accum_stage: dict[int, int] = {}
    accum_exec: dict[int, int] = {}
    meta: dict[int, tuple[str, str]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                          props.get("spark.job.description"),
                          int(exec_id) if exec_id is not None else None,
                          e["Submission Time"] / 1e3, stages=set(e["Stage IDs"]))
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_jobs.setdefault(s, job.job_id)
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Failure Reason" not in info:
                    completed.add(info["Stage ID"])
            elif ev == "SparkListenerTaskEnd":
                stage = e["Stage ID"]
                for k, v in _task_metrics(e.get("Task Metrics") or {}).items():
                    task_metrics[stage][k] += v
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    updates[acc["ID"]] += _number(acc.get("Update"))
                    accum_stage.setdefault(acc["ID"], stage)
            elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                before = set(meta)
                _walk_plan(e["sparkPlanInfo"], meta)
                for acc in set(meta) - before:
                    accum_exec[acc] = e["executionId"]
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                for acc, value in e["accumUpdates"]:
                    updates[acc] += _number(value)
                    accum_exec.setdefault(acc, e["executionId"])
    # An accumulator updated only by tasks belongs to those tasks' job.
    stage_exec = {s: jobs[j].execution_id for s, j in stage_jobs.items()}
    for acc, stage in accum_stage.items():
        if acc not in accum_exec and stage_exec.get(stage) is not None:
            accum_exec[acc] = stage_exec[stage]
    return Log(jobs, stage_jobs, completed, task_metrics, updates, accum_exec, meta)


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def query_layers(log: Log, qid: str, window: tuple[float, float]) -> dict[str, float]:
    """Layer totals for the jobs tagged with ``qid`` that started in
    ``window`` (epoch seconds): the Spark jobs its builder started, the
    execution of its result, and its Python-worker and write metrics."""
    lo, hi = window[0] - 0.01, window[1] + 0.01  # event times are in ms
    jobs = [j for j in log.jobs.values() if j.group == qid and lo <= j.start <= hi]
    execute = [j for j in jobs if j.phase == "execute"]
    out: dict[str, float] = defaultdict(float)
    out["build_jobs"] = sum(1 for j in jobs if j.phase == "build")
    out["exec.wall_s"] = _union_s([(j.start, j.end or j.start) for j in execute])
    for j in execute:
        for s in j.stages:
            if s in log.completed_stages and log.stage_jobs.get(s) == j.job_id:
                out["exec.stages"] += 1
                for k, v in log.task_metrics.get(s, {}).items():
                    out[f"exec.{k}"] += v
    executions = {j.execution_id for j in jobs if j.execution_id is not None}
    for acc, value in log.accum_updates.items():
        if log.accum_exec.get(acc) not in executions or acc not in log.accum_meta:
            continue
        node, metric = log.accum_meta[acc]
        if metric == "data sent to Python workers":
            out["python_worker.bytes_sent"] += value
        elif metric == "data returned from Python workers":
            out["python_worker.bytes_received"] += value
        elif metric == "number of output rows" and _PYTHON_NODE.search(node):
            out["python_worker.rows"] += value
        elif metric == "written output":
            out["sources_io.output_bytes"] += value
        elif metric == "number of written files":
            out["sources_io.output_files"] += value
    return out
