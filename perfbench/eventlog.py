"""Reader for Spark's uncompressed JSON event log (standard library only).

``read(path)`` parses one application's log into jobs, stages and
tasks; ``rollup(log, job_ids)`` sums the task metrics of those jobs
into the ``spark.*`` per-layer metrics; ``exchange_skew`` measures the
imbalance of the reduce side of one shuffle, picked out by strings in
its ``Exchange`` node, such as the ``repartition`` on the ``__gps_pid``
bucket column in ``common.scale.grouped_prefix_scan``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Task:
    stage_id: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    peak_mem_bytes: int
    accumulables: Dict[int, int]


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    submit_ms: int
    stage_ids: List[int]


@dataclass
class EventLog:
    jobs: Dict[int, Job] = field(default_factory=dict)
    stage_job: Dict[int, int] = field(default_factory=dict)
    completed_stages: set = field(default_factory=set)
    tasks: List[Task] = field(default_factory=list)
    # every Exchange node seen in a SQL plan: (simpleString, {metric: accumulator id})
    exchanges: List[tuple] = field(default_factory=list)


def _int(value) -> int:
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def _task(event: dict) -> Task:
    m = event.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics") or {}
    write = m.get("Shuffle Write Metrics") or {}
    accs = {}
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        if "Update" in acc:
            accs[_int(acc.get("ID"))] = _int(acc["Update"])
    return Task(
        stage_id=_int(event.get("Stage ID")),
        run_ms=_int(m.get("Executor Run Time")),
        cpu_ns=_int(m.get("Executor CPU Time")),
        gc_ms=_int(m.get("JVM GC Time")),
        input_bytes=_int((m.get("Input Metrics") or {}).get("Bytes Read")),
        shuffle_read_bytes=_int(read.get("Remote Bytes Read")) + _int(read.get("Local Bytes Read")),
        shuffle_write_bytes=_int(write.get("Shuffle Bytes Written")),
        spill_bytes=_int(m.get("Memory Bytes Spilled")) + _int(m.get("Disk Bytes Spilled")),
        peak_mem_bytes=_int(m.get("Peak Execution Memory")),
        accumulables=accs,
    )


def _walk_plan(node: dict, out: List[tuple]) -> None:
    if node.get("nodeName") == "Exchange":
        metrics = {mt.get("name"): _int(mt.get("accumulatorId")) for mt in node.get("metrics", [])}
        out.append((node.get("simpleString", ""), metrics))
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            event = json.loads(line)
        except json.JSONDecodeError:  # a torn last line of a log still being written
            continue
        kind = event.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            job = Job(
                job_id=_int(event.get("Job ID")),
                group=props.get("spark.jobGroup.id"),
                submit_ms=_int(event.get("Submission Time")),
                stage_ids=[_int(s) for s in event.get("Stage IDs", [])],
            )
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = event.get("Stage Info") or {}
            log.completed_stages.add(_int(info.get("Stage ID")))
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(event))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(event.get("sparkPlanInfo") or {}, log.exchanges)
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def _mb(n: int) -> float:
    return n / 1e6


def rollup(log: EventLog, job_ids: Iterable[int]) -> dict:
    """``spark.*`` metrics summed over the given jobs' tasks."""
    job_ids = set(job_ids)
    stages = {s for s, j in log.stage_job.items() if j in job_ids}
    tasks = [t for t in log.tasks if t.stage_id in stages]
    by_stage: Dict[int, List[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(t.run_ms)
    skews = [
        max(runs) / statistics.median(runs)
        for runs in by_stage.values()
        if len(runs) >= 2 and statistics.median(runs) > 0
    ]
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": sum(1 for s in stages if s in log.completed_stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.input_mb": _mb(sum(t.input_bytes for t in tasks)),
        "spark.shuffle_read_mb": _mb(sum(t.shuffle_read_bytes for t in tasks)),
        "spark.shuffle_write_mb": _mb(sum(t.shuffle_write_bytes for t in tasks)),
        "spark.spill_mb": _mb(sum(t.spill_bytes for t in tasks)),
        # worst stage: slowest task over the stage's median task
        "spark.task_skew": max(skews, default=1.0),
        "spark.peak_exec_mem_mb": _mb(max((t.peak_mem_bytes for t in tasks), default=0)),
    }


def exchange_skew(log: EventLog, markers: Iterable[str], job_ids: Iterable[int]) -> Optional[float]:
    """Largest over median reduce-task input (records read) in the
    reduce stages of the shuffles whose ``Exchange`` node mentions
    every one of ``markers``, over the given jobs; the worst such stage counts. When
    more than half the reducers read nothing the mean replaces the
    median. None when no such shuffle ran."""
    job_ids = set(job_ids)
    stages = {s for s, j in log.stage_job.items() if j in job_ids}
    acc_ids = {
        metrics["records read"]
        for text, metrics in log.exchanges
        if all(m in text for m in markers) and "records read" in metrics
    }
    worst = None
    for acc in acc_ids:
        # a task that read nothing reports no update for the metric
        reading = {t.stage_id for t in log.tasks if t.stage_id in stages and acc in t.accumulables}
        for sid in reading:
            per_task = [t.accumulables.get(acc, 0) for t in log.tasks if t.stage_id == sid]
            if len(per_task) < 2:
                continue
            med = statistics.median(per_task)
            # more than half the reducers idle: compare with the mean instead
            base = med if med > 0 else statistics.fmean(per_task)
            skew = max(per_task) / base
            worst = skew if worst is None else max(worst, skew)
    return worst
