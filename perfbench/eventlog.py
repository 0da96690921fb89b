"""Fold a Spark event log into per-job task metrics, in pure Python.

Reads the JSON-lines log Spark writes with ``spark.eventLog.enabled``
and keeps, for every job, its group, submit/end times, the output path
of the SQL execution it belongs to, and the metrics of every finished
task of its stages.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
# the write node's details: "(7) Execute InsertIntoHadoopFsRelationCommand
# \nInput [..]: [..]\nArguments: file:/out/by_tool, false, [tool], ..."
_WRITE_PATH = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)"
)


@dataclass
class Task:
    stage: int
    duration_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_records: int
    output_records: int


@dataclass
class Job:
    id: int
    group: str
    submit_ms: int
    end_ms: int = 0
    path: str | None = None  # output path of its SQL execution, if a write
    tasks: list[Task] = field(default_factory=list)


def read_events(log_dir: str) -> list[dict]:
    files = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(log_dir)
        for n in names
        if not n.startswith(".") and not n.startswith("appstatus")
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _task(stage: int, m: dict, info: dict) -> Task:
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    return Task(
        stage=stage,
        duration_ms=info["Finish Time"] - info["Launch Time"],
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        # rows, not bytes: Spark under-counts bytes of local parquet scans
        input_records=m.get("Input Metrics", {}).get("Records Read", 0),
        output_records=m.get("Output Metrics", {}).get("Records Written", 0),
    )


def jobs(events: list[dict]) -> dict[int, Job]:
    out: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    exec_path: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == _SQL_START:
            hit = _WRITE_PATH.search(e.get("physicalPlanDescription", ""))
            if hit:
                exec_path[e["executionId"]] = hit.group(1)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id") or "", e["Submission Time"])
            for key in ("spark.sql.execution.id", "spark.sql.execution.root.id"):
                if props.get(key) is not None and int(props[key]) in exec_path:
                    job.path = exec_path[int(props[key])]
                    break
            out[job.id] = job
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in out:
            out[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            job_id = stage_job.get(e["Stage ID"])
            if job_id is not None:
                out[job_id].tasks.append(_task(e["Stage ID"], e["Task Metrics"], e["Task Info"]))
    return out


def task_skew(tasks: list[Task]) -> float:
    """max/median task duration in the stage with the most task time
    (1.0 = perfectly even); 0.0 without tasks."""
    stages: dict[int, list[int]] = {}
    for t in tasks:
        stages.setdefault(t.stage, []).append(t.duration_ms)
    if not stages:
        return 0.0
    durations = max(stages.values(), key=sum)
    med = statistics.median(durations)
    return max(durations) / med if med else 1.0


def summarize(group: list[Job]) -> dict:
    """Wall span, summed task metrics and task-time skew of some jobs."""
    tasks = [t for j in group for t in j.tasks]
    return {
        "wall_s": (max(j.end_ms for j in group) - min(j.submit_ms for j in group)) / 1e3 if group else 0.0,
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "input_records": sum(t.input_records for t in tasks),
        "output_records": sum(t.output_records for t in tasks),
        "task_skew": task_skew(tasks),
    }
