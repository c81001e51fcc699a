"""Spark event-log accounting.

The benchmark's session writes an uncompressed event log into the run's
scratch directory.  Counting jobs, stages and tasks from it stays exact for
any session length, unlike ``statusTracker`` job lists, which are truncated
at ``spark.ui.retainedJobs``.  Task metrics (CPU, run time, GC, shuffle,
spill, records) are summed per stage and folded into the job that ran the
stage; each job carries the local properties it was submitted with, so a
job can be attributed to the benchmark span that launched it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    span: str | None = None
    sql_id: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> summed task metrics of every attempt
    stages: dict[int, dict] = field(default_factory=dict)
    # SQL execution id -> (start ms, end ms, writes files)
    sql: dict[int, list] = field(default_factory=dict)

    def jobs_between(self, t0_s: float, t1_s: float) -> list[int]:
        lo, hi = t0_s * 1000, t1_s * 1000
        return sorted(j.id for j in self.jobs.values() if lo <= j.submit_ms <= hi)

    def fold(self, job_ids) -> dict:
        """Summed accounting of the given jobs and the stages they ran."""
        job_ids = set(job_ids)
        owner: dict[int, int] = {}
        for j in sorted(self.jobs.values(), key=lambda j: j.id):
            for s in j.stage_ids:
                owner.setdefault(s, j.id)  # a re-listed stage was skipped
        out = {k: 0 for k in _METRICS}
        out["jobs"] = len(job_ids & set(self.jobs))
        for sid, m in self.stages.items():
            if owner.get(sid) in job_ids:
                out["stages"] += 1
                for k in _METRICS:
                    if k not in ("jobs", "stages"):
                        out[k] += m.get(k, 0)
        for k in ("task_cpu_s", "task_run_s", "gc_s"):
            out[k] = round(out[k], 4)
        return out

    def job_commit_seconds(self, job_ids) -> float:
        """Driver-serial committer tail: for every file-writing SQL execution
        that ran one of ``job_ids``, its end minus its last job's end."""
        last_end: dict[int, int] = {}
        for jid in job_ids:
            j = self.jobs.get(jid)
            if j is not None and j.sql_id is not None:
                last_end[j.sql_id] = max(last_end.get(j.sql_id, 0), j.end_ms)
        total = 0
        for sid, end in last_end.items():
            ex = self.sql.get(sid)
            if ex and ex[2] and ex[1] >= end:
                total += ex[1] - end
        return total / 1000.0


_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "records_read",
    "records_written",
)


def _add_task(acc: dict, tm: dict) -> None:
    acc["tasks"] = acc.get("tasks", 0) + 1
    acc["task_cpu_s"] = acc.get("task_cpu_s", 0) + tm.get("Executor CPU Time", 0) / 1e9
    acc["task_run_s"] = acc.get("task_run_s", 0) + tm.get("Executor Run Time", 0) / 1e3
    acc["gc_s"] = acc.get("gc_s", 0) + tm.get("JVM GC Time", 0) / 1e3
    sw = tm.get("Shuffle Write Metrics", {})
    acc["shuffle_write_bytes"] = acc.get("shuffle_write_bytes", 0) + sw.get(
        "Shuffle Bytes Written", 0
    )
    acc["spill_bytes"] = (
        acc.get("spill_bytes", 0)
        + tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0)
    )
    im = tm.get("Input Metrics", {})
    acc["input_bytes"] = acc.get("input_bytes", 0) + im.get("Bytes Read", 0)
    acc["records_read"] = acc.get("records_read", 0) + im.get("Records Read", 0)
    acc["records_written"] = acc.get("records_written", 0) + tm.get(
        "Output Metrics", {}
    ).get("Records Written", 0)


def _event_files(log_dir: str) -> list[str]:
    """Plain single-file logs and rolling ``eventlog_v2_*`` directories."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, name)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out.extend(os.path.join(p, f) for f in parts)
        elif not name.startswith("."):
            out.append(p)
    return out


def load(log_dir: str) -> EventLog:
    log = EventLog()
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    _add_task(log.stages.setdefault(e["Stage ID"], {}), e.get("Task Metrics") or {})
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sql_id = props.get("spark.sql.execution.id")
                    log.jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        e["Submission Time"],
                        span=props.get(SPAN_PROPERTY),
                        sql_id=int(sql_id) if sql_id is not None else None,
                        stage_ids=list(e.get("Stage IDs") or []),
                    )
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in log.jobs:
                        log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == _SQL_START:
                    plan = e.get("physicalPlanDescription") or ""
                    log.sql[int(e["executionId"])] = [
                        e["time"],
                        0,
                        "InsertIntoHadoopFsRelationCommand" in plan,
                    ]
                elif kind == _SQL_END:
                    ex = log.sql.get(int(e["executionId"]))
                    if ex is not None:
                        ex[1] = e["time"]
    return log
