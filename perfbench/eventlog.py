"""Spark event log -> per-label counters.

Every benchmark call runs under ``setJobGroup("<workload>:<layer>:<op>",
"<pass>:<phase>")``; Spark copies both into each job's properties, so the
uncompressed JSON-lines event log can be read back as data: jobs by label,
their stages, and every task's metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    peak_mem_bytes: int = 0
    python_bytes: int = 0
    sched_wait_s: float = 0.0
    #: per stage with >= 2 tasks: max task run time over the median
    stage_skew: list[float] = field(default_factory=list)


@dataclass
class _Execution:
    start_ms: int
    end_ms: int | None = None
    first_job_ms: int | None = None
    key: tuple[str, str] | None = None


@dataclass
class _Stage:
    submitted_ms: int | None = None
    first_launch_ms: int | None = None
    run_ms: list[int] = field(default_factory=list)


def parse(lines, marker: str | None = None) -> tuple[dict, dict]:
    """Counters keyed by (job group, job description, marked) from
    event-log lines; jobs without a group are keyed ("", "", False). A job
    is *marked* when its SQL execution's physical plan mentions ``marker``.

    Also returns, per (job group, job description), the planning and
    running seconds of the marked SQL executions (execution start to first
    job, first job to execution end)."""
    job_key: dict[int, tuple[str, str, bool]] = {}
    executions: dict[int, _Execution] = {}
    marked: set[int] = set()
    stages: dict[tuple[int, int], _Stage] = {}
    stage_job: dict[int, int] = {}
    out: dict[tuple[str, str, bool], Counters] = defaultdict(Counters)

    def counters_of(stage_id: int) -> Counters:
        return out[job_key.get(stage_job.get(stage_id, -1), ("", "", False))]

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            executions[ev["executionId"]] = _Execution(ev["time"])
            if marker and marker in (ev.get("physicalPlanDescription") or ""):
                marked.add(ev["executionId"])
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in executions:
                executions[ev["executionId"]].end_ms = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = int(props.get("spark.sql.execution.id", -1))
            key = (props.get("spark.jobGroup.id", ""), props.get("spark.job.description", ""),
                   exec_id in marked)
            job_key[ev["Job ID"]] = key
            out[key].jobs += 1
            ex = executions.get(exec_id)
            if ex is not None and ex.first_job_ms is None:
                ex.first_job_ms, ex.key = ev["Submission Time"], key[:2]
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault((sid, info["Stage Attempt ID"]), _Stage())
            st.submitted_ms = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault((sid, ev["Stage Attempt ID"]), _Stage())
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            c = counters_of(sid)
            c.tasks += 1
            c.failed_tasks += bool(info.get("Failed") or info.get("Killed"))
            run_ms = metrics.get("Executor Run Time", 0)
            st.run_ms.append(run_ms)
            launch = info.get("Launch Time")
            if launch is not None and (st.first_launch_ms is None or launch < st.first_launch_ms):
                st.first_launch_ms = launch
            c.task_s += run_ms / 1000
            c.gc_s += metrics.get("JVM GC Time", 0) / 1000
            c.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
            c.peak_mem_bytes = max(c.peak_mem_bytes, metrics.get("Peak Execution Memory", 0))
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") in (PY_SENT, PY_RECEIVED) and acc.get("Update") is not None:
                    c.python_bytes += int(acc["Update"])
    for (sid, _), st in stages.items():
        c = counters_of(sid)
        if st.submitted_ms is not None and st.first_launch_ms is not None:
            c.sched_wait_s += max(0, st.first_launch_ms - st.submitted_ms) / 1000
        if len(st.run_ms) >= 2:
            c.stage_skew.append(max(st.run_ms) / max(statistics.median(st.run_ms), 1))
    marked_s: dict[tuple[str, str], list[float]] = defaultdict(lambda: [0.0, 0.0])
    for exec_id in marked:
        ex = executions[exec_id]
        if ex.key is None or ex.end_ms is None:
            continue
        marked_s[ex.key][0] += (ex.first_job_ms - ex.start_ms) / 1000
        marked_s[ex.key][1] += (ex.end_ms - ex.first_job_ms) / 1000
    return dict(out), dict(marked_s)


def log_lines(event_dir: str, app_id: str):
    """Lines of one application's log, which Spark 4 writes as rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` files, in index order."""
    rolled = os.path.join(event_dir, f"eventlog_v2_{app_id}")
    names = [n for n in os.listdir(rolled) if n.startswith("events_")]
    for name in sorted(names, key=lambda n: int(n.split("_")[1])):
        with open(os.path.join(rolled, name), encoding="utf-8") as fh:
            yield from fh
