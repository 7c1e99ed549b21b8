"""Standard-library parser for Spark's JSON event log.

Reads an uncompressed, non-rolling event log (the single file Spark writes
per application) and sums what the per-layer metrics
need: jobs, stages and tasks, executor run and CPU time, shuffle write and
spill bytes, the executor time of Python (``mapInPandas``) stages, and the
driver-only gap: wall time not covered by any running stage.

Jobs keep two of their properties: ``spark.jobGroup.id``, which the
benchmark's tracer sets around the calls it wraps, and
``streaming.sql.batchId``, which Structured Streaming sets on every job of
a micro-batch.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# accumulables only stages that run Python workers report
_PYTHON_ACCUMS = {"time to run Python workers", "data sent to Python workers"}


@dataclass
class Stage:
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False


@dataclass
class Job:
    submit_ms: int
    stage_ids: list[int] = field(default_factory=list)
    group: str | None = None
    batch_id: int | None = None


@dataclass
class Execution:
    """One SQL execution: its job group, start time and the accumulator
    ids of the rows its Parquet scans output."""

    group: str | None
    start_ms: int
    scan_row_accums: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # keyed by (stage id, attempt)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    # summed task updates per accumulator id
    accums: dict[int, int] = field(default_factory=dict)


def log_files(path: str | Path) -> list[Path]:
    """``path`` itself, or the event-log files of the directory ``path``."""
    p = Path(path)
    if p.is_file():
        return [p]
    return sorted(f for f in p.iterdir() if f.is_file() and not f.name.startswith("."))


def read_events(path: str | Path):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _scan_row_accums(plan: dict) -> set[int]:
    out = set()
    if plan.get("nodeName", "").startswith("Scan parquet"):
        out |= {m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "number of output rows"}
    for child in plan.get("children", []):
        out |= _scan_row_accums(child)
    return out


def parse(events) -> EventLog:
    log = EventLog()
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            log.executions[e["executionId"]] = Execution(
                e.get("jobGroupId"), e["time"], _scan_row_accums(e["sparkPlanInfo"])
            )
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                ex.scan_row_accums |= _scan_row_accums(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            log.jobs[e["Job ID"]] = Job(
                submit_ms=e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
                group=props.get("spark.jobGroup.id"),
                batch_id=int(batch) if batch is not None else None,
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), Stage())
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
            names = {a.get("Name") for a in info.get("Accumulables", [])}
            st.python = bool(names & _PYTHON_ACCUMS)
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault((e["Stage ID"], e["Stage Attempt ID"]), Stage())
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).lstrip("-").isdigit():
                    log.accums[a["ID"]] = log.accums.get(a["ID"], 0) + int(a["Update"])
    return log


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(
    log: EventLog, t0_ms: float, t1_ms: float, groups: tuple[str, ...] | None = None
) -> dict:
    """Totals over the jobs submitted in [t0_ms, t1_ms], or only those
    whose job group starts with one of ``groups``. Stage intervals are
    clipped to the window for the driver-gap: wall time minus the union of
    the intervals when at least one stage was running."""
    jobs = [
        j
        for j in log.jobs.values()
        if t0_ms <= j.submit_ms <= t1_ms
        and (groups is None or (j.group or "").startswith(groups))
    ]
    stage_ids = {s for j in jobs for s in j.stage_ids}
    stages = [st for (sid, _), st in log.stages.items() if sid in stage_ids and st.tasks]
    intervals = [
        (max(st.submit_ms, t0_ms), min(st.complete_ms, t1_ms))
        for st in stages
        if st.submit_ms is not None and st.complete_ms is not None
    ]
    busy_ms = _union_ms([(a, b) for a, b in intervals if b > a])
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st.tasks for st in stages),
        "executor_run_s": sum(st.run_ms for st in stages) / 1e3,
        "executor_cpu_s": sum(st.cpu_ns for st in stages) / 1e9,
        "python_run_s": sum(st.run_ms for st in stages if st.python) / 1e3,
        "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "spill_bytes": sum(st.spill_bytes for st in stages),
        "driver_gap_s": max(0.0, (t1_ms - t0_ms - busy_ms) / 1e3),
    }


def jobs_per_batch(log: EventLog, t0_ms: float, t1_ms: float) -> float:
    """Mean jobs per streaming micro-batch among jobs in the window. A
    stream's jobs share its run id as job group, so (group, batch) names
    one micro-batch across several streams."""
    batches: dict[tuple, int] = {}
    for j in log.jobs.values():
        if j.batch_id is not None and t0_ms <= j.submit_ms <= t1_ms:
            key = (j.group, j.batch_id)
            batches[key] = batches.get(key, 0) + 1
    return sum(batches.values()) / len(batches) if batches else 0.0


def scan_rows(log: EventLog, group: str, t0_ms: float, t1_ms: float) -> int:
    """Rows output by the Parquet scans of the SQL executions of job group
    ``group`` that started in the window (rows read after pushdown)."""
    ids = set()
    for ex in log.executions.values():
        if ex.group == group and t0_ms <= ex.start_ms <= t1_ms:
            ids |= ex.scan_row_accums
    return sum(log.accums.get(i, 0) for i in ids)
