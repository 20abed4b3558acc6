"""Per-layer numbers from a Spark event log.

The traced run starts its session with an uncompressed, non-rolling
event log and sets a job group around each operation from the
benchmark's own code. ``parse`` reads that log into jobs and stages, and
``op_metrics`` turns the jobs and stages of one operation's job groups
into its per-layer counts and times.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    group: str | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    task_ms: list[int] = field(default_factory=list)


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)


def parse(path: str) -> Log:
    """Read the events the benchmark needs; every other event is skipped."""
    log = Log()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                log.jobs[e["Job ID"]] = Job(group, e["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                log.stages.setdefault(key, Stage()).group = group
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stages.setdefault((e["Stage ID"], e["Stage Attempt ID"]), Stage()), e)
    return log


def _add_task(stage: Stage, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    info = e["Task Info"]
    stage.tasks += 1
    stage.task_ms.append(info["Finish Time"] - info["Launch Time"])
    stage.run_ms += m.get("Executor Run Time", 0)
    stage.cpu_ns += m.get("Executor CPU Time", 0)
    stage.gc_ms += m.get("JVM GC Time", 0)
    stage.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    stage.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    stage.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    stage.input_bytes += inp.get("Bytes Read", 0)
    stage.input_records += inp.get("Records Read", 0)


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by the union of half-open ``(start, end)``
    intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def skew(task_ms: list[int]) -> float:
    """Max over median task time; 1.0 for a stage with fewer than two
    tasks or a zero median."""
    if len(task_ms) < 2:
        return 1.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def op_metrics(log: Log, groups: set[str], wall_s: float) -> dict[str, float]:
    """Per-layer numbers of one operation: the jobs and stages whose job
    group is in ``groups``, and the operation's wall time in seconds."""
    jobs = [j for j in log.jobs.values() if j.group in groups]
    stages = [s for s in log.stages.values() if s.group in groups]
    covered_s = union_ms([(j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None]) / 1e3
    scan = [s for s in stages if s.input_bytes > 0]
    mb = 1e6
    return {
        "plans.jobs": len(jobs),
        "plans.stages": len(stages),
        "plans.tasks": sum(s.tasks for s in stages),
        "plans.driver_gap_s": max(wall_s - covered_s, 0.0),
        "sources.input_mb": sum(s.input_bytes for s in stages) / mb,
        "sources.input_rows": sum(s.input_records for s in scan),
        "sources.scan_task_s": sum(s.run_ms for s in scan) / 1e3,
        "operators.task_s": sum(s.run_ms for s in stages) / 1e3,
        "operators.cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "operators.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "operators.spill_mb": sum(s.spill_bytes for s in stages) / mb,
        "operators.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / mb,
        "operators.shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / mb,
        "operators.task_skew": max((skew(s.task_ms) for s in stages), default=1.0),
    }
