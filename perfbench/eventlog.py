"""Per-layer metrics from a Spark event log.

The benchmark tags every call it makes with ``sc.setJobGroup("<layer>@<pass>")``.
This module reads the uncompressed JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and folds jobs and tasks into those groups:
``SparkListenerJobStart`` carries the group in ``Properties`` and the stage
ids it runs; ``SparkListenerTaskEnd`` carries the stage id and the task's
``Task Metrics``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

MB = 1 << 20


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    job_spans: list = field(default_factory=list)  # [submit_ms, end_ms]
    stage_run_ms: dict = field(default_factory=dict)  # stage id -> [task run ms]


def parse(lines) -> dict[str, GroupStats]:
    """Group id -> stats, from the event log's lines."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            st = groups.setdefault(gid, GroupStats())
            st.jobs += 1
            job_group[ev["Job ID"]] = gid
            job_submit[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev["Stage IDs"]:
                stage_group[sid] = gid
        elif kind == "SparkListenerJobEnd":
            gid = job_group.get(ev["Job ID"])
            if gid is not None:
                groups[gid].job_spans.append((job_submit[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if gid is None or m is None:
                continue
            st = groups[gid]
            st.tasks += 1
            run = m["Executor Run Time"]
            st.task_run_ms += run
            st.task_cpu_ns += m["Executor CPU Time"]
            st.gc_ms += m["JVM GC Time"]
            rd = m["Shuffle Read Metrics"]
            st.shuffle_read_b += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            st.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.spill_b += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            st.stage_run_ms.setdefault(ev["Stage ID"], []).append(run)
    return groups


def _covered_ms(spans) -> int:
    """Length of the union of [start, end] intervals."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(st: GroupStats, wall_s: float, slots: int) -> dict[str, float]:
    """The twelve per-layer metrics of one layer in one pass."""
    skew = 0.0
    if st.stage_run_ms:
        runs = max(st.stage_run_ms.values(), key=sum)
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
    run_s = st.task_run_ms / 1e3
    return {
        "wall_s": wall_s,
        "jobs": st.jobs,
        "tasks": st.tasks,
        "task_run_s": run_s,
        "task_cpu_s": st.task_cpu_ns / 1e9,
        "gc_s": st.gc_ms / 1e3,
        "shuffle_read_mb": st.shuffle_read_b / MB,
        "shuffle_write_mb": st.shuffle_write_b / MB,
        "spill_mb": st.spill_b / MB,
        "driver_s": max(0.0, wall_s - _covered_ms(st.job_spans) / 1e3),
        "slot_util": run_s / (wall_s * slots) if wall_s > 0 else 0.0,
        "task_skew": skew,
    }
