"""Reduce an uncompressed, non-rolling Spark event log to per-job-group totals.

The benchmark tags every call with a job group (``SparkContext.setJobGroup``)
and keeps the wall-clock window of each call. This module reads the JSON-lines
event log Spark writes with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` and answers, per group: how many jobs
and tasks ran, when each job was busy, and what the tasks spent (run time, CPU,
GC, shuffle bytes written, spill). Stages are attributed through the job group
in their own ``SparkListenerStageSubmitted`` properties, so tasks of AQE and
broadcast stages land with the call that caused them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    # (submission, completion) of each job, epoch seconds.
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def read_groups(path: str) -> dict[str, GroupTotals]:
    """Per job group totals from one event log file."""
    groups: dict[str, GroupTotals] = {}
    job_start: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                if group is not None:
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
                    groups.setdefault(group, GroupTotals()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                started = job_start.pop(ev["Job ID"], None)
                if started is not None:
                    group, t0 = started
                    groups[group].job_spans.append((t0, ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if group is None or metrics is None:
                    continue
                g = groups.setdefault(group, GroupTotals())
                g.tasks += 1
                g.task_run_s += metrics["Executor Run Time"] / 1e3
                g.task_cpu_s += metrics["Executor CPU Time"] / 1e9
                g.gc_s += metrics["JVM GC Time"] / 1e3
                g.shuffle_mb += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                g.spill_mb += metrics["Disk Bytes Spilled"] / 1e6
    return groups


def busy_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
