"""Spark event-log parser for the traced run.

The traced run enables ``spark.eventLog`` and tags each operation's jobs
with ``setJobGroup(<op id>)``.  This module reads the log back and rolls
task metrics up per operation, so each request type, registry family and
phase gets its jobs, tasks, executor time and the driver gap: the part of
the operation's wall time during which none of its tasks ran.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

# SQL plan nodes that cross the JVM/Python boundary.
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


@dataclass
class Totals:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    python_bytes: int = 0
    intervals: list = field(default_factory=list)  # task (launch, finish) ms
    first_job_ms: float = float("inf")  # submission time of the first job

    def add(self, other: Totals) -> None:
        for k, v in vars(other).items():
            if k not in ("intervals", "first_job_ms"):
                setattr(self, k, getattr(self, k) + v)
        self.intervals.extend(other.intervals)
        self.first_job_ms = min(self.first_job_ms, other.first_job_ms)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """accumulator id -> metric type for every metric of a Python node."""
    if any(m in plan.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            out[metric["accumulatorId"]] = metric.get("metricType", "sum")
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def parse(path: str) -> dict[str | None, Totals]:
    """Per job group (``None`` for untagged jobs), the summed task metrics.
    Micro-batch jobs of a streaming query carry the query's run id as
    their group, whatever group the starting thread had."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    py_acc: dict[int, str] = {}
    groups: dict[str | None, Totals] = defaultdict(Totals)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                groups[group].jobs += 1
                groups[group].first_job_ms = min(
                    groups[group].first_job_ms, ev.get("Submission Time", float("inf"))
                )
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                t = groups[stage_group.get(ev.get("Stage ID"))]
                t.tasks += 1
                t.intervals.append((info.get("Launch Time", 0), info.get("Finish Time", 0)))
                t.task_run_s += m.get("Executor Run Time", 0) / 1e3
                t.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                t.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in info.get("Accumulables", []):
                    mtype = py_acc.get(acc.get("ID"))
                    if mtype is None:
                        continue
                    try:
                        update = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    if mtype == "nsTiming":
                        t.python_s += update / 1e9
                    elif mtype == "timing":
                        t.python_s += update / 1e3
                    elif mtype == "size":
                        t.python_bytes += int(update)
    return dict(groups)


def covered_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def driver_gap_s(totals: Totals, start_ms: float, end_ms: float) -> float:
    """Wall time of an operation during which none of its tasks ran."""
    return max(0.0, (end_ms - start_ms) - covered_ms(totals.intervals, start_ms, end_ms)) / 1e3


def find_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
