"""Per-job-group totals from a Spark event log.

The traced run enables ``spark.eventLog.enabled`` and tags every timed
leg with a job group.  After the session stops, this module reads the
log files once and sums task metrics and SQL metrics per group, so the
per-layer numbers cost no extra Spark job.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# SQL metric display names (Spark 4.1) of the Python-worker metrics
# that Spark's UI labels pythonTotalTime / pythonBootTime /
# pythonDataSent.
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"

# metric types whose raw values are not already in the unit we report
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class GroupTotals:
    """Task-level totals for one job group."""

    def __init__(self) -> None:
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.sql: dict[str, float] = defaultdict(float)
        # executor run time of every task, by stage
        self.task_run_s: dict[int, list[float]] = defaultdict(list)

    def skew(self) -> float:
        """Max over median task run time in the group's widest stage."""
        if not self.task_run_s:
            return 0.0
        widest = max(self.task_run_s.values(), key=len)
        med = statistics.median(widest)
        return max(widest) / med if med > 0 else 0.0


def _walk_plan(info: dict, metric_types: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        metric_types[int(m["accumulatorId"])] = (m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, metric_types)


def _events(log_dir: Path):
    # Spark 4 writes a rolling directory (eventlog_v2_<app>/events_N_*)
    for f in sorted(log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1])):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def group_totals(log_dir: Path) -> dict[str, GroupTotals]:
    """Sum the task metrics of every job group found in ``log_dir``."""
    stage_group: dict[int, str] = {}
    metric_types: dict[int, tuple[str, str]] = {}
    totals: dict[str, GroupTotals] = defaultdict(GroupTotals)
    task_ends = []
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e["sparkPlanInfo"], metric_types)
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(e)
    # task ends are resolved after the whole log is read: an adaptive
    # plan update can name an accumulator after its first task reported
    for e in task_ends:
        group = stage_group.get(e["Stage ID"])
        if group is None:
            continue
        g = totals[group]
        tm = e.get("Task Metrics") or {}
        g.cpu_s += tm.get("Executor CPU Time", 0) * 1e-9
        g.gc_s += tm.get("JVM GC Time", 0) * 1e-3
        g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g.task_run_s[e["Stage ID"]].append(tm.get("Executor Run Time", 0) * 1e-3)
        for acc in e["Task Info"].get("Accumulables", []):
            named = metric_types.get(int(acc["ID"]))
            if named is None:
                continue
            name, mtype = named
            g.sql[name] += float(acc.get("Update") or 0) * _TIME_SCALE.get(mtype, 1.0)
    return dict(totals)
