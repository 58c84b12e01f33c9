"""Offline parse of a Spark event log, grouped by job group.

The benchmark runs every op under its own job group (``op<N>``), so
each job, stage and task in the log can be charged to one op.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _new() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks_started": 0,
        "tasks": 0,
        "task_cpu_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "gc_s": 0.0,
        "tasks_without_metrics": 0,
    }


def parse(log_dir: str) -> dict[str, dict]:
    """Return job group -> counters over every event-log file in
    ``log_dir``. Tasks that started but never reported an end, or ended
    without metrics, make that group's task metrics incomplete."""
    stage_group: dict[tuple[str, int], str] = {}
    groups: dict[str, dict] = defaultdict(_new)
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files)
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(path, sid)] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get((path, ev["Stage Info"]["Stage ID"]))
                    if group is not None:
                        groups[group]["stages"] += 1
                elif kind == "SparkListenerTaskStart":
                    group = stage_group.get((path, ev["Stage ID"]))
                    if group is not None:
                        groups[group]["tasks_started"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((path, ev["Stage ID"]))
                    if group is None:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    m = ev.get("Task Metrics")
                    if not m:
                        g["tasks_without_metrics"] += 1
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    for g in groups.values():
        g["complete"] = g["tasks"] == g["tasks_started"] and g["tasks_without_metrics"] == 0
    return dict(groups)
