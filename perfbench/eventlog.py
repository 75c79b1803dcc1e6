"""Per-job-group Spark metrics from an uncompressed Spark event log.

The benchmark's traced run starts Spark with ``spark.eventLog.enabled``,
``spark.eventLog.compress=false`` and rolling off, and tags every phase of
every op with ``setJobGroup``.  This module reads the finished log (one
JSON object per line) and totals the task-end metrics per job group.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

_GROUP = "spark.jobGroup.id"


def _new_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_read_b": 0,
        "shuffle_write_b": 0,
        "spill_b": 0,
        "stage_task_ms": defaultdict(list),
    }


def read_groups(log_dir: str) -> dict[str, dict]:
    """Return ``{job group: totals}`` for every tagged group in the one
    application log under ``log_dir``.  ``stage_task_ms`` maps each stage
    id to the executor run times of its finished tasks."""
    logs = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    with logs[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP)
                if group is None:
                    continue
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(_GROUP)
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = groups[group]
                g["tasks"] += 1
                g["run_ms"] += m["Executor Run Time"]
                g["cpu_ns"] += m["Executor CPU Time"]
                g["gc_ms"] += m["JVM GC Time"]
                rd = m["Shuffle Read Metrics"]
                g["shuffle_read_b"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                g["shuffle_write_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                g["spill_b"] += m["Disk Bytes Spilled"]
                g["stage_task_ms"][ev["Stage ID"]].append(m["Executor Run Time"])
    return dict(groups)


def task_skew(stage_task_ms: dict[int, list[int]], min_task_ms: int = 100) -> float:
    """Largest max/median executor run time over the stages that ran at
    least two tasks, the longest taking ``min_task_ms`` or more; stages of
    millisecond tasks cannot hold up an op.  1.0 when no stage qualifies."""
    worst = 1.0
    for times in stage_task_ms.values():
        if len(times) >= 2 and max(times) >= min_task_ms:
            worst = max(worst, max(times) / max(statistics.median(times), 1))
    return worst
