"""Executor totals from a Spark event log.

The traced runs start their Spark driver with ``spark.eventLog.enabled``
(uncompressed) and read the log back once the session has stopped.
"""

from __future__ import annotations

import json
import os

STATS = ("tasks", "cpu_s", "run_s", "shuffle_mb", "spill_mb")


def task_totals(event_dir: str, group_of) -> dict[str, dict[str, float]]:
    """Per group: tasks, executor CPU and run seconds, shuffle MB written
    and MB spilled, over every task of the jobs that ``group_of`` maps to a
    group. ``group_of`` gets each ``SparkListenerJobStart`` event and
    returns a group name, or None for a job that is not counted."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    paths = [os.path.join(d, f) for d, _, files in os.walk(event_dir) for f in sorted(files)]
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue  # rolling-log status files hold no events
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = group_of(ev)
                    if group is not None:
                        out.setdefault(group, dict.fromkeys(STATS, 0.0))
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    o = out[group]
                    o["tasks"] += 1
                    o["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["shuffle_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                    )
                    o["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out


def spark_layer(totals) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics: executor totals summed over the
    given groups."""
    return {
        f"spark.{k}": sum(t[k] for t in totals)
        for k in ("cpu_s", "run_s", "shuffle_mb")
    }
