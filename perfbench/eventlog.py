"""Reduce a Spark event log to per-job-group totals.

The benchmark tags every Spark job with a job group naming the pass,
the query and the phase (``<pass>|<query>|build`` or ``...|exec``);
this module sums what those jobs did. The line-filter-then-parse
pattern follows ``scripts/bloom_ab_probe.py:shuffle_bytes_of_app``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# SQL metrics of the Python exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, ...): bytes shipped to and from Python workers
PYTHON_ACCUMULABLES = (
    "data sent to Python workers",
    "data returned from Python workers",
)
_EVENTS = (
    '"SparkListenerJobStart"',
    '"SparkListenerStageCompleted"',
    '"SparkListenerTaskEnd"',
)


def log_files(event_dir: str, app_id: str) -> list[str]:
    """The application's log: one file, or a rolling directory of parts."""
    paths = []
    for p in sorted(glob.glob(os.path.join(event_dir, f"*{app_id}*"))):
        if os.path.isdir(p):
            paths += sorted(glob.glob(os.path.join(p, "events_*")))
        else:
            paths.append(p)
    return paths


def new_totals() -> dict:
    """Zeroed totals of one job group."""
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "first_job_ms": None,
        "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0, "python_bytes": 0, "_python_acc": {},
    }


def reduce_groups(paths: list[str]) -> dict[str, dict]:
    """Job group -> totals of its jobs, stages and tasks. Jobs without a
    group (none are started outside a query) are ignored."""
    out: dict[str, dict] = defaultdict(new_totals)
    stage_group: dict[int, str] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not any(e in line[:64] for e in _EVENTS):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = out[group]
                    g["jobs"] += 1
                    t = ev["Submission Time"]
                    if g["first_job_ms"] is None or t < g["first_job_ms"]:
                        g["first_job_ms"] = t
                    for s in ev["Stage IDs"]:
                        stage_group[s] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    out[group]["stages"] += 1
                    # SQL metrics reach the log only as the stage's
                    # accumulator values; keyed by accumulator id so one
                    # spanning several stages is counted once
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in PYTHON_ACCUMULABLES:
                            out[group]["_python_acc"][acc["ID"]] = int(acc["Value"])
                else:
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
    for g in out.values():
        g["python_bytes"] = sum(g.pop("_python_acc").values())
    return dict(out)
