"""Execution-layer counts from a Spark event log (traced runs only).

Jobs are attributed to the job group the benchmark set around each query
phase (``pass<p>:<query>:<phase>``); ``keep`` selects the groups to sum.
Python-worker rows and bytes come from the SQL metrics of plan nodes that
report "data sent to Python workers".
"""

from __future__ import annotations

import glob
import json
import os

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _python_nodes(plan: dict, acc: dict) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics:
        for name, key in ((PY_SENT, "python.bytes_sent"),
                          (PY_RECEIVED, "python.bytes_received"),
                          ("number of output rows", "python.rows")):
            if name in metrics:
                acc[metrics[name]] = key
    for child in plan.get("children", []):
        _python_nodes(child, acc)


def read(eventlog_dir: str, keep=lambda group: True) -> dict:
    """Totals over the jobs whose group passes ``keep``."""
    paths = sorted(p for p in glob.glob(os.path.join(eventlog_dir, "**"),
                                        recursive=True) if os.path.isfile(p))
    events = []
    for path in paths:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    stage_group: dict[int, str] = {}
    group_jobs: dict[str, int] = {}
    python_acc: dict[int, str] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            group_jobs[group] = group_jobs.get(group, 0) + 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _python_nodes(ev["sparkPlanInfo"], python_acc)

    out = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "exec.executor_run_s",
        "exec.executor_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "python.rows",
        "python.bytes_sent", "python.bytes_received", "cache.entries_added")}
    out["spark.jobs"] = sum(n for g, n in group_jobs.items() if keep(g))
    out["registry.construct_jobs"] = sum(
        n for g, n in group_jobs.items() if keep(g) and g.endswith(":construct"))
    cached_rdds: set[int] = set()
    acc_max: dict[int, float] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            if not keep(stage_group.get(ev["Stage ID"], "")):
                continue
            m = ev.get("Task Metrics") or {}
            out["spark.tasks"] += 1
            out["exec.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["exec.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                               + sr.get("Local Bytes Read", 0))
            out["exec.shuffle_write_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            out["exec.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if not keep(stage_group.get(info["Stage ID"], "")):
                continue
            out["spark.stages"] += 1
            for rdd in info.get("RDD Info", []):
                level = rdd.get("Storage Level") or {}
                if level.get("Use Memory") or level.get("Use Disk"):
                    cached_rdds.add(rdd["RDD ID"])
            for a in info.get("Accumulables", []):
                if a["ID"] in python_acc:
                    acc_max[a["ID"]] = max(acc_max.get(a["ID"], 0.0), float(a["Value"]))
    for acc_id, value in acc_max.items():
        out[python_acc[acc_id]] += value
    out["cache.entries_added"] = len(cached_rdds)
    return out
