"""Per-layer totals from an uncompressed Spark event log.

The traced run sets a Spark job group named after a layer before each public
call. This reader maps job group and call site to jobs, jobs to stages, and
stages to the task-metric totals Spark posts when a stage completes. The
scans' ``number of files read`` is a SQL driver metric: its accumulator ids
come from the plan of each SQL execution (AQE re-plans included) and its
values from the driver accumulator updates, and the execution is tied to a
layer through the jobs it ran.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from typing import Callable, Iterable

#: per-layer metric -> (Spark task metric, scale to the reported unit)
TASK_METRICS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "task_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGCTime", 1e-3),
    "shuffle_mb": ("shuffle.write.bytesWritten", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "written_mb": ("output.bytesWritten", 1e-6),
}
FILES_READ = "number of files read"

_SQL = "org.apache.spark.sql.execution.ui."


def event_files(log_dir: str) -> list[str]:
    """Event files below ``log_dir`` (Spark 4 writes
    ``eventlog_v2_<app>/events_<n>_<app>``; older layouts one file per app)."""
    out = []
    for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        base = os.path.basename(p)
        if os.path.isfile(p) and (base.startswith("events_") or base.startswith("local-")):
            out.append(p)
    return sorted(out)


def read_events(paths: Iterable[str]) -> Iterable[dict]:
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still being written


def _plan_metric_ids(plan: dict, name: str, into: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            into.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, into)


def layer_totals(
    events: Iterable[dict],
    classify: Callable[[str | None, str | None], str | None],
    since_ms: float = 0,
) -> dict[str, dict]:
    """Fold events into ``{layer: {jobs, tasks, <TASK_METRICS>, files_read,
    scans, job_s}}``.

    ``classify(job_group, call_site)`` names the layer of a job (None drops
    it). Only jobs submitted at or after ``since_ms`` (epoch milliseconds)
    count, so a warmup before the measured window is excluded.
    """
    job_layer: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    files_ids: set[int] = set()
    files_by_exec: dict[int, dict[int, int]] = defaultdict(dict)
    totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if ev.get("Submission Time", 0) < since_ms:
                continue
            layer = classify(props.get("spark.jobGroup.id"), props.get("callSite.short"))
            if layer is None:
                continue
            jid = ev["Job ID"]
            job_layer[jid] = layer
            job_start[jid] = ev.get("Submission Time", 0)
            totals[layer]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_layer.setdefault(int(eid), layer)
        elif kind == "SparkListenerJobEnd":
            jid = ev.get("Job ID")
            if jid in job_layer:
                totals[job_layer[jid]]["job_s"] += (
                    ev.get("Completion Time", job_start[jid]) - job_start[jid]
                ) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            layer = stage_layer.get(info.get("Stage ID"))
            if layer is None:
                continue
            t = totals[layer]
            t["tasks"] += info.get("Number of Tasks", 0)
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            for metric, (name, scale) in TASK_METRICS.items():
                v = acc.get("internal.metrics." + name)
                if isinstance(v, (int, float)):
                    t[metric] += v * scale
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), FILES_READ, files_ids)
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev.get("sqlPlanMetrics", []):
                if m.get("name") == FILES_READ:
                    files_ids.add(m["accumulatorId"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            # updates are absolute values; keep the last one per accumulator
            for acc_id, value in ev.get("accumUpdates", []):
                files_by_exec[ev["executionId"]][acc_id] = value

    for eid, updates in files_by_exec.items():
        layer = exec_layer.get(eid)
        if layer is None:
            continue
        scans = [v for a, v in updates.items() if a in files_ids]
        totals[layer]["files_read"] += sum(scans)
        totals[layer]["scans"] += len(scans)
    return {layer: dict(t) for layer, t in totals.items()}
