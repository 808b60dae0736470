"""Fold Spark's JSON event log (``spark.eventLog.compress=false``) into
per-job-group totals. Jobs are keyed on ``spark.jobGroup.id`` from
``SparkListenerJobStart`` properties; tasks inherit the group of the job
that submitted their stage."""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# Python-worker SQL metrics (task accumulables) -> folded field
PYTHON_ACCUMS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.worker_run_s",
}

FIELDS = ("spark.jobs", "spark.tasks", "spark.task_failures",
          "spark.task_queue_s", "spark.executor_cpu_s", "spark.gc_s",
          "spark.input_bytes", "spark.output_bytes",
          "spark.shuffle_write_bytes", "spark.spill_bytes",
          *PYTHON_ACCUMS.values())


def _events(log_dir: str):
    for base, _, files in os.walk(log_dir):
        for name in sorted(files):
            if not name.startswith(("events_", "local-", "app-")):
                continue
            with open(os.path.join(base, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def _metric_types(plan: dict, out: dict[str, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["name"]] = m["metricType"]
    for child in plan.get("children", []):
        _metric_types(child, out)


def fold(log_dir: str) -> dict[str | None, dict[str, float]]:
    """{job group: {field: total}}; jobs outside any group fold under None."""
    groups: dict[str | None, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str | None] = {}
    submitted: dict[tuple[int, int], int] = {}
    types: dict[str, str] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[group]["spark.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info.get("Submission Time") is not None:
                submitted[(info["Stage ID"], info["Stage Attempt ID"])] = \
                    info["Submission Time"]
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            _metric_types(ev.get("sparkPlanInfo") or {}, types)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"])]
            info = ev["Task Info"]
            g["spark.tasks"] += 1
            g["spark.task_failures"] += bool(info.get("Failed"))
            sub = submitted.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            if sub is not None:
                g["spark.task_queue_s"] += max(0, info["Launch Time"] - sub) / 1e3
            m = ev.get("Task Metrics") or {}
            g["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["spark.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            g["spark.shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                field = PYTHON_ACCUMS.get(acc.get("Name"))
                if field is None:
                    continue
                value = float(acc.get("Update") or 0)
                kind_ = types.get(acc["Name"], "size")
                if kind_ == "timing":
                    value /= 1e3
                elif kind_ == "nsTiming":
                    value /= 1e9
                g[field] += value
    return dict(groups)


def total(folded: dict, groups) -> dict[str, float]:
    out = dict.fromkeys(FIELDS, 0.0)
    for g in groups:
        for k, v in folded.get(g, {}).items():
            out[k] += v
    return out
