"""Per-layer metrics for traced runs: where the package's layer functions
are wrapped, and how spans and the folded event log become one number
per layer. Every metric is per operation (export, cycle or pass) unless
its name says otherwise; a layer a workload bypasses reads 0."""

from __future__ import annotations

import statistics

import eventlog
from spans import Tracer

from databricks_import_pyspark_scripts_spark.plans import pipeline
from databricks_import_pyspark_scripts_spark.sinks import delta_writer
from databricks_import_pyspark_scripts_spark.sources import delta_log

# name -> (unit, better)
METRICS = {
    "session.get_spark_s": ("s", "lower"),
    "sources.fetch_data_calls": ("count", "lower"),
    "sources.fetch_data_s": ("s", "lower"),
    "sources.replay_log_calls": ("count", "lower"),
    "sources.replay_log_s": ("s", "lower"),
    "sources.replay_log_commits": ("count", "lower"),
    "operators.filter_data_s": ("s", "lower"),
    "operators.cdc_kept_ratio": ("ratio", "higher"),
    "plans.build_views_s": ("s", "lower"),
    "plans.analyze_s": ("s", "lower"),
    "plans.spark_jobs_per_sync": ("count", "lower"),
    "sinks.write_export_s": ("s", "lower"),
    "sinks.sidecars_s": ("s", "lower"),
    "sinks.merge_into_s": ("s", "lower"),
    "sinks.merge_files_rewritten": ("count", "lower"),
    "sinks.create_delta_table_s": ("s", "lower"),
    "sinks.output_bytes_per_row": ("B/row", "lower"),
    "sinks.commit_bytes_per_row": ("B/row", "lower"),
    "querylib.build_s": ("s", "lower"),
    "querylib.build_jobs": ("count", "lower"),
    "querylib.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_failures": ("count", "lower"),
    "spark.task_queue_s": ("s", "lower"),
    "spark.executor_cpu_s": ("CPU-s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.output_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "python.bytes_to_worker": ("B", "lower"),
    "python.bytes_from_worker": ("B", "lower"),
    "python.worker_start_s": ("s", "lower"),
    "python.worker_init_s": ("s", "lower"),
    "python.worker_run_s": ("s", "lower"),
    "trace.op_s_p50": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}
UNITS = {k: u for k, (u, _) in METRICS.items()}

_SIDECARS = ("write_meta_data", "write_json_sidecar", "write_text_sidecar")


def install(tracer: Tracer, wl) -> None:
    """Wrap each layer function where its caller looks it up."""
    tracer.wrap(pipeline, "run_unload", "plans.run_unload")
    tracer.wrap(pipeline, "build_views_for_tables", "plans.build_views")
    tracer.wrap(pipeline, "fetch_data", "sources.fetch_data")
    tracer.wrap(pipeline, "filter_data", "operators.filter_data")
    tracer.wrap(pipeline, "write_export", "sinks.write_export")
    for fn in _SIDECARS:
        tracer.wrap(pipeline, fn, "sinks.sidecar")
    tracer.wrap(delta_log, "replay_log", "sources.replay_log")
    tracer.wrap(delta_writer, "replay_log", "sources.replay_log")

    def commit_read(sp, args, kwargs, result):
        path = args[1] if len(args) > 1 else kwargs.get("path", "")
        parent = tracer.spans[sp.parent].name if sp.parent is not None else None
        if parent == "sources.replay_log" and str(path).endswith(".json"):
            sp.detail = {"commit": 1}

    tracer.wrap(delta_log, "_read_bytes", "sources.read_log", commit_read)
    tracer.wrap(delta_writer, "merge_into", "sinks.merge_into")
    tracer.wrap(delta_writer, "create_delta_table", "sinks.create_delta_table")
    if not wl.unloads:
        tracer.wrap(wl, "_build", "querylib.build")
        tracer.wrap(wl, "_exec", "querylib.exec")


def _analyze_gaps(tracer: Tracer) -> float:
    """Per run_unload: from build_views_for_tables returning to write_export
    being called (SQL parse, analysis and the observe wrapper)."""
    total = 0.0
    for i, sp in enumerate(tracer.spans):
        if sp.name != "plans.run_unload":
            continue
        kids = [c for c in tracer.spans if c.parent == i]
        views = [c.end for c in kids if c.name == "plans.build_views"]
        writes = [c.start for c in kids if c.name == "sinks.write_export"]
        if views and writes:
            total += min(writes) - max(views)
    return total


def collect(tracer: Tracer, wl, ops: list[dict], summary: dict,
            session_s: float, log_dir: str) -> dict[str, float]:
    wrapped = [o for o in ops if o["wrapped"]] or [{"s": 0.0}]
    bare = [o for o in ops if not o["wrapped"]]
    n_wrapped = len(wrapped)
    timed = [s for s in tracer.spans if s.op]  # spans of wrapped operations

    def per_op(name: str) -> float:
        return sum(s.end - s.start for s in timed if s.name == name) / n_wrapped

    def calls(name: str) -> float:
        return sum(1 for s in timed if s.name == name) / n_wrapped

    creates = [s.end - s.start for s in tracer.spans
               if s.name == "sinks.create_delta_table"]
    folded = eventlog.fold(log_dir)
    n_ops = max(1, len(ops))
    op_groups = [g for g in folded if g and g.startswith(("op-", "commit-", "build-"))]
    spark = {k: v / n_ops for k, v in eventlog.total(folded, op_groups).items()}
    sync_jobs = sum(folded[g]["spark.jobs"] for g in folded
                    if wl.unloads and g and g.startswith("op-"))
    build_jobs = sum(folded[g]["spark.jobs"] for g in folded
                     if g and g.startswith("build-"))
    merges = [s.end - s.start for s in timed if s.name == "sinks.merge_into"]
    t_wrapped = statistics.median(o["s"] for o in wrapped)
    t_bare = statistics.median(o["s"] for o in bare) if bare else t_wrapped
    out = {
        "session.get_spark_s": session_s,
        "sources.fetch_data_calls": calls("sources.fetch_data"),
        "sources.fetch_data_s": per_op("sources.fetch_data"),
        "sources.replay_log_calls": calls("sources.replay_log"),
        "sources.replay_log_s": per_op("sources.replay_log"),
        "sources.replay_log_commits": sum(
            1 for s in timed if s.detail and s.detail.get("commit")) / n_wrapped,
        "operators.filter_data_s": per_op("operators.filter_data"),
        "operators.cdc_kept_ratio": summary["layers"].get("operators.cdc_kept_ratio", 0.0),
        "plans.build_views_s": per_op("plans.build_views"),
        "plans.analyze_s": _analyze_gaps(tracer) / n_wrapped,
        "plans.spark_jobs_per_sync": sync_jobs / n_ops,
        "sinks.write_export_s": per_op("sinks.write_export"),
        "sinks.sidecars_s": per_op("sinks.sidecar"),
        "sinks.merge_into_s": statistics.mean(merges) if merges else 0.0,
        "sinks.merge_files_rewritten": summary["layers"].get("sinks.merge_files_rewritten", 0.0),
        "sinks.create_delta_table_s": statistics.median(creates) if creates else 0.0,
        "sinks.output_bytes_per_row": summary["layers"].get("sinks.output_bytes_per_row", 0.0),
        "sinks.commit_bytes_per_row": summary["layers"].get("sinks.commit_bytes_per_row", 0.0),
        "querylib.build_s": per_op("querylib.build"),
        "querylib.build_jobs": build_jobs / n_ops,
        "querylib.exec_s": per_op("querylib.exec"),
        **spark,
        "trace.op_s_p50": t_wrapped,
        "trace.overhead_pct": 100.0 * (t_wrapped - t_bare) / t_bare if t_bare else 0.0,
    }
    return {k: float(out[k]) for k in METRICS}
