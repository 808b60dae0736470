#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <initial_sync|incremental_sync|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed`` into a
fresh temp root under ``.perfbench_tmp/`` which is removed on exit. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it are a readable
report, including the workload-specific figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGINGS = 3  # set-up repeats per run; setup_s uses their median
TRACE_DIR = ".perfbench_traces"  # spans of traced runs, one JSON file each


def session_conf(tmp: str, trace: bool) -> dict[str, str]:
    """Fit the package's session to this host through ``extra_conf``."""
    conf = {
        # a fixed heap keeps the JVM's resident size from depending on when
        # G1 chose to grow it, so peak_rss_mb repeats from run to run
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out = sys.stdout
    sys.stdout = sys.stderr  # the package's progress lines stay off stdout

    tmp = os.path.abspath(os.path.join(
        ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(os.path.join(tmp, "tmp"))
    os.makedirs(os.path.join(tmp, "eventlog"))
    # Python workers import the package and the benchmark's modules; every
    # temp file of this process and its children lands under tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]
    try:
        return run(args, tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(".perfbench_tmp")
        except OSError:
            pass


def run(args, tmp: str, out) -> int:
    import layers
    import procstat
    from spans import Tracer
    from workloads import WORKLOADS

    from databricks_import_pyspark_scripts_spark.session import get_spark

    cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    conf = session_conf(tmp, bool(args.trace))
    sampler = procstat.RssSampler()
    sampler.active.set()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{nproc}]",
                      extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer() if args.trace else None
    wl = cls(spark, tmp, args.seed)
    ops: list[dict] = []
    failed_ops = 0
    try:
        stage_s = []
        for attempt in range(STAGINGS):
            t0 = time.perf_counter()
            if tracer is not None:
                with tracer.span("stage"):
                    layers.install(tracer, wl)
                    try:
                        wl.stage(attempt)
                    finally:
                        tracer.unwrap()
            else:
                wl.stage(attempt)
            stage_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = wl.warm()
        warm_s = warm if warm is not None else time.perf_counter() - t0
        setup_s = session_s + statistics.median(stage_s) + warm_s

        busy_s = 0.0
        n = 0
        while busy_s < args.seconds:
            # traced runs alternate wrapped and bare operations, so the
            # wrappers' own cost can be read off the same session
            wrapped = tracer is not None and n % 2 == 0
            if wrapped:
                tracer.op = f"op-{n}"
                layers.install(tracer, wl)
            c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
            try:
                res = wl.op(n)
            except Exception as err:  # noqa: BLE001 — a raised error is a failed op
                wl.problems.append(f"op {n}: {type(err).__name__}: {err}")
                failed_ops += 1
                res = None
            finally:
                if wrapped:
                    tracer.unwrap()
            busy_s += time.perf_counter() - t0
            op_cpu = procstat.tree_cpu_s() - c0
            wl.attempted += 1
            if res is not None:
                res["wrapped"] = wrapped
                res["cpu_s"] = op_cpu
                ops.append(res)
            n += 1
            if failed_ops > 2:
                break
        sampler.sample()
        sampler.active.clear()
        wl.check()
    finally:
        sampler.close()
        stop_spark(spark)

    # raised errors and failed checks are both in wl.problems
    failed = min(len(wl.problems), wl.attempted)
    summary = wl.summary(ops) if ops else {"op_s_p50": 0.0, "report": {}, "layers": {}}
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (summary["op_s_p50"], "s"),
        "cpu_s_per_op": (statistics.median(o["cpu_s"] for o in ops) if ops else 0.0, "CPU-s"),
        "peak_rss_mb": (sampler.peak_mb, "MB"),
    }
    lines = [f"workload {args.workload} seed {args.seed}: {len(ops)} "
             f"{cls.op_label}s in {busy_s:.2f}s on local[{nproc}]",
             f"session conf: {json.dumps(conf, sort_keys=True)}",
             f"setup: session {session_s:.3f}s, staging median of "
             f"{[round(s, 3) for s in stage_s]}, warm-up {warm_s:.3f}s",
             f"per {cls.op_label}: s {[round(o['s'], 3) for o in ops]}, "
             f"CPU-s {[round(o['cpu_s'], 2) for o in ops]}"]
    lines += [f"{k} = {v:.6g} {u}" if isinstance(v, float) else f"{k} = {v} {u}"
              for k, (v, u) in {**e2e, **summary["report"]}.items()]
    for p in wl.problems:
        lines.append(f"FAILED CHECK: {p}")
    lines.append(f"correctness {args.workload}: "
                 f"{'PASS' if not wl.problems else 'FAIL'} "
                 f"({len(wl.problems)} failed of {wl.attempted} attempted)")
    if args.trace:
        per_layer = layers.collect(tracer, wl, ops, summary, session_s,
                                   os.path.join(tmp, "eventlog"))
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in per_layer.items()}
        lines += [f"{k} = {v:.6g} {layers.UNITS[k]}" for k, v in per_layer.items()]
        self_s = tracer.self_times()
        lines.append("span self time, s: " + json.dumps(
            {k: round(v, 4) for k, v in sorted(self_s.items(), key=lambda kv: -kv[1])}))
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{args.workload}-{args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"spans": tracer.dump(), "self_s": self_s}, f)
        lines.append(f"spans written to {path}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for line in lines:
        print(line, file=out)
    print(json.dumps({"correct": not wl.problems, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
