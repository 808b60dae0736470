"""The workloads. Each drives the package only through its public
functions: ``plans.pipeline.run_unload``, ``sinks.delta_writer`` and the
``querylib`` registry. A workload stages its inputs, warms up, then runs
one operation at a time (a closed loop with one client); its outputs are
checked after the timed window."""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

from databricks_import_pyspark_scripts_spark import querylib
from databricks_import_pyspark_scripts_spark.plans import pipeline
from databricks_import_pyspark_scripts_spark.sinks import delta_writer
from databricks_import_pyspark_scripts_spark.sources import delta_log

LOG_DIR = "_delta_log"


def _dir_bytes(path: str, pattern: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, pattern)))


def tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n); the maximum when there are fewer than 11."""
    n = len(samples)
    s = sorted(samples)
    if n < 11:
        return s[-1], 100, n
    pct = int((n - 10) * 100 // n)
    return s[max(0, int(np.ceil(pct / 100 * n)) - 1)], pct, n


class Workload:
    name = ""
    op_label = "op"
    unloads = True  # each operation runs run_unload

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.problems: list[str] = []
        self.attempted = 0

    def group(self, gid: str) -> None:
        """Every Spark job an operation runs carries its job group, so the
        event log can be folded per operation."""
        self.spark.sparkContext.setJobGroup(gid, gid)

    def stage_dir(self, attempt: int) -> str:
        d = os.path.join(self.root, f"stage{attempt}")
        os.makedirs(d)
        return d


def create_events_table(spark, d: str, rng, rows: int, files: int) -> str:
    """Generate ``rows`` events as ``files`` Parquet files and commit them
    as version 0 of a CDF-enabled Delta table at ``<d>/events``."""
    tb = gen.events_table(rng, rows, n_users=15_000)
    src = os.path.join(d, "src")
    os.makedirs(src)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(tb.slice(i * step, step), os.path.join(src, f"part-{i}.parquet"))
    df = spark.read.parquet(src)
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    table = os.path.join(d, "events")
    delta_writer.create_delta_table(spark, df, table, cdf=True)
    return table


# ---------------------------------------------------------------------------

INCREMENTAL_SQL = """
    SELECT event_id, user_id, unix_millis(ts) AS time,
           named_struct('event_type', event_type, 'value', value,
                        'props', props) AS user_properties
    FROM events
"""


class IncrementalSync(Workload):
    """Cycles of one MERGE commit (mostly updates, some inserts) and one
    incremental USER_PROPERTY export to JSON over the last ``WINDOW``
    versions."""

    name = "incremental_sync"
    op_label = "cycle"
    ROWS = 200_000
    FILES = 8
    BATCH = 2_000
    INSERT_SHARE = 0.1
    HOT_IDS = 20_000  # updates hit the newest ids, as recent users change most
    WINDOW = 2

    def stage(self, attempt: int) -> None:
        d = self.stage_dir(attempt)
        self.rng = np.random.default_rng(self.seed)
        self.table = create_events_table(self.spark, d, self.rng, self.ROWS, self.FILES)
        self.source_root = d
        self.ledger = gen.MergeLedger(next_id=self.ROWS)
        self.version = 0
        self.syncs: list[tuple[str, int, int, dict]] = []

    def _merge(self) -> int:
        batch = gen.merge_batch(self.rng, self.ledger, self.version + 1,
                                self.BATCH, self.INSERT_SHARE, self.HOT_IDS)
        src = self.spark.createDataFrame(batch.to_pandas())
        src = src.withColumn("ts", src["ts"].cast("timestamp"))
        cols = [c for c in batch.column_names if c != "event_id"]
        v = delta_writer.merge_into(
            self.spark, self.table, src, on=["event_id"],
            when_matched_update={c: f"s.{c}" for c in cols})
        if v != self.version + 1:
            raise RuntimeError(f"merge committed version {v}, expected {self.version + 1}")
        self.version = v
        return v

    def _sync(self, out: str) -> tuple[dict, int]:
        start = max(1, self.version - self.WINDOW)
        job = pipeline.UnloadJob(
            source_root=self.source_root,
            table_versions={"events": [start, self.version]},
            sql=INCREMENTAL_SQL, output_path=out, data_type="USER_PROPERTY",
            fmt="json")
        return pipeline.run_unload(self.spark, job), start

    def warm(self) -> None:
        self.group("warm")
        for _ in range(self.WINDOW):
            self._merge()
        self._sync(os.path.join(self.root, "warm"))
        shutil.rmtree(os.path.join(self.root, "warm"))

    def op(self, n: int) -> dict:
        self.group(f"commit-{n}")
        t0 = time.perf_counter()
        v = self._merge()
        t1 = time.perf_counter()
        out = os.path.join(self.root, "out", f"sync-{n}")
        self.group(f"op-{n}")
        report, start = self._sync(out)
        t2 = time.perf_counter()
        self.syncs.append((out, start, v, report))
        log = os.path.join(self.table, LOG_DIR, f"{v:020d}.json")
        with open(log) as fh:
            acts = [json.loads(line) for line in fh if line.strip()]
        added = sum(a[k]["size"] for a in acts for k in ("add", "cdc") if k in a)
        # a version's change feed holds a pre- and a post-image per update
        # and one row per insert
        inserts = int(round(self.BATCH * self.INSERT_SHARE))
        scanned = (v - start) * (2 * self.BATCH - inserts)
        return {"s": t2 - t1, "commit_s": t1 - t0, "rows": report["rows"],
                "bytes": _dir_bytes(out, "*.json"),
                "commit_bytes": added + os.path.getsize(log),
                "files_rewritten": sum(1 for a in acts if "remove" in a),
                "change_rows": scanned}

    def check(self) -> None:
        con = duckdb.connect()
        for out, start, end, report in self.syncs:
            want = self.ledger.expected_ids(start, end)
            files = glob.glob(f"{out}/*.json")
            got = np.sort(np.array(
                [r[0] for r in con.execute(
                    f"SELECT event_id FROM read_json_auto({files!r})").fetchall()],
                dtype=np.int64)) if files else np.array([], np.int64)
            if report["rows"] != len(want) or not np.array_equal(got, want):
                self.problems.append(
                    f"sync ({start}, {end}]: exported {report['rows']} rows / "
                    f"{len(got)} ids, ledger expects {len(want)}")
            shutil.rmtree(out)
        final = delta_log.read_delta_snapshot(self.spark, self.table).count()
        if final != self.ROWS + self.ledger.inserted:
            self.problems.append(f"final snapshot {final} rows, expected "
                                 f"{self.ROWS + self.ledger.inserted}")

    def summary(self, ops: list[dict]) -> dict:
        syncs = [o["s"] for o in ops]
        p50 = statistics.median(syncs)
        t, pct, n = tail(syncs)
        rows = sum(o["rows"] for o in ops)
        scanned = sum(o["change_rows"] for o in ops)
        return {
            "op_s_p50": p50,
            "report": {
                "sync_s_p50": (p50, "s"),
                f"sync_s_tail[p{pct},n={n}]": (t, "s"),
                "commit_s_p50": (statistics.median(o["commit_s"] for o in ops), "s"),
                "export_rows_per_s": (statistics.median(o["rows"] for o in ops) / p50, "rows/s"),
                "output_bytes_per_row": (sum(o["bytes"] for o in ops) / rows, "B/row"),
                "commit_bytes_per_row": (
                    sum(o["commit_bytes"] for o in ops) / (self.BATCH * len(ops)), "B/row"),
                f"cdc_kept_ratio[{rows} of {scanned} change rows]": (rows / scanned, "ratio"),
            },
            "layers": {
                "sinks.output_bytes_per_row": sum(o["bytes"] for o in ops) / rows,
                "sinks.commit_bytes_per_row":
                    sum(o["commit_bytes"] for o in ops) / (self.BATCH * len(ops)),
                "sinks.merge_files_rewritten":
                    statistics.mean(o["files_rewritten"] for o in ops),
                "operators.cdc_kept_ratio": rows / scanned,
            },
        }


# ---------------------------------------------------------------------------

MIX = {
    "relational": ["q1_pricing_summary", "window_topk_per_group",
                   "agg_distinct_counts", "asof_join_last_purchase",
                   "scalar_json_extraction"],
    "python_arrow": ["pandas_udf_sigmoid", "text_quality_score",
                     "multimodal_image_features"],
    "driver_build": ["text_bm25_search"],
}


class QueryMix(Workload):
    """Passes over a fixed set of read-only gates in a seed-shuffled order.
    Each gate writes to Spark's ``noop`` sink so every output column is
    computed (``count()`` would let column pruning drop projected work)."""

    name = "query_mix"
    op_label = "pass"
    unloads = False
    SF = 0.02

    def stage(self, attempt: int) -> None:
        d = self.stage_dir(attempt)
        self.sf_dir = os.path.join(d, "sf")
        gen.star_schema(self.seed, self.SF, self.sf_dir)
        querylib._load()
        self.gates = [g for names in MIX.values() for g in names]

    def _build(self, gate: str):
        return querylib.REGISTRY[gate].spark_fn(self.spark, self.sf_dir)

    @staticmethod
    def _exec(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def warm(self) -> float:
        """One pass that collects each gate and checks it against its DuckDB
        oracle, then one ``noop`` pass; returns the Spark share of the time
        (the oracle is untimed)."""
        import verify_local  # the compare logic the gate checks already use

        con = verify_local.duck_con(self.sf_dir)
        spark_s = 0.0
        for gate in self.gates:
            self.attempted += 1
            self.group(f"check-{gate}")
            t0 = time.perf_counter()
            try:
                got = self._build(gate).toPandas()
            except Exception as err:  # noqa: BLE001 — a failed gate is a failed op
                self.problems.append(f"{gate}: {type(err).__name__}: {err}")
                continue
            spark_s += time.perf_counter() - t0
            oracle = querylib.REGISTRY[gate].oracle
            if oracle is not None:
                bad = verify_local.compare(gate, got, con.execute(oracle).fetchdf())
                self.problems += [f"{gate}: {p}" for p in bad]
        return spark_s + self.op(-1, warm=True)["s"]

    def op(self, n: int, warm: bool = False) -> dict:
        order = list(self.gates)
        random.Random(self.seed * 1000 + n).shuffle(order)
        times = {}
        for gate in order:
            self.group(f"warm-{gate}" if warm else f"build-{n}-{gate}")
            t0 = time.perf_counter()
            df = self._build(gate)
            t1 = time.perf_counter()
            self.group(f"warm-{gate}" if warm else f"op-{n}-{gate}")
            self._exec(df)
            times[gate] = (t1 - t0, time.perf_counter() - t1)
        return {"s": sum(b + e for b, e in times.values()), "gates": times}

    def check(self) -> None:
        pass  # checked once per invocation, in warm()

    def summary(self, ops: list[dict]) -> dict:
        # the pass time as the sum of each gate's median: a one-off stall in
        # one gate moves one sample, not the whole pass
        per_gate = {g: statistics.median(sum(o["gates"][g]) for o in ops)
                    for g in self.gates}
        p50 = sum(per_gate.values())
        return {
            "op_s_p50": p50,
            "report": {"mix_pass_s_p50": (p50, "s"),
                       **{f"gate_s.{g}": ([round(sum(o["gates"][g]), 3) for o in ops], "s")
                          for g in self.gates}},
            "layers": {},
        }


WORKLOADS = {w.name: w for w in (IncrementalSync, QueryMix)}
