"""``DeltaTable`` — the delta-spark-style Python facade over the jar-less
reader (``sources/delta_log.py``) and transactional writer
(``sinks/delta_writer.py``), so code written against the public
``delta.tables.DeltaTable`` API has a drop-in shape here:

    dt = DeltaTable.for_path(spark, "/data/events")
    dt.to_df().where("x > 0")
    dt.delete("x < 0")
    dt.update("x % 2 = 0", {"y": "y + 1"})
    dt.merge(src, on=["k"]).when_matched_update({"v": "s.v"}) \\
        .when_not_matched_insert().execute()
    dt.optimize(zorder_by=["a", "b"])
    dt.vacuum(retention_hours=168)
    dt.history().show()          # DESCRIBE HISTORY
    dt.cleanup_metadata()        # retire checkpointed json prefix

Every method is thin delegation — the semantics, protocol gating, and
scale posture live in (and are tested against) the underlying modules.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame
from .sinks import delta_writer as _w
from .sources import delta_log as _r


class _MergeBuilder:
    """delta-spark-shaped merge builder (the subset merge_into supports)."""

    def __init__(self, table: "DeltaTable", source: DataFrame,
                 on: list[str]):
        self._table = table
        self._source = source
        self._on = on
        self._update: dict[str, str] | None = None
        self._delete: str | None = None
        self._insert = False

    def when_matched_update(self, set_exprs: dict[str, str]):
        self._update = set_exprs
        return self

    def when_matched_delete(self, condition: str = "true"):
        self._delete = condition
        return self

    def when_not_matched_insert(self):
        self._insert = True
        return self

    def execute(self, ts_ms: int | None = None) -> int:
        return _w.merge_into(
            self._table.spark, self._table.path, self._source, self._on,
            when_matched_update=self._update,
            when_matched_delete=self._delete,
            when_not_matched_insert=self._insert, ts_ms=ts_ms)


class DeltaTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- construction -----------------------------------------------------
    @classmethod
    def for_path(cls, spark: SparkSession, path: str) -> "DeltaTable":
        if not _r.is_delta_table(spark, path):
            raise FileNotFoundError(f"{path} is not a Delta table")
        return cls(spark, path)

    @classmethod
    def create(cls, spark: SparkSession, df: DataFrame, path: str,
               partition_by: list[str] | tuple[str, ...] = (),
               cdf: bool = False, ts_ms: int | None = None) -> "DeltaTable":
        _w.create_delta_table(spark, df, path, partition_by=partition_by,
                              cdf=cdf, ts_ms=ts_ms)
        return cls(spark, path)

    @classmethod
    def is_delta_table(cls, spark: SparkSession, path: str) -> bool:
        return _r.is_delta_table(spark, path)

    # -- reads ------------------------------------------------------------
    def to_df(self, version: int | None = None) -> DataFrame:
        return _r.read_delta_snapshot(self.spark, self.path, version=version)

    toDF = to_df  # delta-spark spelling

    def changes(self, starting_version: int,
                ending_version: int) -> DataFrame:
        return _r.read_delta_changes(self.spark, self.path,
                                     starting_version, ending_version)

    def version(self) -> int:
        return _w.latest_delta_version(self.spark, self.path)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per surviving commit FILE (version,
        timestamp, operation, operationParameters as JSON) — driver-side
        log metadata read straight from the json commits, newest first.
        Versions whose json was retired by ``cleanup_metadata`` no longer
        appear (their state lives only in the checkpoint) — Delta's
        behavior after log-retention cleanup."""
        import json as _json

        log = os.path.join(self.path, _r.LOG_DIR)
        rows = []
        for name in _r._list_names(self.spark, log):
            m = _r._COMMIT_RE.match(name)
            if not m:
                continue
            v = int(m.group(1))
            acts = [_json.loads(line) for line in
                    _r._read_bytes(self.spark, os.path.join(log, name))
                    .decode("utf-8").splitlines() if line.strip()]
            info = next((a["commitInfo"] for a in acts
                         if "commitInfo" in a), {})
            rows.append((v, info.get("timestamp"),
                         info.get("operation"),
                         _json.dumps(info.get("operationParameters") or {},
                                     sort_keys=True)))
        rows.sort(key=lambda r: -r[0])
        return local_frame(
            self.spark, rows,
            "version long, timestamp_ms long, operation string, "
            "operationParameters string")

    # -- writes -----------------------------------------------------------
    def append(self, df: DataFrame, **kwargs) -> int:
        return _w.append_delta(self.spark, df, self.path, **kwargs)

    def overwrite(self, df: DataFrame, **kwargs) -> int:
        return _w.overwrite_delta(self.spark, df, self.path, **kwargs)

    def delete(self, predicate: str, ts_ms: int | None = None) -> int:
        return _w.delete_where(self.spark, self.path, predicate, ts_ms=ts_ms)

    def update(self, predicate: str, set_exprs: dict[str, str],
               ts_ms: int | None = None) -> int:
        return _w.update_where(self.spark, self.path, predicate, set_exprs,
                               ts_ms=ts_ms)

    def merge(self, source: DataFrame, on: list[str]) -> _MergeBuilder:
        return _MergeBuilder(self, source, on)

    # -- maintenance ------------------------------------------------------
    def optimize(self, zorder_by: list[str] | None = None,
                 ts_ms: int | None = None) -> int:
        return _w.optimize_delta(self.spark, self.path, zorder_by=zorder_by,
                                 ts_ms=ts_ms)

    def checkpoint(self, version: int | None = None) -> int:
        return _w.write_classic_checkpoint(self.spark, self.path,
                                           version=version)

    def checkpoint_v2(self, version: int | None = None) -> int:
        return _w.write_v2_checkpoint(self.spark, self.path,
                                      version=version)

    def set_properties(self, properties: dict[str, str] | None = None,
                       unset: list[str] | tuple[str, ...] = ()) -> int:
        return _w.set_table_properties(self.spark, self.path,
                                       properties, unset=unset)

    def add_columns(self, new_columns: list[tuple[str, str]]) -> int:
        return _w.add_columns(self.spark, self.path, new_columns)

    def set_domain_metadata(self, domain: str, configuration: str,
                            removed: bool = False) -> int:
        return _w.set_domain_metadata(self.spark, self.path, domain,
                                      configuration, removed=removed)

    def clone_to(self, dst_table: str, version: int | None = None,
                 shallow: bool = True) -> None:
        _w.clone_delta(self.spark, self.path, dst_table,
                       version=version, shallow=shallow)

    def history(self):
        return _r.delta_history(self.spark, self.path)

    def detail(self):
        return _r.delta_table_detail(self.spark, self.path)

    def vacuum(self, retention_hours: float = 168.0,
               now_ms: int | None = None,
               dry_run: bool = False) -> list[str]:
        return _w.vacuum_delta(self.spark, self.path,
                               retention_ms=int(retention_hours * 3600000),
                               now_ms=now_ms, dry_run=dry_run)

    def cleanup_metadata(self, log_retention_ms: int =
                         30 * 24 * 3600 * 1000,
                         now_ms: int | None = None) -> list[str]:
        """Metadata-side vacuum (Delta's log retention): delete json
        commits that are BOTH strictly below the newest classic
        checkpoint AND older than ``log_retention_ms`` (keyed on the
        commit's own timestamp — commitInfo, mtime fallback), matching
        ``delta.logRetentionDuration``'s 30-day default. Replay serves
        retired versions from the checkpoint; time travel / CDF below
        the retired prefix becomes unavailable only after the retention
        window — a checkpoint alone no longer forfeits it (ADVICE r8).
        Returns the deleted paths; a no-op without a checkpoint. Pass
        ``log_retention_ms=0`` for the old retire-everything behavior."""
        import time as _time

        if not _r._is_local(self.path):
            raise NotImplementedError("cleanup_metadata walks the log dir; "
                                      "only local filesystems supported")
        now = int(_time.time() * 1000) if now_ms is None else int(now_ms)
        log = os.path.join(_r._strip_scheme(self.path), _r.LOG_DIR)
        names = sorted(os.listdir(log))
        cps = [int(m.group(1)) for n in names
               if (m := (_r._CHECKPOINT_RE.match(n)
                         or _r._CHECKPOINT_V2_RE.match(n)))]
        if not cps:
            return []
        cutoff = max(cps)
        doomed = []
        # delete a contiguous PREFIX only (a hole would leave later
        # pre-checkpoint commits unreplayable while looking retained):
        # stop at the first commit younger than the retention window
        for n in names:
            m = _r._COMMIT_RE.match(n)
            if not m:
                continue
            if int(m.group(1)) >= cutoff:
                break
            p = os.path.join(log, n)
            ts = None
            try:
                for line in open(p):
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ts = a["commitInfo"].get("timestamp")
                        break
            except (OSError, ValueError):
                pass
            if ts is None:
                ts = os.path.getmtime(p) * 1000
            if int(ts) > now - log_retention_ms:
                break
            doomed.append(p)
        for p in doomed:
            os.unlink(p)
        return doomed
