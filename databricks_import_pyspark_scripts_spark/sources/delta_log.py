"""Pure-Python Delta Lake transaction-log reader: snapshot-at-version and
change-feed reads against a REAL Delta table directory, no ``delta-spark``
JVM extension required.

Implements the public Delta Lake table protocol
(github.com/delta-io/delta PROTOCOL.md):

* the log at ``<table>/_delta_log/`` is ``%020d.json`` commit files (one
  JSON action per line), optional ``%020d.checkpoint.parquet`` files
  (single-part or ``%020d.checkpoint.%010d.%010d.parquet`` multi-part)
  and a ``_last_checkpoint`` pointer;
* snapshot state at version V = latest checkpoint <= V, then JSON commits
  replayed in order: ``add`` upserts a data file by path, ``remove``
  drops it, last ``metaData``/``protocol`` win;
* ``metaData.schemaString`` is Spark StructType JSON (the protocol adopts
  Spark's schema serialization), so the table schema round-trips through
  ``StructType.fromJson`` exactly;
* partition column values live in ``add.partitionValues`` (stringly), NOT
  in the data files;
* the change feed stores explicit change files as ``cdc`` actions (their
  data carries ``_change_type``); commits with data-changing ``add`` /
  ``remove`` but no ``cdc`` actions represent pure inserts / deletes of
  whole files.

Division of labor — the part that matters at 100 TB: log replay is
driver-side METADATA work (exactly where Delta itself does it — the log is
a few MB of JSON/parquet even for huge tables), while all DATA stays in
executor-side parquet scans planned from the replayed file list. Partition
pruning happens at the metadata level (``partition_filter`` drops add
entries before any scan is planned), which is strictly stronger than
directory pruning: it works even for tables whose files are not laid out
hive-style. Partition columns are re-attached with ONE broadcast map-join
keyed on ``_metadata.file_path`` instead of per-partition scan unions, so
a 100k-file snapshot plans one scan, not one per partition.

Reference parity: the reference reads Delta via
``spark.read.format("delta").option("versionAsOf"/"readChangeFeed", ...)``
(/root/reference/unload_databricks_data_to_s3.py:183-193); this module
provides that read surface when the Delta jars are absent.
``sources/versioned.py`` dispatches here automatically when a source table
directory contains ``_delta_log``.

Deletion vectors (reader feature ``deletionVectors``) ARE supported:
each ``add``/``remove``/``cdc`` action's DV descriptor is parsed driver-side
(storage types ``u``/``p``/``i``, roaring-bitmap row indexes — see
``delta_dv.py``), and the deleted rows are dropped executor-side against the
scan's ``_metadata.row_index``: a broadcast anti-join on
``(file, row_index)`` when the total deleted cardinality is bounded, else a
vectorized Arrow filter whose per-file bitmaps parse once per worker.
Databricks enables DVs BY DEFAULT on new tables (DBR 14+), so this is the
difference between reading most real tables and rejecting them.

Column mapping modes ``name`` AND ``id`` are supported. ``name``: data
files are scanned under each column's ``delta.columnMapping.physicalName``
(recursively through nested structs) and restored to logical names with a
positional struct cast. ``id``: the read schema carries the logical names
annotated with ``parquet.field.id`` metadata (from
``delta.columnMapping.id``) and Spark's built-in parquet field-id matching
(``spark.sql.parquet.fieldId.read.enabled``) resolves columns by id
entirely JVM-side, whatever the files name them. ``partitionValues`` keys
are translated log-side in both modes.

V2 (uuid-named) checkpoints ARE supported: json/parquet top-level files
resolved together with their parquet sidecars at replay.

Type widening (reader feature ``typeWidening``, and its DBR preview name
``typeWidening-preview``) IS supported: data files written before a widen
keep their narrower physical parquet types (int32 under a now-long
column, float under double, narrower decimals, date under timestampNtz),
and Spark's vectorized parquet reader up-casts them per file against the
table's CURRENT (widened) read schema natively — exactly the protocol's
legal widening set; a physically-incompatible file (which a conformant
history never produces) still fails the scan loudly rather than reading
wrongly. Time travel to a pre-widen version reads that version's own
(narrow) schema, so no cast is involved at all.

Supported reader features: ``timestampNtz``, ``vacuumProtocolCheck``,
``deletionVectors``, ``columnMapping`` (name and id modes),
``v2Checkpoint``, ``typeWidening``/``typeWidening-preview``.
"""

from __future__ import annotations

import io
import json
import os
import re
import urllib.parse
from dataclasses import dataclass, field

import pandas as pd  # module-level: pandas_udf type hints resolve via globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame

LOG_DIR = "_delta_log"
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet$")
#: v2 ("uuid-named") checkpoints: %020d.checkpoint.<uuid>.{json|parquet},
#: actions split between the top-level file and parquet sidecars under
#: _delta_log/_sidecars/ referenced by `sidecar` actions.
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}"
    r"-[0-9a-fA-F]{12})\.(json|parquet)$")

#: reader features (protocol v3) this implementation understands.
SUPPORTED_READER_FEATURES = {"timestampNtz", "vacuumProtocolCheck",
                             "deletionVectors", "columnMapping",
                             "v2Checkpoint", "typeWidening",
                             "typeWidening-preview",
                             "variantType", "variantType-preview"}

#: total deleted-row cardinality up to which DVs are applied as a broadcast
#: anti-join on (file, row_index) — plain Catalyst, whole-stage codegen.
#: Above it, the Arrow filter path takes over (bitmaps stay compressed on
#: the wire, parse once per worker). Env-overridable for tests.
DV_ANTIJOIN_MAX_ROWS = int(os.environ.get(
    "SPARK_GRAFT_DV_ANTIJOIN_MAX_ROWS", "1000000"))

_ROW_INDEX = "__delta_row_index"

_CDC_TYPE, _CDC_VERSION, _CDC_TS = (
    "_change_type", "_commit_version", "_commit_timestamp")


class DeltaProtocolError(NotImplementedError):
    """The table uses a protocol feature this reader does not implement.
    Raised BEFORE any data is read — a wrong answer is never produced."""


@dataclass
class _Replay:
    """Snapshot state after replaying the log to ``version``."""
    version: int
    metadata: dict
    protocol: dict
    files: dict[str, dict]                      # path -> add action
    commit_actions: dict[int, list[dict]] = field(default_factory=dict)
    commit_ts_ms: dict[int, int] = field(default_factory=dict)
    #: streaming transaction watermarks: appId -> highest committed txn
    #: version ("Transaction Identifiers" in PROTOCOL.md — the
    #: exactly-once handshake for streaming writers)
    txns: dict[str, int] = field(default_factory=dict)
    #: remove-action tombstones still standing at this version (path ->
    #: remove action; cleared when the path is re-added). PROTOCOL.md
    #: requires checkpoints to carry tombstones for files removed within
    #: the retention window — this is where the checkpoint writer and
    #: vacuum's removal-timestamp recovery read them from.
    tombstones: dict[str, dict] = field(default_factory=dict)
    #: live domain metadata (PROTOCOL.md "Domain Metadata"): domain name
    #: -> configuration string; a removed=true action deletes the entry.
    #: System domains (delta.*) carry writer state like the row-tracking
    #: high watermark.
    domains: dict[str, str] = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])


def is_delta_table(spark: SparkSession, table_path: str) -> bool:
    return _exists(spark, os.path.join(table_path, LOG_DIR))


# ---------------------------------------------------------------------------
# filesystem access: local paths use the os module directly; anything with a
# scheme (s3a://, hdfs://) goes through Spark's Hadoop FS classes so the
# reader works wherever Spark itself can read. Log files are small metadata
# — driver-side reads, never a Spark job.

def _is_local(path: str) -> bool:
    return "://" not in path or path.startswith("file:")

def _strip_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path

def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p  # noqa: SLF001

def _exists(spark: SparkSession, path: str) -> bool:
    if _is_local(path):
        return os.path.exists(_strip_scheme(path))
    fs, p = _hadoop_fs(spark, path)
    return fs.exists(p)

def _list_names(spark: SparkSession, dir_path: str) -> list[str]:
    if _is_local(dir_path):
        d = _strip_scheme(dir_path)
        return sorted(os.listdir(d)) if os.path.isdir(d) else []
    fs, p = _hadoop_fs(spark, dir_path)
    if not fs.exists(p):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(p))

def _read_bytes(spark: SparkSession, path: str) -> bytes:
    if _is_local(path):
        with open(_strip_scheme(path), "rb") as f:
            return f.read()
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    fs, p = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()

def _mtime_ms(spark: SparkSession, path: str) -> int:
    if _is_local(path):
        return int(os.path.getmtime(_strip_scheme(path)) * 1000)
    fs, p = _hadoop_fs(spark, path)
    return int(fs.getFileStatus(p).getModificationTime())


# ---------------------------------------------------------------------------
# log replay

def list_delta_versions(spark: SparkSession, table_path: str) -> list[int]:
    """Commit versions with a JSON entry still present in the log."""
    log = os.path.join(table_path, LOG_DIR)
    return sorted(int(m.group(1)) for n in _list_names(spark, log)
                  if (m := _COMMIT_RE.match(n)))


def last_txn_version(spark: SparkSession, table_path: str,
                     app_id: str) -> int | None:
    """Highest committed streaming-transaction version for ``app_id``
    (PROTOCOL.md "Transaction Identifiers") — what an exactly-once
    streaming writer consults on restart to skip already-committed
    batches. None when the app never committed."""
    return replay_log(spark, table_path).txns.get(app_id)


def _commit_timestamps_ms(spark: SparkSession,
                          table_path: str) -> list[tuple[int, int]]:
    """(version, adjusted commit timestamp ms) for every commit file still
    in the log, in version order. Timestamps come from commitInfo (file
    mtime fallback) and are ADJUSTED TO BE MONOTONIC exactly as Delta's
    history does (each commit >= previous + 1 ms), so timestamp resolution
    is well-defined even when wall clocks regressed between writers.
    Driver-side metadata reads over the (few-MB) log, like all replay."""
    log = os.path.join(table_path, LOG_DIR)
    out: list[tuple[int, int]] = []
    prev = -1
    for v in list_delta_versions(spark, table_path):
        path = os.path.join(log, f"{v:020d}.json")
        ts = None
        for line in _read_bytes(spark, path).decode("utf-8").splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "commitInfo" in action:
                # inCommitTimestamp (writer feature) is the authoritative
                # monotonic clock when present; plain timestamp otherwise
                ci = action["commitInfo"]
                ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
                break
        ts = int(ts) if ts is not None else _mtime_ms(spark, path)
        ts = max(ts, prev + 1)
        out.append((v, ts))
        prev = ts
    return out


def resolve_version_at_timestamp(spark: SparkSession, table_path: str,
                                 ts_ms: int,
                                 mode: str = "at_or_before") -> int:
    """Timestamp -> commit version, Delta time-travel semantics.

    ``at_or_before`` (``TIMESTAMP AS OF``): the LATEST version whose
    commit timestamp <= ts. Errors when ts predates the earliest
    available commit or exceeds the latest (mirroring delta-spark's
    temporal bounds errors rather than silently clamping).
    ``at_or_after`` (CDF ``startingTimestamp``): the EARLIEST version
    whose commit timestamp >= ts; errors when ts is past the last commit.

    Resolution only sees commits whose JSON is still in the log — a
    vacuumed prefix bounds how far back a timestamp can reach, same as
    Delta's own history."""
    history = _commit_timestamps_ms(spark, table_path)
    if not history:
        raise FileNotFoundError(f"no commits in the log of {table_path}")
    if mode == "at_or_before":
        if ts_ms < history[0][1]:
            raise ValueError(
                f"timestamp {ts_ms} is before the earliest available "
                f"commit ({history[0][1]}, version {history[0][0]}) of "
                f"{table_path}")
        if ts_ms > history[-1][1]:
            raise ValueError(
                f"timestamp {ts_ms} is after the latest commit "
                f"({history[-1][1]}, version {history[-1][0]}) of "
                f"{table_path}")
        return max(v for v, ts in history if ts <= ts_ms)
    if mode == "at_or_after":
        later = [v for v, ts in history if ts >= ts_ms]
        if not later:
            raise ValueError(
                f"timestamp {ts_ms} is after the latest commit "
                f"({history[-1][1]}) of {table_path}; no versions to "
                f"start from")
        return min(later)
    raise ValueError(f"unknown resolution mode {mode!r}")


def read_delta_snapshot_at_timestamp(spark: SparkSession, table_path: str,
                                     ts_ms: int,
                                     partition_filter=None) -> DataFrame:
    """``TIMESTAMP AS OF`` through the log replay: resolve, then snapshot."""
    v = resolve_version_at_timestamp(spark, table_path, ts_ms)
    return read_delta_snapshot(spark, table_path, v,
                               partition_filter=partition_filter)


def read_delta_changes_from_timestamp(spark: SparkSession, table_path: str,
                                      start_ts_ms: int,
                                      ending_version: int | None = None,
                                      end_ts_ms: int | None = None
                                      ) -> DataFrame:
    """CDF ``startingTimestamp`` (+ optional ``endingTimestamp``)
    semantics: changes from the earliest version committed at/after
    ``start_ts_ms`` through ``ending_version``, or through the latest
    version committed at/before ``end_ts_ms``, or the log head."""
    first = resolve_version_at_timestamp(spark, table_path, start_ts_ms,
                                         mode="at_or_after")
    if ending_version is not None and end_ts_ms is not None:
        raise ValueError("pass ending_version or end_ts_ms, not both")
    if end_ts_ms is not None:
        ending_version = resolve_version_at_timestamp(
            spark, table_path, end_ts_ms, mode="at_or_before")
    if ending_version is None:
        ending_version = max(list_delta_versions(spark, table_path))
    if ending_version < first:
        raise ValueError(
            f"endingTimestamp resolves to version {ending_version}, before "
            f"startingTimestamp's version {first} — empty inverted range")
    return read_delta_changes(spark, table_path, first - 1, ending_version)


def _checkpoint_parts(names: list[str], version: int) -> list[str]:
    """Checkpoint file(s) for ``version``: a v2 uuid-named checkpoint when
    present (several UUIDs for one version are interchangeable per the
    protocol — pick the lexicographically last), else the classic
    single/multi-part parquet parts."""
    v2 = sorted(n for n in names
                if (m := _CHECKPOINT_V2_RE.match(n))
                and int(m.group(1)) == version)
    if v2:
        return [v2[-1]]
    return [n for n in names
            if (m := _CHECKPOINT_RE.match(n)) and int(m.group(1)) == version]


def _latest_checkpoint_version(spark: SparkSession, log: str,
                               names: list[str], ceiling: int) -> int | None:
    """Best checkpoint version <= ceiling: the ``_last_checkpoint`` pointer
    when it qualifies, else the newest complete checkpoint in the listing."""
    try:
        lc = json.loads(_read_bytes(spark, os.path.join(log, "_last_checkpoint")))
        if int(lc["version"]) <= ceiling:
            return int(lc["version"])
    except Exception:  # noqa: BLE001 — pointer absent/corrupt: fall back to listing
        pass
    versions = sorted({int(m.group(1)) for n in names
                       if ((m := _CHECKPOINT_RE.match(n))
                           or (m := _CHECKPOINT_V2_RE.match(n)))
                       and int(m.group(1)) <= ceiling})
    return versions[-1] if versions else None


_CP_ACTION_KEYS = ("add", "remove", "metaData", "protocol", "txn",
                   "domainMetadata", "sidecar")


def _read_parquet_actions(spark: SparkSession, path: str) -> list[dict]:
    import pyarrow.parquet as pq

    if _is_local(path):
        table = pq.read_table(_strip_scheme(path))
    else:
        table = pq.read_table(io.BytesIO(_read_bytes(spark, path)))
    actions: list[dict] = []
    for row in table.to_pylist():
        for key in _CP_ACTION_KEYS:
            if row.get(key) is not None:
                actions.append({key: _unarrow_maps(row[key])})
    return actions


def _checkpoint_actions(spark: SparkSession, log: str,
                        parts: list[str]) -> list[dict]:
    """Checkpoint file(s) -> action dicts. Classic checkpoints carry one
    non-null action per parquet row; v2 checkpoints additionally split
    add/remove actions into parquet SIDECARS under ``_delta_log/_sidecars/``
    referenced by ``sidecar`` actions in the (json or parquet) top-level
    file — both resolved here, so replay sees one flat action stream."""
    actions: list[dict] = []
    for name in parts:
        path = os.path.join(log, name)
        if name.endswith(".json"):  # v2 top-level json form
            file_actions = [json.loads(line) for line in
                            _read_bytes(spark, path).decode("utf-8")
                            .splitlines() if line.strip()]
        else:
            file_actions = _read_parquet_actions(spark, path)
        for action in file_actions:
            if "sidecar" in action:
                side = action["sidecar"]["path"]
                side_path = (side if "://" in side or side.startswith("/")
                             else os.path.join(log, "_sidecars", side))
                actions.extend(a for a in
                               _read_parquet_actions(spark, side_path)
                               if "add" in a or "remove" in a)
            elif any(k in action for k in _CP_ACTION_KEYS[:6]):
                actions.append(action)
            # checkpointMetadata: structural marker, nothing to replay
    return actions


def _unarrow_maps(action: dict) -> dict:
    """pyarrow surfaces parquet MAP columns as [(key, value), ...] lists;
    the JSON-commit form of the same actions carries real objects — fold
    the arrow form back so both sources replay identically."""
    for k in ("partitionValues", "configuration", "tags"):
        v = action.get(k)
        if isinstance(v, list):
            action[k] = dict(v)
    return action


def _check_protocol(protocol: dict, metadata: dict) -> None:
    reader = int(protocol.get("minReaderVersion", 1))
    if reader >= 3:
        unsupported = set(protocol.get("readerFeatures") or ()) \
            - SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"unsupported Delta reader features: {sorted(unsupported)}")
        if {"variantType", "variantType-preview"} & set(
                protocol.get("readerFeatures") or ()) \
                and not hasattr(__import__("pyspark.sql.types",
                                           fromlist=["VariantType"]),
                                "VariantType"):
            # the physical layout (value/metadata binary struct) maps to
            # Spark's native VARIANT — which only exists in Spark 4+;
            # older sessions must reject loudly, not mis-read binaries
            raise DeltaProtocolError(
                "variantType table requires a Spark 4+ session "
                "(pyspark.sql.types.VariantType)")
    mapping = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mapping not in ("none", "name", "id", None):
        raise DeltaProtocolError(
            f"column mapping mode {mapping!r} is not supported")


def replay_log(spark: SparkSession, table_path: str,
               version: int | None = None,
               collect_from: int | None = None) -> _Replay:
    """Replay the log to ``version`` (default: latest). ``collect_from``
    additionally retains per-commit action lists and timestamps for
    versions >= it (the change-feed reader's input)."""
    log = os.path.join(table_path, LOG_DIR)
    names = _list_names(spark, log)
    commits = sorted(int(m.group(1)) for n in names if (m := _COMMIT_RE.match(n)))
    cp_versions = sorted({int(m.group(1)) for n in names
                          if (m := (_CHECKPOINT_RE.match(n)
                                    or _CHECKPOINT_V2_RE.match(n)))})
    if not commits and not cp_versions:
        raise FileNotFoundError(f"not a Delta table (empty log): {table_path}")
    # metadata cleanup can leave a checkpoint-only log (every JSON commit
    # retired): the latest state is then the newest checkpoint's version
    latest = max([*commits, *cp_versions])
    target = latest if version is None else int(version)

    metadata: dict | None = None
    protocol: dict = {"minReaderVersion": 1}
    files: dict[str, dict] = {}
    rep = _Replay(target, {}, protocol, files)

    cp_version = _latest_checkpoint_version(spark, log, names, target)
    start = 0
    if cp_version is not None:
        for action in _checkpoint_actions(
                spark, log, _checkpoint_parts(names, cp_version)):
            metadata, protocol = _apply(action, files, metadata, protocol,
                                        rep.txns, rep.tombstones,
                                        rep.domains)
        start = cp_version + 1
    # every version in (start, target] must still have its commit file —
    # a cleaned-up (vacuumed) log prefix below the checkpoint is fine, a
    # MISSING commit above it would silently drop changes
    have = set(commits)
    missing = [v for v in range(start, target + 1) if v not in have]
    if missing:
        raise FileNotFoundError(
            f"DELTA_CHANGE_DATA_FILE_NOT_FOUND: log entries for versions "
            f"{missing} of {table_path} are missing (vacuumed or not yet "
            f"written); earliest replayable state is "
            f"{'checkpoint ' + str(cp_version) if cp_version is not None else 'none'}")
    for v in range(start, target + 1):
        path = os.path.join(log, f"{v:020d}.json")
        acts = [json.loads(line)
                for line in _read_bytes(spark, path).decode("utf-8").splitlines()
                if line.strip()]
        ts = None
        for action in acts:
            if "commitInfo" in action and ts is None:
                ts = action["commitInfo"].get("timestamp")
            metadata, protocol = _apply(action, files, metadata, protocol,
                                        rep.txns, rep.tombstones,
                                        rep.domains)
        if collect_from is not None and v >= collect_from:
            rep.commit_actions[v] = acts
            rep.commit_ts_ms[v] = int(ts if ts is not None
                                      else _mtime_ms(spark, path))
    if metadata is None:
        raise FileNotFoundError(
            f"no metaData action found replaying {table_path} to {target}")
    _check_protocol(protocol, metadata)
    rep.metadata, rep.protocol = metadata, protocol
    _logicalize_partition_values(rep)
    return rep


def _physical_name(field) -> str:
    return field.metadata.get("delta.columnMapping.physicalName", field.name)


def _mapping_mode(metadata: dict) -> str:
    return (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none") or "none"


def _to_physical_field(field):
    """Logical StructField -> its on-disk physical form under column mapping
    ``name`` mode: rename per ``delta.columnMapping.physicalName`` field
    metadata, recursively through struct/array/map element types."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    def conv(dt):
        if isinstance(dt, StructType):
            return StructType([_to_physical_field(f) for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(conv(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(conv(dt.keyType), conv(dt.valueType),
                           dt.valueContainsNull)
        return dt

    return StructField(_physical_name(field), conv(field.dataType),
                       field.nullable)


def _to_id_field(field):
    """Logical StructField -> the same LOGICAL name annotated with
    ``parquet.field.id`` metadata (from ``delta.columnMapping.id``,
    recursively), so Spark's built-in parquet field-id matching
    (``spark.sql.parquet.fieldId.read.enabled``) resolves columns by id
    regardless of what the data files NAME them — column mapping ``id``
    mode, entirely JVM-side: no rename projection is needed afterwards
    because the read schema already carries the logical names."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    def conv(dt):
        if isinstance(dt, StructType):
            return StructType([_to_id_field(f) for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(conv(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(conv(dt.keyType), conv(dt.valueType),
                           dt.valueContainsNull)
        return dt

    fid = field.metadata.get("delta.columnMapping.id")
    if fid is None:
        raise DeltaProtocolError(
            f"column mapping mode 'id' but field {field.name!r} carries no "
            f"delta.columnMapping.id — malformed table metadata")
    return StructField(field.name, conv(field.dataType), field.nullable,
                       {"parquet.field.id": int(fid)})


def _logicalize_partition_values(rep: _Replay) -> None:
    """Column mapping stores ``partitionValues`` under PHYSICAL key names;
    re-key every retained action to logical names once, driver-side, so
    partition pruning / re-attachment / CDF synthesis all stay logical."""
    if _mapping_mode(rep.metadata) == "none":
        return
    to_logical = {_physical_name(f): f.name for f in rep.schema.fields}

    def rekey(action: dict) -> None:
        pv = action.get("partitionValues")
        if isinstance(pv, dict):
            action["partitionValues"] = {
                to_logical.get(k, k): v for k, v in pv.items()}

    for add in rep.files.values():
        rekey(add)
    for acts in rep.commit_actions.values():
        for a in acts:
            for key in ("add", "remove", "cdc"):
                if isinstance(a.get(key), dict):
                    rekey(a[key])


def _apply(action: dict, files: dict[str, dict],
           metadata: dict | None, protocol: dict,
           txns: dict[str, int] | None = None,
           tombstones: dict[str, dict] | None = None,
           domains: dict[str, str] | None = None) -> tuple[dict | None,
                                                           dict]:
    if "add" in action:
        files[action["add"]["path"]] = action["add"]
        if tombstones is not None:
            tombstones.pop(action["add"]["path"], None)
    elif "remove" in action:
        files.pop(action["remove"]["path"], None)
        if tombstones is not None and action["remove"].get("path"):
            tombstones[action["remove"]["path"]] = action["remove"]
    elif "metaData" in action:
        metadata = action["metaData"]
    elif "protocol" in action:
        protocol = action["protocol"]
    elif "domainMetadata" in action and domains is not None:
        dm = action["domainMetadata"]
        if dm.get("removed"):
            domains.pop(dm.get("domain"), None)
        elif dm.get("domain") is not None:
            domains[dm["domain"]] = dm.get("configuration")
    elif "txn" in action and txns is not None:
        t = action["txn"]
        if t.get("appId") is not None and t.get("version") is not None:
            # replay order is commit order; the protocol says the LATEST
            # txn per appId wins (versions are app-monotonic in practice,
            # but a replayed batch may legally re-commit a lower number)
            txns[t["appId"]] = int(t["version"])
    return metadata, protocol


# ---------------------------------------------------------------------------
# snapshot read

def _resolve(table_path: str, rel_or_abs: str) -> str:
    """add/remove/cdc paths are URL-encoded, relative to the table root
    (absolute URIs allowed for shallow clones)."""
    decoded = urllib.parse.unquote(rel_or_abs)
    if "://" in decoded or decoded.startswith("/"):
        return decoded
    return os.path.join(table_path, decoded)


_FILE_BASE = "__delta_file_base"


def _with_file_base(df: DataFrame) -> DataFrame:
    """Scanned file's identity key — its last two path segments
    (``partdir/name``, URL-decoded), from the parquet source's
    ``_metadata.file_path``. Resolvable only directly on the scan, so it
    is attached immediately and carried as a regular column. Two segments
    because Delta writers place files either at the root or under one
    hive-style partition dir, and the file name itself embeds a UUID —
    the pair is unique for every real-world layout (a colliding log still
    gets a correct answer via the per-group fallback scan)."""
    segs = F.split(F.col("_metadata.file_path"), "/")
    return df.withColumn(
        _FILE_BASE,
        F.url_decode(F.concat_ws(
            "/", F.element_at(segs, -2), F.element_at(segs, -1))))


def _with_row_index(df: DataFrame) -> DataFrame:
    """0-based physical row position within the scanned parquet file
    (``_metadata.row_index``) — the coordinate deletion vectors address.
    Attached only when the file list actually carries DVs: the hidden
    column forces the parquet reader to emit row positions, which is free
    but pointless otherwise."""
    return df.withColumn(_ROW_INDEX, F.col("_metadata.row_index"))


def _action_base(table_path: str, action_path: str) -> str:
    """The action's identity key, matching ``_with_file_base``: last two
    segments of the RESOLVED path (so a root-level file keys as
    ``<table_dir>/<name>``, same as the scan sees it)."""
    return "/".join(_resolve(table_path, action_path).rstrip("/")
                    .split("/")[-2:])


def _attach_partition_columns(spark: SparkSession, df: DataFrame,
                              schema: StructType, part_cols: list[str],
                              file_parts: list[tuple[str, dict]],
                              table_path: str) -> DataFrame:
    """Re-attach partition columns from the log's partitionValues: broadcast
    map-join on the scanned file name (the ``_FILE_BASE`` column — Delta
    writers name data files with embedded UUIDs, and the caller falls back
    to per-group scans on the rare basename collision). The map is a
    ``local_frame`` (a JVM LocalRelation), so the join runs no Python."""
    rows = []
    for path, pv in file_parts:
        rows.append((_action_base(table_path, path),
                     *[pv.get(c) for c in part_cols]))
    map_schema = StructType()
    map_schema.add(_FILE_BASE, "string")
    for c in part_cols:
        map_schema.add(f"__pv_{c}", "string")
    pv_df = local_frame(spark, rows, map_schema)
    typed = {f.name: f.dataType for f in schema.fields}
    out = df.join(F.broadcast(pv_df), _FILE_BASE, "left")
    for c in part_cols:
        out = out.withColumn(c, F.col(f"__pv_{c}").cast(typed[c]))
    return out.drop(*[f"__pv_{c}" for c in part_cols])


def _dv_bytes(spark: SparkSession, table_path: str, d: dict) -> bytes:
    """Serialized RoaringBitmapArray for one DV descriptor (storage types
    ``u`` relative-with-uuid / ``p`` absolute path / ``i`` inline)."""
    from . import delta_dv

    st = d["storageType"]
    if st == "i":
        return delta_dv.decode_inline_dv(d["pathOrInlineDv"],
                                         int(d["sizeInBytes"]))
    if st == "u":
        path = os.path.join(
            table_path, delta_dv.dv_relative_path(d["pathOrInlineDv"]))
    elif st == "p":
        path = d["pathOrInlineDv"]
    else:
        raise DeltaProtocolError(f"unknown DV storage type {st!r}")
    return delta_dv.read_dv_from_file_bytes(
        _read_bytes(spark, path), int(d["offset"]), int(d["sizeInBytes"]))


def _apply_deletion_vectors(spark: SparkSession, df: DataFrame,
                            table_path: str,
                            dv_actions: list[dict]) -> DataFrame:
    """Drop DV-deleted rows from a scan carrying ``_FILE_BASE`` +
    ``_ROW_INDEX``.

    DV descriptors and bitmap BYTES are driver-side metadata (same class as
    the log itself — compressed bitmaps, KBs per file); the row-level
    filter is executor-side. Two strategies by total deleted cardinality:

    * <= DV_ANTIJOIN_MAX_ROWS: materialize (file, row_index) pairs and
      broadcast anti-join — plain Catalyst, whole-stage codegen, zero
      Python in the scan.
    * above: an Arrow-batched predicate whose closure carries the
      COMPRESSED bitmaps; each worker parses a file's bitmap once (closure
      dict persists across batches within a worker) and filters its batch
      with one vectorized ``searchsorted`` per file group — the same
      ship-the-bitmap-to-the-task model Delta's own scan uses.
    """
    from .delta_dv import deserialize_bitmap_array

    dv_raw: dict[str, bytes] = {}
    total_card = 0
    for a in dv_actions:
        d = a["deletionVector"]
        base = _action_base(table_path, a["path"])
        if base in dv_raw:
            # the (file, row_index) key the filter joins on would alias two
            # distinct files — deleting rows from the wrong one. Real Delta
            # writers embed UUIDs in file names, so this never fires in
            # practice; when it does, refuse loudly rather than read wrongly
            raise DeltaProtocolError(
                f"basename collision among DV-bearing files ({base}); "
                f"deletion vectors cannot be applied unambiguously")
        dv_raw[base] = _dv_bytes(spark, table_path, d)
        total_card += int(d.get("cardinality") or 0)
    if total_card <= DV_ANTIJOIN_MAX_ROWS:
        import numpy as np
        import pyarrow as pa

        # build as Arrow columns, not a Python tuple list: the threshold
        # admits up to 10^6 pairs and row-at-a-time conversion would make
        # PLANNING the slow path
        bases: list[str] = []
        idx_parts = []
        for base, raw in dv_raw.items():
            dead = deserialize_bitmap_array(raw)
            bases.extend([base] * dead.size)
            idx_parts.append(dead)
        deleted = local_frame(spark, pa.table({
            _FILE_BASE: pa.array(bases, pa.string()),
            _ROW_INDEX: (np.concatenate(idx_parts) if idx_parts
                         else np.empty(0, dtype=np.int64))}),
            f"{_FILE_BASE} string, {_ROW_INDEX} long")
        return df.join(F.broadcast(deleted), [_FILE_BASE, _ROW_INDEX],
                       "left_anti")

    from pyspark.sql.functions import pandas_udf

    parsed: dict[str, object] = {}  # per-worker bitmap cache

    @pandas_udf("boolean")
    def _survives(file_base: pd.Series, row_index: pd.Series) -> pd.Series:
        import numpy as np  # local: runs on executors

        keep = np.ones(len(file_base), dtype=bool)
        for base, idx in row_index.groupby(file_base.values):
            raw = dv_raw.get(base)
            if raw is None:
                continue
            if base not in parsed:
                parsed[base] = deserialize_bitmap_array(raw)
            dead = parsed[base]
            if dead.size == 0:  # cardinality-0 descriptor: nothing deleted
                continue
            vals = idx.to_numpy()
            pos = np.searchsorted(dead, vals)
            hit = (pos < dead.size) & (dead[np.minimum(pos, dead.size - 1)]
                                       == vals)
            keep[idx.index.to_numpy()] = ~hit
        return pd.Series(keep)

    return df.filter(_survives(F.col(_FILE_BASE), F.col(_ROW_INDEX)))


def _scan_files(spark: SparkSession, table_path: str, rep: _Replay,
                actions: list[dict],
                extra_data_cols: list[str] | None = None,
                check_exists: bool = False,
                keep_row_index: bool = False) -> DataFrame | None:
    """One parquet scan over the listed files, schema from the log,
    partition columns re-attached. None when the list is empty.

    ``check_exists`` pre-verifies every file driver-side and raises the
    DELTA_CHANGE_DATA_FILE_NOT_FOUND signature the retry ladder classifies
    — used ONLY for change-feed groups (bounded, incremental file counts).
    Snapshot scans skip it: O(files) driver FS calls would dominate
    planning on a 100k-file table, and a genuinely missing data file
    already fails the scan itself loudly."""
    schema, part_cols = rep.schema, rep.partition_columns
    mode = _mapping_mode(rep.metadata)
    mapped = mode == "name"
    by_id = mode == "id"
    logical_data = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(
        [_to_physical_field(f) if mapped
         else (_to_id_field(f) if by_id else f) for f in logical_data])
    for c in extra_data_cols or ():
        # plain string -> string column; (name, sql_type) for typed
        # extras (e.g. materialized row-id longs)
        if isinstance(c, tuple):
            data_schema.add(c[0], c[1])
        else:
            data_schema.add(c, "string")
    has_dv = any(a.get("deletionVector") for a in actions)
    need_idx = has_dv or keep_row_index
    if by_id:
        # matching-by-id only activates for read schemas that CARRY field
        # ids (ours, above), so the session-wide switch is inert for
        # schemas without them; files without parquet field ids then fail
        # LOUDLY instead of silently yielding nulls (ignoreMissing stays
        # off). Known trade-off: the conf must hold at EXECUTION time
        # (the scan is lazy), so it cannot be save/restored around this
        # call — after the first id-mode read it stays on for the
        # session, and an id-annotated schema reused against id-less
        # foreign files will then error by id instead of matching by name
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    def _scan(scan_paths: list[str]) -> DataFrame:
        g = _with_file_base(spark.read.schema(data_schema).parquet(*scan_paths))
        if need_idx:
            g = _with_row_index(g)
        if mapped:
            # physical -> logical: positional struct cast renames nested
            # fields in one expression, no data movement
            keep = ([c[0] if isinstance(c, tuple) else c
                     for c in (extra_data_cols or ())] + [_FILE_BASE]
                    + ([_ROW_INDEX] if need_idx else []))
            g = g.select(
                *[F.col(_physical_name(f)).cast(f.dataType).alias(f.name)
                  for f in logical_data], *keep)
        return g

    paths = [_resolve(table_path, a["path"]) for a in actions]
    if not paths:
        return None
    if check_exists:
        for p in paths:
            if not _exists(spark, p):
                raise FileNotFoundError(
                    f"DELTA_CHANGE_DATA_FILE_NOT_FOUND: {p} referenced by "
                    f"the log but absent (vacuumed?)")
    bases = [_action_base(table_path, a["path"]) for a in actions]
    collision = len(set(bases)) != len(bases)
    if collision and has_dv:
        # DV filtering joins on the 2-segment file key; a collision would
        # also delete rows from the colliding NON-DV twin. Never produced
        # by real (UUID-named) Delta writers — reject loudly.
        raise DeltaProtocolError(
            "file basename collision in a snapshot with deletion vectors; "
            "rows cannot be attributed to files unambiguously")
    if not collision:
        df = _scan(paths)
        if part_cols:
            file_parts = [(a["path"], a.get("partitionValues") or {})
                          for a in actions]
            df = _attach_partition_columns(spark, df, schema, part_cols,
                                           file_parts, table_path)
    else:
        # basename collision (non-UUID writer): per-partition-group
        # scans, unioned — correct for any layout, more plan overhead
        groups: dict[tuple, list[str]] = {}
        for a in actions:
            pv = a.get("partitionValues") or {}
            groups.setdefault(tuple(pv.get(c) for c in part_cols), []) \
                .append(_resolve(table_path, a["path"]))
        parts = []
        typed = {f.name: f.dataType for f in schema.fields}
        for pv_tuple, group_paths in groups.items():
            g = _scan(group_paths)
            for c, v in zip(part_cols, pv_tuple):
                g = g.withColumn(c, F.lit(v).cast(typed[c]))
            parts.append(g)
        df = parts[0]
        for g in parts[1:]:
            df = df.unionByName(g)
    if has_dv:
        df = _apply_deletion_vectors(
            spark, df, table_path,
            [a for a in actions if a.get("deletionVector")])
    order = ([f.name for f in schema.fields]
             + [c[0] if isinstance(c, tuple) else c
                for c in (extra_data_cols or ())]
             + [_FILE_BASE] + ([_ROW_INDEX] if keep_row_index else []))
    return df.select(*order)


def column_range_filter(column: str, lo=None, hi=None):
    """Stats filter for ``read_delta_snapshot(stats_filter=...)``: keep a
    file unless its [minValues, maxValues] range for ``column`` provably
    misses [lo, hi]. Superset-safe by construction — a file with no stats
    (or no stats for this column) is always kept, so pairing the skip with
    the same row-level WHERE can never lose rows; the skip only removes
    guaranteed-empty scan work."""
    def keep(stats: dict | None) -> bool:
        if not stats:
            return True
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        if hi is not None and column in mins and mins[column] is not None \
                and mins[column] > hi:
            return False
        if lo is not None and column in maxs and maxs[column] is not None \
                and maxs[column] < lo:
            return False
        return True
    return keep


def read_delta_snapshot(spark: SparkSession, table_path: str,
                        version: int | None = None,
                        partition_filter=None,
                        stats_filter=None) -> DataFrame:
    """Table state as of ``version`` (``VERSION AS OF`` semantics).

    ``partition_filter``: optional ``dict[str, str] -> bool`` applied to
    each add action's partitionValues — metadata-level partition pruning,
    evaluated before any scan is planned (the 100 TB path: a pruned
    partition contributes zero files to the scan, zero tasks).

    ``stats_filter``: optional ``dict | None -> bool`` applied to each add
    action's parsed ``stats`` JSON (numRecords / minValues / maxValues /
    nullCount) — Delta DATA SKIPPING at the file level: files whose stats
    prove they cannot match are dropped at PLANNING, before any task
    launches (parquet row-group skipping still applies inside the files
    that survive). Callers MUST keep the row-level predicate on the
    returned DataFrame: the stats skip is an optimization, not a filter —
    ``column_range_filter`` builds the standard range form and keeps
    stats-less files, so pruning is always superset-safe."""
    rep = replay_log(spark, table_path, version)
    adds = list(rep.files.values())
    if partition_filter is not None:
        adds = [a for a in adds
                if partition_filter(a.get("partitionValues") or {})]
    if stats_filter is not None:
        def _stats(a: dict) -> dict | None:
            s = a.get("stats")
            if isinstance(s, str):
                try:
                    return json.loads(s)
                except ValueError:
                    return None
            return s if isinstance(s, dict) else None
        adds = [a for a in adds if stats_filter(_stats(a))]
    df = _scan_files(spark, table_path, rep, adds)
    if df is None:
        return local_frame(spark, [], rep.schema)
    return df.drop(_FILE_BASE)


def read_delta_changes(spark: SparkSession, table_path: str,
                       starting_version: int, ending_version: int) -> DataFrame:
    """Change rows for versions in ``(starting_version, ending_version]``
    with ``_change_type / _commit_version / _commit_timestamp`` — Delta
    CDF ``table_changes`` semantics.

    Commits WITH ``cdc`` actions read their explicit change files (the
    data carries ``_change_type``, including update pre/post images).
    Commits WITHOUT them contribute whole-file inserts (``add``,
    dataChange) and whole-file deletes (``remove``, dataChange — served
    by re-reading the removed file, which VACUUM may have dropped: that
    raises the DELTA_CHANGE_DATA_FILE_NOT_FOUND signature the caller's
    retry ladder already classifies). All versions are batched into at
    most three scans (cdc / inserts / deletes) with ``_commit_version``
    attached from a broadcast file -> (version, timestamp) map — never one
    scan per version. The map is built from the driver's log replay as a
    ``local_frame`` (a JVM LocalRelation): a sync starts no Python
    worker to read it back."""
    first = starting_version + 1
    rep = replay_log(spark, table_path, ending_version, collect_from=first)
    conf = rep.metadata.get("configuration") or {}
    if conf.get("delta.enableChangeDataFeed", "false").lower() != "true":
        raise ValueError(
            f"change data feed is not enabled on {table_path} "
            f"(delta.enableChangeDataFeed); cannot serve "
            f"({starting_version}, {ending_version}]")

    cdc: list[tuple[int, dict]] = []
    ins: list[tuple[int, dict]] = []
    dels: list[tuple[int, dict]] = []
    for v in range(first, ending_version + 1):
        acts = rep.commit_actions.get(v, [])
        v_cdc = [a["cdc"] for a in acts if "cdc" in a]
        if v_cdc:
            cdc += [(v, a) for a in v_cdc]
        else:
            v_ins = [a["add"] for a in acts
                     if "add" in a and a["add"].get("dataChange", True)]
            v_dels = [a["remove"] for a in acts
                      if "remove" in a and a["remove"].get("dataChange", True)]
            # a DV update commits as remove(P) + add(P, new DV): the change
            # is ROW-level (new-DV minus old-DV rows deleted), which
            # whole-file synthesis would double-count as full insert + full
            # delete. Delta always writes cdc actions for such commits when
            # CDF is enabled, so hitting this means a nonconforming log —
            # reject loudly rather than emit a wrong feed.
            removed_paths = {r["path"] for r in v_dels}
            if any(a.get("deletionVector") and a["path"] in removed_paths
                   for a in v_ins):
                raise DeltaProtocolError(
                    f"version {v} of {table_path} updates a deletion "
                    f"vector without cdc actions; its row-level changes "
                    f"cannot be synthesized from file operations")
            ins += [(v, a) for a in v_ins]
            dels += [(v, a) for a in v_dels]

    pieces: list[DataFrame] = []
    for group, ctype, extra in ((cdc, None, [_CDC_TYPE]),
                                (ins, "insert", None),
                                (dels, "delete", None)):
        if not group:
            continue
        df = _scan_files(spark, table_path, rep, [a for _, a in group],
                         extra_data_cols=extra, check_exists=True)
        ver_rows = [(_action_base(table_path, a["path"]),
                     v, rep.commit_ts_ms[v]) for v, a in group]
        ver_df = local_frame(
            spark, ver_rows, "__delta_file_base string, __v long, __ts long")
        df = (df.join(F.broadcast(ver_df), _FILE_BASE)
              .withColumn(_CDC_VERSION, F.col("__v"))
              .withColumn(_CDC_TS, F.timestamp_millis(F.col("__ts")))
              .drop("__delta_file_base", "__v", "__ts"))
        if ctype is not None:
            df = df.withColumn(_CDC_TYPE, F.lit(ctype))
        pieces.append(df)

    order = [f.name for f in rep.schema.fields] + [_CDC_TYPE, _CDC_VERSION,
                                                   _CDC_TS]
    if not pieces:
        empty = StructType([*rep.schema.fields])
        empty.add(_CDC_TYPE, "string")
        empty.add(_CDC_VERSION, "long")
        empty.add(_CDC_TS, "timestamp")
        return local_frame(spark, [], empty)
    out = pieces[0].select(*order)
    for p in pieces[1:]:
        out = out.unionByName(p.select(*order))
    return out


# ---------------------------------------------------------------------------
# minimal writer (staging utility)

def _file_stats_json(path: str) -> str | None:
    """Per-file Delta ``stats`` JSON (numRecords / minValues / maxValues /
    nullCount) from the parquet FOOTER metadata — no data read. Simple
    scalar columns only (int/float/string/bool); others are omitted from
    min/max, which data skipping treats as unskippable — superset-safe.
    ``None`` when the footer itself cannot be parsed (pyarrow does not
    recognize every Spark logical type — VARIANT files land here): the
    file is then committed without stats, unskippable but correct."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except OSError:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:  # nested: skip (protocol allows partial stats)
                continue
            try:
                st = col.statistics
                if st is None:
                    continue
                has_mm, mn, mx = st.has_min_max, None, None
                if has_mm:
                    mn, mx = st.min, st.max
                null_count = st.null_count
            except Exception:  # noqa: BLE001 — pyarrow raises
                # ArrowNotImplementedError for types it can't extract
                # (e.g. some decimals); such columns are simply unskippable
                continue
            nulls[name] = nulls.get(name, 0) + (null_count or 0)
            if has_mm:
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                # the promised "others are omitted" guard: only JSON-native
                # scalar types carry min/max (timestamp/date/decimal stats
                # come back as Python objects json.dumps rejects; a file
                # without min/max for a column is simply unskippable on it)
                if not isinstance(mn, (int, float, str, bool)):
                    continue
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return json.dumps({"numRecords": md.num_rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls})

def write_delta_table(spark: SparkSession, commits: list[DataFrame],
                      table_path: str, enable_cdf: bool = True,
                      base_ts_ms: int = 1700000000000) -> str:
    """Create a protocol-conformant Delta table: each DataFrame becomes one
    append commit (v0 additionally carries protocol + metaData).

    SCOPE: a single-writer STAGING utility — it exists so the log-replay
    reader can be exercised (and driver-attested) against real Delta
    layouts built from the test tables. It is NOT a transactional writer:
    no conflict detection, no optimistic-commit loop, local filesystems
    only. Production exports stay parquet/JSON sinks (the reference's job
    writes files, never Delta — unload_databricks_data_to_s3.py:399-403).

    Data files are written by Spark executors (``df.write.parquet`` into a
    staging dir, then renamed under the table root), so the data path
    scales with the cluster even though the commit itself is the
    single-writer simplification. ``base_ts_ms`` pins commitInfo
    timestamps (version v gets ``base_ts_ms + v*1000``) so CDF output is
    deterministic for oracle comparison."""
    import shutil

    if not _is_local(table_path):
        raise NotImplementedError(
            "write_delta_table is a local staging utility; production "
            "writes go through sinks/writers.py")
    root = _strip_scheme(table_path)
    log = os.path.join(root, LOG_DIR)
    os.makedirs(log, exist_ok=True)
    conf = {"delta.enableChangeDataFeed": "true"} if enable_cdf else {}
    for v, df in enumerate(commits):
        staging = os.path.join(root, f"_staging_v{v}")
        df.write.mode("overwrite").parquet(staging)
        actions: list[dict] = [
            {"commitInfo": {"timestamp": base_ts_ms + v * 1000,
                            "operation": "WRITE" if v else "CREATE TABLE"}}]
        if v == 0:
            actions.append({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}})
            actions.append({"metaData": {
                "id": "spark-graft-staged-delta-table",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": [],
                "configuration": conf,
                "createdTime": base_ts_ms}})
        parts = sorted(n for n in os.listdir(staging)
                       if n.endswith(".parquet"))
        for i, name in enumerate(parts):
            target = f"data-{v:05d}-{i:05d}.parquet"
            os.replace(os.path.join(staging, name),
                       os.path.join(root, target))
            add = {"path": target, "partitionValues": {},
                   "size": os.path.getsize(os.path.join(root, target)),
                   "modificationTime": base_ts_ms + v * 1000,
                   "dataChange": True}
            stats = _file_stats_json(os.path.join(root, target))
            if stats is not None:   # unparseable footer: omit, not null
                add["stats"] = stats
            actions.append({"add": add})
        shutil.rmtree(staging, ignore_errors=True)
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
    return table_path


def delta_incremental_ingest(spark: SparkSession, table_path: str,
                             state_path: str, apply_fn) -> int:
    """One scheduler tick of the reference's job loop — repeated bounded
    CDF pulls with a PERSISTED high-water mark
    (unload_databricks_data_to_s3.py:189-200 runs once per scheduled job
    with the versions passed in; this utility owns the version bookkeeping
    so a cron/Airflow tick is just ``delta_incremental_ingest(...)``).

    Reads the last ingested version from ``state_path`` (absent -> -1,
    i.e. the first tick ingests the full history as CDF rows), pulls
    ``(last, current]`` via :func:`delta_tail`, calls ``apply_fn(df,
    last, current)``, then persists the new mark ATOMICALLY (temp file +
    rename). Crash AFTER apply but BEFORE the mark persists re-delivers
    the same range on the next tick — so ``apply_fn`` must be idempotent
    on the version range, the same contract as stream_unload's
    batch-id-overwrite sinks. Returns the new high-water mark (unchanged
    when there is nothing new; the no-op tick costs one log listing and
    no Spark job)."""
    last = read_ingest_mark(spark, state_path)
    df, current = delta_tail(spark, table_path, last)
    if df is None:
        return last
    apply_fn(df, last, current)
    write_ingest_mark(spark, state_path, current)
    return current


def read_ingest_mark(spark: SparkSession, state_path: str) -> int:
    """Persisted high-water mark; absent -> -1 (first tick ingests the
    full history)."""
    if _is_local(state_path):
        sp = _strip_scheme(state_path)
        if os.path.exists(sp):
            with open(sp) as f:
                return int(f.read().strip() or -1)
        return -1
    if _exists(spark, state_path):
        return int(_read_bytes(spark, state_path).decode().strip() or -1)
    return -1


def write_ingest_mark(spark: SparkSession, state_path: str,
                      value: int | str) -> None:
    """Persist the mark ATOMICALLY (temp + rename). ``value`` is an
    ordinal for plain marks; the Iceberg anchor sidecar writes an
    ``ordinal:snapshot_id`` string through the same atomic path."""
    if _is_local(state_path):
        sp = _strip_scheme(state_path)
        os.makedirs(os.path.dirname(sp) or ".", exist_ok=True)
        tmp = sp + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(value))
        os.replace(tmp, sp)
        return
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    fs, p = _hadoop_fs(spark, state_path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(state_path + ".tmp")
    out = fs.create(tmp_p, True)
    out.write(bytearray(str(value).encode()))
    out.close()
    # HDFS/object-store rename returns false (not an exception) when
    # the destination exists — a silently stale mark would re-ingest
    # the same range forever. Delete-then-rename, and FAIL LOUDLY if
    # the rename still reports false: a crash between delete and
    # rename re-delivers once (the documented idempotency contract),
    # never loops.
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp_p, p):
        raise OSError(
            f"could not persist ingest high-water mark to {state_path}")


def delta_tail(spark: SparkSession, table_path: str,
               last_version: int) -> tuple[DataFrame | None, int]:
    """One micro-ingest increment over a real Delta table: the change rows
    for ``(last_version, current]`` plus the new high-water mark to
    persist for the next run.

    This is the reference's OWN incremental shape — its job is a repeated
    bounded CDF pull per run (unload_databricks_data_to_s3.py:189-200),
    not an always-on stream — re-expressed over the jar-less log replay.
    Returns ``(None, last_version)`` when there is nothing new, so a
    scheduler can poll cheaply: the no-op case costs one log-dir listing,
    no Spark job."""
    versions = list_delta_versions(spark, table_path)
    current = max(versions) if versions else -1
    if current <= last_version:
        return None, last_version
    return (read_delta_changes(spark, table_path, last_version, current),
            current)


# ---------------------------------------------------------------------------
# introspection (DESCRIBE HISTORY / DESCRIBE DETAIL)

def delta_history(spark: SparkSession, table_path: str) -> DataFrame:
    """``DESCRIBE HISTORY``: one row per commit still in the log, newest
    first — version, the commitInfo's wall timestamp and (when the table
    stamps them) monotonic inCommitTimestamp, operation name, and the
    operationParameters map (stringified values, like Delta's own
    history). Versions whose JSON was retired by log cleanup no longer
    appear (their state lives only in the checkpoint) — Delta parity.
    Driver-side metadata read over the few-MB log; the result is
    commit-count-bounded, never data-bounded."""
    from pyspark.sql.types import (
        LongType, MapType, StringType, StructField, StructType,
    )

    log = os.path.join(table_path, LOG_DIR)
    rows = []
    for v in list_delta_versions(spark, table_path):
        path = os.path.join(log, f"{v:020d}.json")
        ci: dict = {}
        for line in _read_bytes(spark, path).decode("utf-8").splitlines():
            if line.strip():
                a = json.loads(line)
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    break
        params = {k: (val if isinstance(val, str) else json.dumps(val))
                  for k, val in (ci.get("operationParameters")
                                 or {}).items()}
        rows.append((v, ci.get("timestamp"), ci.get("inCommitTimestamp"),
                     ci.get("operation"), params))
    schema = StructType([
        StructField("version", LongType(), False),
        StructField("timestamp_ms", LongType()),
        StructField("in_commit_timestamp_ms", LongType()),
        StructField("operation", StringType()),
        StructField("operation_parameters",
                    MapType(StringType(), StringType())),
    ])
    return local_frame(spark, rows, schema).orderBy(
        F.col("version").desc())


def delta_table_detail(spark: SparkSession, table_path: str) -> DataFrame:
    """``DESCRIBE DETAIL``: a one-row DataFrame of the table's physical
    summary — id, format, createdTime, partition columns, live file
    count and total bytes, configuration, protocol versions and feature
    lists. All log metadata: no data files are opened."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, MapType, StringType, StructField,
        StructType,
    )

    rep = replay_log(spark, table_path)
    md = rep.metadata
    row = (
        md.get("id"),
        (md.get("format") or {}).get("provider", "parquet"),
        md.get("createdTime"),
        rep.version,
        md.get("partitionColumns") or [],
        len(rep.files),
        sum(int(a.get("size") or 0) for a in rep.files.values()),
        {k: str(v) for k, v in (md.get("configuration") or {}).items()},
        int(rep.protocol.get("minReaderVersion", 1)),
        int(rep.protocol.get("minWriterVersion", 2)),
        sorted(rep.protocol.get("readerFeatures") or []),
        sorted(rep.protocol.get("writerFeatures") or []),
    )
    schema = StructType([
        StructField("id", StringType()),
        StructField("format", StringType()),
        StructField("created_time_ms", LongType()),
        StructField("version", LongType()),
        StructField("partition_columns", ArrayType(StringType())),
        StructField("num_files", LongType()),
        StructField("size_in_bytes", LongType()),
        StructField("configuration", MapType(StringType(), StringType())),
        StructField("min_reader_version", IntegerType()),
        StructField("min_writer_version", IntegerType()),
        StructField("reader_features", ArrayType(StringType())),
        StructField("writer_features", ArrayType(StringType())),
    ])
    return local_frame(spark, [row], schema)


def read_delta_snapshot_with_row_ids(spark: SparkSession, table_path: str,
                                     version: int | None = None
                                     ) -> DataFrame:
    """Snapshot carrying the FRESH row ids row tracking defines:
    ``_row_id`` = the file's ``baseRowId`` + the row's position, plus
    ``_row_commit_version`` from ``defaultRowCommitVersion``. Stable
    under DV delete/update (files never move; dead positions just drop
    out) — the writer refuses the rewrite paths that would invalidate
    them. Raises when any live file lacks a baseRowId (table not
    row-tracked, or written by a non-assigning writer)."""
    rep = replay_log(spark, table_path, version)
    missing = [p for p, a in rep.files.items() if a.get("baseRowId") is None]
    if missing:
        raise DeltaProtocolError(
            f"{len(missing)} live file(s) carry no baseRowId; row ids "
            f"are unavailable (enable delta.enableRowTracking and write "
            f"through this writer)")
    conf = rep.metadata.get("configuration") or {}
    rid_col = conf.get("delta.rowTracking.materializedRowIdColumnName",
                       "__materialized_row_id")
    rcv_col = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName",
        "__materialized_row_commit_version")
    scan = _scan_files(spark, table_path, rep, list(rep.files.values()),
                       extra_data_cols=[(rid_col, "long"),
                                        (rcv_col, "long")],
                       keep_row_index=True)
    if scan is None:
        from pyspark.sql.types import LongType, StructField, StructType
        empty = StructType(list(rep.schema.fields)
                           + [StructField("_row_id", LongType()),
                              StructField("_row_commit_version",
                                          LongType())])
        return local_frame(spark, [], empty)
    rows = [(_action_base(table_path, p), int(a["baseRowId"]),
             int(a.get("defaultRowCommitVersion") or -1))
            for p, a in rep.files.items()]
    base_df = local_frame(
        spark, rows, f"{_FILE_BASE} string, __base_row_id long, __rcv long")
    out = (scan.join(F.broadcast(base_df), _FILE_BASE, "left")
           .withColumn("_row_id", F.coalesce(
               F.col(rid_col),
               F.col("__base_row_id") + F.col(_ROW_INDEX)))
           .withColumn("_row_commit_version",
                       F.coalesce(F.col(rcv_col), F.col("__rcv"))))
    return out.select(*[f.name for f in rep.schema.fields],
                      "_row_id", "_row_commit_version")
