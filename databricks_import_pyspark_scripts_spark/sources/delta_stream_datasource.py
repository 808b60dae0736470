"""``spark.read`` / ``spark.readStream.format("delta_jarless")`` over a
jar-less Delta table, through PySpark 4's Python Data Source API
(SPARK-44076) — the native readStream UX, next to the full-featured
micro-batch consumer in ``streaming/delta_source.py``.

The log is read by ``sources/delta_log.py`` alone: every plan starts
from ``replay_log(None, path, ...)`` (checkpoint choice, sidecars, the
protocol gate, column-mapped partition values), and deletion-vector
bytes come from its ``_dv_bytes``. What this module owns:

* the OFFSETS: ``{"version": N}`` in Spark's streaming checkpoint, so
  restarts resume exactly; ``maxVersionsPerTrigger`` admission;
* the stream POLICY: a micro-batch serves the data-changing adds of its
  commits, read with ``replay_log(..., collect_from=lo + 1)``. Removes
  fail the stream loudly (Delta's ``DELTA_SOURCE_TABLE_IGNORE_CHANGES``)
  unless ``ignoreDeletes`` / ``ignoreChanges`` skip them — skipped
  rewrites are NOT re-served, Delta's own caveat. A fresh start over a
  retired JSON prefix serves the checkpoint's state as an initial
  snapshot; a mid-stream offset over retired commits fails unless
  ``failOnDataLoss=false`` skips them;
* the PLAN of each file (``_ColumnPlan``): one ``InputPartition`` per
  file carrying its physical column names / parquet field ids, its
  compressed DV bitmap (KBs — the ship-the-bitmap-to-the-task model of
  Delta's own scan) and its typed partition values from
  ``add.partitionValues`` (never materialized in the data files);
* the executor-side pyarrow READ (``_read_file_partition``): column
  pruning, the DV row filter, nested column mapping renamed through
  structs, arrays and maps (``_logicalize_arrow``).

Planning runs in Spark's Python planner process with no SparkSession,
so it serves local-filesystem tables only. Scale shape: the log is
driver-side metadata; data moves only in executors. Under
``trigger(availableNow=True)`` Spark latches the end offset once at
start (its wrapper around Python sources), so the admission bound
shapes ``processingTime`` runs; availableNow drains in one batch.
Same-wrapper caveat, pinned in the tests: the first restart after a
FAILED batch settles only the recovered batch and stops; the next
trigger continues.
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .delta_log import (
    _dv_bytes,
    _resolve,
    _strip_scheme,
    list_delta_versions,
    replay_log,
)

if TYPE_CHECKING:
    import pyarrow as pa

FORMAT_NAME = "delta_jarless"


class _ColumnPlan:
    """Driver-side resolution of the logical->physical column story for
    one table snapshot: physical names + parquet field ids per logical
    field, and the logical partition column list with Delta type names."""

    def __init__(self, meta: dict):
        fields = json.loads(meta["schemaString"])["fields"]
        md = {f["name"]: (f.get("metadata") or {}) for f in fields}
        self.types = {f["name"]: f["type"] for f in fields}
        self.physical = {
            n: m.get("delta.columnMapping.physicalName", n)
            for n, m in md.items()}
        self.fids = {n: m.get("delta.columnMapping.id")
                     for n, m in md.items()}
        # stats keys are physical under column mapping; replay has
        # already made partitionValues keys logical
        self.to_logical = {v: k for k, v in self.physical.items()}
        # metaData.partitionColumns may carry either naming under column
        # mapping (writers differ); normalize to logical
        self.part_cols = [self.to_logical.get(c, c)
                          for c in (meta.get("partitionColumns") or [])]
        self.field_order = [f["name"] for f in fields]

    def file_partition(self, table_path: str, add: dict) -> "_FilePartition":
        pv = add.get("partitionValues") or {}
        dv = add.get("deletionVector")
        data_cols = [(n, self.physical[n], self.fids[n], self.types[n])
                     for n in self.field_order if n not in self.part_cols]
        return _FilePartition(
            path=_strip_scheme(_resolve(table_path, add["path"])),
            data_cols=data_cols,
            part_vals=[(c, pv.get(c), self.types[c])
                       for c in self.part_cols],
            dv_blob=_dv_bytes(None, table_path, dv) if dv else None,
            field_order=list(self.field_order))


class _FilePartition(InputPartition):
    def __init__(self, path: str, data_cols: list[tuple],
                 part_vals: list[tuple], dv_blob: bytes | None,
                 field_order: list[str]):
        self.path = path
        self.data_cols = data_cols   # (logical, physical, field_id, type)
        self.part_vals = part_vals   # (logical, str value, delta type)
        self.dv_blob = dv_blob
        self.field_order = field_order


def _logicalize_arrow(arr, t):
    """Rename an arrow array's NESTED fields to logical names per the
    Delta columnMapping field metadata, recursively through structs,
    arrays, and maps — the read-side half of nested column mapping.
    Structs rebuild child-wise (field-id fallback for foreign id-mode
    files); lists and maps rebuild zero-copy from the ORIGINAL validity
    + offset buffers around the renamed raw child, so null slots and
    slices survive. Plain primitives pass through."""
    import pyarrow as pa

    if not isinstance(t, dict):
        return arr
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if t["type"] == "struct":
        st = arr.type
        children = []
        fields = []
        for f in t["fields"]:
            md = f.get("metadata") or {}
            phys = md.get("delta.columnMapping.physicalName", f["name"])
            fid = md.get("delta.columnMapping.id")
            idx = None
            for i in range(st.num_fields):
                fld = st.field(i)
                m = fld.metadata or {}
                if fld.name == phys or (
                        fid is not None
                        and m.get(b"PARQUET:field_id")
                        == str(int(fid)).encode()):
                    idx = i
                    break
            if idx is None:
                raise ValueError(
                    f"nested column {f['name']!r} (physical {phys!r}, "
                    f"field id {fid}) absent from the file struct")
            child = _logicalize_arrow(arr.field(idx), f["type"])
            children.append(child)
            fields.append(pa.field(f["name"], child.type))
        return pa.StructArray.from_arrays(
            children, fields=fields,
            mask=arr.is_null() if arr.null_count else None)
    if t["type"] == "array":
        # ``arr.values`` is the RAW (unsliced) child; the list's offset
        # buffer indexes the child's logical values, so a renamed
        # rebuild of the child keeps the offsets valid as-is.
        values = _logicalize_arrow(arr.values, t["elementType"])
        lt = (pa.large_list(values.type)
              if pa.types.is_large_list(arr.type)
              else pa.list_(values.type))
        out = pa.Array.from_buffers(
            lt, len(arr), arr.buffers()[:2],
            null_count=arr.null_count, offset=arr.offset,
            children=[values])
        out.validate()
        return out
    if t["type"] == "map":
        entries = arr.values          # raw entries struct<key, value>
        keys = _logicalize_arrow(entries.field(0), t["keyType"])
        items = _logicalize_arrow(entries.field(1), t["valueType"])
        # the rebuilt entries type must match the map type's child
        # EXACTLY (incl. nullability) or arrow aborts downstream
        key_f = pa.field("key", keys.type, nullable=False)
        item_f = pa.field("value", items.type,
                          nullable=arr.type.item_field.nullable)
        new_entries = pa.StructArray.from_arrays(
            [keys, items], fields=[key_f, item_f])
        out = pa.Array.from_buffers(
            pa.map_(key_f, item_f), len(arr), arr.buffers()[:2],
            null_count=arr.null_count, offset=arr.offset,
            children=[new_entries])
        out.validate()
        return out
    return arr




_PV_ARROW = {
    "string": "string", "integer": "int32", "int": "int32",
    "long": "int64", "short": "int16", "byte": "int8",
    "double": "float64", "float": "float32", "boolean": "bool",
    "date": "date32", "timestamp": "timestamp[us]",
}


def _pv_python(value: str | None, t: str):
    """Delta partition-value string -> typed Python value (the
    serialization rules of the Delta protocol's partitionValues map)."""
    if value is None:
        return None
    if t == "string":
        return value
    if t in ("integer", "int", "long", "short", "byte"):
        return int(value)
    if t in ("double", "float"):
        return float(value)
    if t == "boolean":
        return value.lower() == "true"
    if t == "date":
        import datetime
        return datetime.date.fromisoformat(value)
    if t == "timestamp":
        import datetime
        return datetime.datetime.fromisoformat(value)
    raise ValueError(f"unsupported partition column type {t!r} in the "
                     f"delta_jarless planner; use streaming/delta_source.py")


def _read_file_partition(partition: _FilePartition
                         ) -> Iterator["pa.RecordBatch"]:
    """Executor-side read of one planned file: column-pruned parquet read
    under the file's PHYSICAL names (parquet field-id fallback for
    foreign id-mode files), DV row filter by in-file position, partition
    columns synthesized from the log's typed values, output reordered to
    the logical schema."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(partition.path)
    in_file = pf.schema_arrow
    names = set(in_file.names)
    by_fid = {}
    for f in in_file:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_fid[int(fid)] = f.name
    resolved: list[tuple] = []   # (logical, column-in-file, delta type)
    for logical, physical, fid, dtype in partition.data_cols:
        if physical in names:
            resolved.append((logical, physical, dtype))
        elif fid is not None and int(fid) in by_fid:
            resolved.append((logical, by_fid[int(fid)], dtype))
        else:
            raise ValueError(
                f"{partition.path}: column {logical!r} (physical "
                f"{physical!r}, field id {fid}) absent from the file")
    table = pf.read(columns=[c for _, c, _ in resolved])
    if partition.dv_blob is not None:
        from databricks_import_pyspark_scripts_spark.sources.delta_dv import (
            deserialize_bitmap_array,
        )
        dead = deserialize_bitmap_array(partition.dv_blob)
        mask = np.ones(table.num_rows, dtype=bool)
        mask[dead[dead < table.num_rows]] = False
        table = table.filter(pa.array(mask))
    cols = {logical: _logicalize_arrow(table.column(i), dtype)
            for i, (logical, _, dtype) in enumerate(resolved)}
    n = table.num_rows
    for logical, value, t in partition.part_vals:
        cols[logical] = pa.array(
            [_pv_python(value, t)] * n, type=pa.type_for_alias(
                _PV_ARROW.get(t) or _pv_fail(t)))
    out = pa.table({name: cols[name] for name in partition.field_order})
    yield from out.to_batches()


def _pv_fail(t: str):
    raise ValueError(f"unsupported partition column type {t!r} in the "
                     f"delta_jarless planner; use streaming/delta_source.py")


class DeltaLogStreamReader(DataSourceStreamReader):
    """Offsets are ``{"version": N}`` = 'everything through commit N has
    been served'; a micro-batch (start, end] serves the add-actions of
    commits start+1..end, one file per InputPartition — each planned
    with its DV bitmap / physical column names / partition values."""

    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._schema = schema
        self._ignore_deletes = str(
            options.get("ignoredeletes", "false")).lower() == "true"
        self._ignore_changes = str(
            options.get("ignorechanges", "false")).lower() == "true"
        mv = options.get("maxversionspertrigger")
        self._max_versions = int(mv) if mv else None
        self._starting = int(options.get("startingversion", 0))
        self._fail_on_data_loss = str(
            options.get("failondataloss", "true")).lower() != "false"
        self._last_end: int | None = None

    def initialOffset(self) -> dict:
        # serve from startingVersion (inclusive), Delta-source style
        return {"version": self._starting - 1}

    def latestOffset(self) -> dict:
        versions = list_delta_versions(None, self._path)
        # fully retired json log: the newest checkpoint IS the head (its
        # state gets served as the initial snapshot)
        head = versions[-1] if versions else replay_log(None,
                                                        self._path).version
        # bounded admission (maxFilesPerTrigger analogue at commit
        # granularity): clamp relative to the LAST PLANNED batch end,
        # which partitions() records from Spark's own offsets — never
        # from local guesses, so a checkpoint restart (where this object
        # is fresh but the offset is not) stays monotone: the first
        # batch after a restart is unbounded, every later one clamped.
        if self._max_versions is not None and self._last_end is not None:
            head = min(head, self._last_end + self._max_versions)
        return {"version": head}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        self._last_end = hi
        if hi <= lo:
            # empty span: Spark also probes partitions(latest, latest)
            # at restart (setLatestSeenOffset) — no metadata needed
            return []
        seed: dict[str, dict] = {}
        try:
            rep = replay_log(None, self._path, hi, collect_from=lo + 1)
        except FileNotFoundError:
            # commits of the batch are gone from the json log
            if lo == self._starting - 1:
                # FRESH stream start (the batch begins at the initial
                # offset) over a log whose json prefix was retired by
                # log cleanup: the newest checkpoint in the span seeds
                # an INITIAL SNAPSHOT batch (Delta-source semantics —
                # deletes inside the retired span are already netted
                # out of the checkpoint's live set, so the
                # ignoreDeletes/ignoreChanges guards don't apply to it)
                cp = replay_log(None, self._path, hi).checkpoint
                if cp is None or cp <= lo:
                    raise
                seed = replay_log(None, self._path, cp).files
                rep = replay_log(None, self._path, hi, collect_from=cp + 1)
            elif self._fail_on_data_loss:
                # MID-STREAM offset inside a retired span (ADVICE r13
                # #1): re-serving a checkpoint here would re-deliver
                # rows already served in commits <= start, violating
                # exactly-once — real Delta's source raises a data-loss
                # error instead, and so does this one
                raise ValueError(
                    f"{self._path}: commits after offset {lo} were "
                    f"retired by log cleanup after this stream already "
                    f"served it; replaying a checkpoint would re-deliver "
                    f"rows from commits <= {lo}. Restart the query from "
                    f"a fresh streaming checkpoint to take an initial "
                    f"snapshot, or set failOnDataLoss=false to skip the "
                    f"missing commits") from None
            else:
                # failOnDataLoss=false: serve only the surviving commits
                # (log cleanup retires a prefix, so they are a suffix)
                rest = [v for v in list_delta_versions(None, self._path)
                        if lo < v <= hi]
                if not rest:
                    return []
                rep = replay_log(None, self._path, hi,
                                 collect_from=rest[0])
        plan = _ColumnPlan(rep.metadata)
        parts: list[InputPartition] = [
            plan.file_partition(self._path, seed[p]) for p in sorted(seed)]
        for v, acts in sorted(rep.commit_actions.items()):
            for a in acts:
                if "add" in a and a["add"].get("dataChange", True):
                    parts.append(plan.file_partition(self._path, a["add"]))
                elif "remove" in a and a["remove"].get("dataChange",
                                                       True):
                    if not (self._ignore_deletes or self._ignore_changes):
                        raise ValueError(
                            f"commit {v} of {self._path} removes data "
                            f"(delete/update/compaction). A streaming "
                            f"source over the table view cannot replay "
                            f"it; set ignoreDeletes=true (deletes) / "
                            f"ignoreChanges=true (rewrites) to skip, or "
                            f"consume real CDF via streaming/"
                            f"delta_source.py")
        return parts

    def read(self, partition: InputPartition
             ) -> Iterator["pa.RecordBatch"]:
        yield from _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        """No source-side bookkeeping: offsets live in Spark's streaming
        checkpoint, and the log itself is append-only input."""


class DeltaLogBatchReader(DataSourceReader):
    """Batch half of the format: one InputPartition per live file at the
    requested version (``versionAsOf`` option), pyarrow-read with column
    pruning, DV filtering, column-mapping resolution, and partition-value
    re-attachment — the same per-file planner as the stream.
    ``pushFilters`` enables DATA SKIPPING: pushed comparisons drop files
    whose add-action stats (minValues/maxValues) or PARTITION VALUES
    (exact per-file constants — partition pruning) prove no row can
    match; every filter is returned for Spark to re-evaluate (inexact,
    superset-safe — the split ``read_delta_snapshot(stats_filter=...)``
    uses)."""

    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._schema = schema
        v = options.get("versionasof")
        self._version = int(v) if v is not None else None
        self._preds: list[tuple] = []

    def pushFilters(self, filters):
        from .datasource_pruning import usable_predicates

        self._preds = usable_predicates(filters)
        return filters          # Spark re-applies everything post-scan

    def _file_bounds(self, plan: _ColumnPlan, add: dict) -> dict:
        """{logical column: (lo, hi)} from the add action's stats JSON
        (keys are PHYSICAL under column mapping) plus degenerate
        (v, v) bounds from typed partition values."""
        out: dict[str, tuple] = {}
        s = add.get("stats")
        if isinstance(s, str):
            try:
                s = json.loads(s)
            except ValueError:
                s = None
        if isinstance(s, dict):
            mins = s.get("minValues") or {}
            maxs = s.get("maxValues") or {}
            for k, lo in mins.items():
                name = plan.to_logical.get(k, k)
                hi = maxs.get(k)
                if lo is not None and hi is not None:
                    out[name] = (lo, hi)
        for name, v in (add.get("partitionValues") or {}).items():
            t = plan.types.get(name)
            if isinstance(t, str):
                try:
                    pv = _pv_python(v, t)
                except ValueError:
                    continue
                if pv is not None:
                    out[name] = (pv, pv)
        return out

    def partitions(self) -> list[InputPartition]:
        from .datasource_pruning import bounds_may_match

        rep = replay_log(None, self._path, self._version)
        plan = _ColumnPlan(rep.metadata)
        adds = [rep.files[p] for p in sorted(rep.files)]
        if self._preds:
            adds = [a for a in adds
                    if bounds_may_match(self._file_bounds(plan, a),
                                        self._preds)]
        return [plan.file_partition(self._path, add) for add in adds]

    def read(self, partition: InputPartition
             ) -> Iterator["pa.RecordBatch"]:
        yield from _read_file_partition(partition)


class DeltaJarlessDataSource(DataSource):
    """``spark.dataSource.register(DeltaJarlessDataSource)`` then
    ``spark.read.format("delta_jarless").option("path", t).load()`` for a
    snapshot (``versionAsOf`` optional) or ``spark.readStream`` for the
    commit stream."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_jarless requires .option('path', ...)")
        v = self.options.get("versionasof")
        return replay_log(None, path,
                          int(v) if v is not None else None).schema

    def reader(self, schema: StructType) -> DataSourceReader:
        return DeltaLogBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        # the log's guards (schema() is skipped when the user supplies
        # a schema explicitly)
        replay_log(None, self.options["path"])
        return DeltaLogStreamReader(schema, dict(self.options))


def register_delta_stream_source(spark) -> None:
    """Idempotent registration of the format for this session. Also
    enables Python data source filter pushdown (a runtime SQL conf that
    defaults OFF in Spark 4.1) — with it off, Spark REFUSES to plan any
    reader that implements pushFilters, so registration and the conf
    must travel together."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaJarlessDataSource)
