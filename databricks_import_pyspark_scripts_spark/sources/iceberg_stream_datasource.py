"""``spark.read`` / ``spark.readStream.format("iceberg_jarless")`` over a
jar-less Iceberg table, through PySpark 4's Python Data Source API — the
``delta_jarless`` source's Iceberg twin, next to the full change feed in
``streaming/iceberg_source.py``.

Table metadata and manifests are read by ``sources/iceberg.py`` alone:
the head through ``read_table_metadata`` (its format checks included),
a snapshot's live data and delete files through ``live_data_files``
(sequence-number inheritance and the delete-file checks of
``_sift_entries``), a snapshot's added files through
``_snapshot_added_files`` and deletion-vector bitmaps through
``_puffin_dv_blobs``. What this module owns:

* the OFFSETS: snapshot ORDINALS anchored on their snapshot ids, in
  Spark's streaming checkpoint; ``maxSnapshotsPerTrigger`` admission;
* the stream POLICY, Iceberg's own Spark streaming source's: APPEND
  snapshots serve their added data files; ``replace`` (compaction)
  snapshots are skipped (content unchanged); ``delete`` snapshots need
  ``ignoreDeletes=true`` and ``overwrite`` (UPDATE/MERGE) ones
  ``ignoreChanges=true`` — skipped rewrites are NOT re-served;
* the batch PLAN (``snapshotId`` / ``asOfOrdinal`` time travel, pushed
  filters pruned on manifest bounds): one ``InputPartition`` per live
  data file, carrying its v3 DV bitmap (KBs — the ship-the-bitmap
  model), the position-delete parquet files, and the equality delete
  files that apply to it (a STRICTLY NEWER sequence number than the
  data file's, so re-inserted rows survive);
* the executor-side pyarrow READ: columns resolved by parquet field id
  (name fallback), position deletes filtered to the task's own file,
  equality deletes as an exact, null-safe vectorized anti-join whose key
  columns are read even when the projection prunes them.

Planning runs in Spark's Python planner process with no SparkSession, so
it serves local-filesystem tables only, and manifests decode serially.
Iceberg data files materialize ALL columns including identity-partition
sources, so no partition-value re-attachment is needed.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

from .delta_log import _file_key, _stored_file_key
from .iceberg import (
    _current_schema,
    _equality_fields,
    _equality_groups,
    _puffin_dv_blobs,
    _resolve_path,
    _snapshot_added_files,
    _spark_type,
    _strip_scheme,
    live_data_files,
    read_table_metadata,
)

if TYPE_CHECKING:
    import pyarrow as pa

FORMAT_NAME = "iceberg_jarless"


def _columns(meta: dict, schema: StructType) -> list[tuple]:
    """(name, field id) of the current schema's fields ``schema`` reads."""
    want = {f.name for f in schema.fields}
    return [(f["name"], int(f["id"])) for f in _current_schema(meta)["fields"]
            if f["name"] in want]


def _op_of(sn: dict) -> str:
    return ((sn.get("summary") or {}).get("operation") or "append").lower()


class _IceFilePartition(InputPartition):
    def __init__(self, path: str, cols: list[tuple],
                 dv_blob: bytes | None = None,
                 delete_paths: tuple = (),
                 eq_deletes: tuple = (), root: str = ""):
        self.path = path
        self.root = root        # resolves relative stored delete paths
        self.cols = cols        # (name, field_id)
        self.dv_blob = dv_blob              # v3 DV bitmap, plan-resolved
        self.delete_paths = delete_paths    # v2 position-delete parquet
        # equality deletes (content=2) APPLICABLE to this data file
        # (sequence-scoped at plan time: delete seq > this file's data
        # seq — the strictly-older rule): ((key (name, fid) tuple,
        # (delete parquet paths...)), ...) grouped by equality_ids set
        self.eq_deletes = eq_deletes


def _resolve_cols(path: str, schema_arrow, cols: list[tuple]
                  ) -> list[tuple]:
    """(logical name, column-in-file) per requested (name, field_id):
    parquet FIELD ID first (the Iceberg way — rename-safe), name as
    fallback for id-less foreign files; loudly absent otherwise."""
    by_fid = {}
    for f in schema_arrow:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_fid[int(fid)] = f.name
    names = set(schema_arrow.names)
    resolved = []
    for name, fid in cols:
        if fid is not None and int(fid) in by_fid:
            resolved.append((name, by_fid[int(fid)]))
        elif name in names:
            resolved.append((name, name))
        else:
            raise ValueError(
                f"{path}: column {name!r} (field id {fid}) absent "
                f"from the file")
    return resolved


def _eq_delete_mask(table, data_cols: list[str], del_table,
                    del_cols: list[str]):
    """Vectorized NULL-SAFE membership: a boolean numpy keep-mask over
    ``table``'s rows, False where the row's key tuple appears in the
    delete table. Exact (no hashing collisions): each key column pair
    is dictionary-encoded over the CONCATENATED delete+data values (one
    shared dictionary, nulls -> code 0 on both sides, so null matches
    null — Iceberg equality-delete semantics), multi-column keys
    combine positionally with an np.unique re-encode per step to stay
    inside int64."""
    import numpy as np
    import pyarrow as pa

    n_del = del_table.num_rows
    combined = None
    for dname, cname in zip(data_cols, del_cols):
        data_arr = table[dname].combine_chunks()
        del_arr = del_table[cname].cast(data_arr.type).combine_chunks()
        both = pa.concat_arrays([del_arr, data_arr])
        enc = both.dictionary_encode()
        codes = enc.indices.fill_null(-1).to_numpy(
            zero_copy_only=False).astype("int64") + 1
        if combined is None:
            combined = codes
        else:
            k = int(codes.max()) + 1 if len(codes) else 1
            combined = combined * (k + 1) + codes
            _, combined = np.unique(combined, return_inverse=True)
    del_keys, data_keys = combined[:n_del], combined[n_del:]
    return ~np.isin(data_keys, del_keys)


def _read_ice_partition(partition: _IceFilePartition
                        ) -> Iterator["pa.RecordBatch"]:
    """Executor-side read: resolve requested columns by parquet FIELD ID
    first (the Iceberg way — rename-safe), name as fallback for
    id-less foreign files; loudly absent otherwise. Row-level deletes
    apply here: the plan-shipped DV bitmap and/or a scan of the
    snapshot's position-delete parquet files filtered to THIS data
    file's (file_path, pos) rows, then the plan-scoped EQUALITY delete
    files (the per-task applicable-delete scan Iceberg's own MoR
    readers do — delete files are CDC-sized; only this task's
    applicable ones are read). Equality KEY columns absent from the
    projection are read for the match and dropped from the output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(partition.path)
    in_file = pf.schema_arrow
    resolved = _resolve_cols(partition.path, in_file, partition.cols)
    # equality keys ride along even when pruned out of the projection
    eq_extra: list[tuple] = []
    have = {n for n, _ in partition.cols}
    for keys, _paths in partition.eq_deletes:
        for name, fid in keys:
            if name not in have:
                have.add(name)
                eq_extra.append((name, fid))
    extra_resolved = _resolve_cols(partition.path, in_file, eq_extra)
    read_cols = list(dict.fromkeys(
        [c for _, c in resolved] + [c for _, c in extra_resolved]))
    table = pf.read(columns=read_cols)
    # rename to logical names (the file may use physical/renamed ones)
    logical_of = {c: n for n, c in (extra_resolved + resolved)}
    table = table.rename_columns([logical_of[c]
                                  for c in table.column_names])
    dead_parts = []
    if partition.dv_blob is not None:
        from .delta_dv import deserialize_bitmap_array

        dead_parts.append(
            deserialize_bitmap_array(partition.dv_blob).astype("i8"))
    if partition.delete_paths:
        import pyarrow.compute as pc

        # a delete row applies to the file whose key its stored path has
        key = _file_key(None, partition.path)
        for dp in partition.delete_paths:
            dt = pq.read_table(dp, columns=["file_path", "pos"])
            mine = [p for p in pc.unique(dt["file_path"]).to_pylist()
                    if _stored_file_key(None, partition.root, p) == key]
            m = pc.is_in(dt["file_path"],
                         value_set=pa.array(mine, pa.string()))
            dead_parts.append(
                dt["pos"].filter(m).combine_chunks()
                .to_numpy(zero_copy_only=False).astype("i8"))
    if dead_parts:
        import numpy as np

        dead = np.concatenate(dead_parts)
        if len(dead):
            mask = np.ones(table.num_rows, dtype=bool)
            mask[dead[dead < table.num_rows]] = False
            table = table.filter(pa.array(mask))
    for keys, dpaths in partition.eq_deletes:
        key_names = [n for n, _ in keys]
        del_tables = []
        for dp in dpaths:
            dpf = pq.ParquetFile(dp)
            dres = _resolve_cols(dp, dpf.schema_arrow, list(keys))
            dt = dpf.read(columns=[c for _, c in dres])
            dmap = {c: n for n, c in dres}
            dt = dt.rename_columns([dmap[c] for c in dt.column_names])
            del_tables.append(dt.select(key_names))
        del_table = pa.concat_tables(del_tables)
        if del_table.num_rows and table.num_rows:
            keep = _eq_delete_mask(table, key_names, del_table,
                                   key_names)
            table = table.filter(pa.array(keep))
    out = pa.table({name: table[name] for name, _ in partition.cols})
    yield from out.to_batches()


class IcebergLogStreamReader(DataSourceStreamReader):
    """Offsets are ``{"ordinal": N, "snapshot_id": id}`` = 'snapshots
    through ordinal N served'; a micro-batch (start, end] serves the
    added data files of append snapshots start+1..end. The SNAPSHOT ID
    is the anchor, the ordinal a hint (ADVICE r13 #2): snapshot
    expiration removes entries from ``metadata['snapshots']`` and
    shifts ordinals, so a resumed offset is validated — the recorded id
    must still sit at the recorded ordinal, else the stream fails
    loudly instead of silently re-serving or skipping snapshots
    (upstream Iceberg's streaming source anchors on snapshot_id for
    the same reason)."""

    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._schema = schema
        self._ignore_deletes = str(
            options.get("ignoredeletes", "false")).lower() == "true"
        self._ignore_changes = str(
            options.get("ignorechanges", "false")).lower() == "true"
        mv = options.get("maxsnapshotspertrigger")
        self._max_snaps = int(mv) if mv else None
        self._starting = int(options.get("startingordinal", 0))
        self._last_end: int | None = None

    def initialOffset(self) -> dict:
        off = {"ordinal": self._starting - 1, "snapshot_id": None}
        if self._starting - 1 >= 0:
            snaps = read_table_metadata(None, self._path).get(
                "snapshots") or []
            if self._starting - 1 < len(snaps):
                off["snapshot_id"] = int(
                    snaps[self._starting - 1]["snapshot-id"])
        return off

    def latestOffset(self) -> dict:
        meta = read_table_metadata(None, self._path)
        snaps = meta.get("snapshots") or []
        head = len(snaps) - 1
        # bounded admission relative to the LAST PLANNED batch end (the
        # delta_jarless clamp): restart-safe because partitions() records
        # Spark's own offsets, never local guesses
        if self._max_snaps is not None and self._last_end is not None:
            head = min(head, self._last_end + self._max_snaps)
        sid = int(snaps[head]["snapshot-id"]) \
            if 0 <= head < len(snaps) else None
        return {"ordinal": head, "snapshot_id": sid}

    def _validate_anchor(self, snaps: list, off: dict,
                         which: str) -> None:
        o = int(off["ordinal"])
        if o < 0:
            return
        if o >= len(snaps):
            raise ValueError(
                f"{self._path}: {which} offset ordinal {o} is beyond "
                f"the snapshot history ({len(snaps)} snapshots) — "
                f"snapshots were expired after this offset was "
                f"recorded; restart from a fresh streaming checkpoint")
        sid = off.get("snapshot_id")
        if sid is not None and int(snaps[o]["snapshot-id"]) != int(sid):
            raise ValueError(
                f"{self._path}: {which} offset recorded snapshot id "
                f"{sid} at ordinal {o}, but the history now holds "
                f"{snaps[o]['snapshot-id']} there — snapshot "
                f"expiration shifted the ordinals; restart from a "
                f"fresh streaming checkpoint")

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["ordinal"]), int(end["ordinal"])
        self._last_end = hi
        meta = read_table_metadata(None, self._path)
        snaps = meta.get("snapshots") or []
        self._validate_anchor(snaps, start, "start")
        self._validate_anchor(snaps, end, "end")
        cols = _columns(meta, self._schema)
        root = _strip_scheme(self._path)
        parts: list[InputPartition] = []
        for ordinal in range(lo + 1, hi + 1):
            sn = snaps[ordinal]
            op = _op_of(sn)
            if op == "replace":
                continue               # compaction: content unchanged
            if op == "delete":
                if not (self._ignore_deletes or self._ignore_changes):
                    raise ValueError(
                        f"snapshot ordinal {ordinal} of {self._path} "
                        f"deletes rows. A streaming source over the "
                        f"table view cannot replay it; set "
                        f"ignoreDeletes=true to skip, or consume the "
                        f"real change feed via streaming/"
                        f"iceberg_source.py")
                continue
            if op == "overwrite":
                if not self._ignore_changes:
                    raise ValueError(
                        f"snapshot ordinal {ordinal} of {self._path} "
                        f"rewrites rows (UPDATE/MERGE). Set "
                        f"ignoreChanges=true to serve its post-image "
                        f"files (skipped deletes are NOT re-served), "
                        f"or consume streaming/iceberg_source.py")
            parts.extend(_IceFilePartition(p, cols) for p in sorted(
                _resolve_path(root, f["file_path"])
                for f in _snapshot_added_files(None, root, sn)))
        return parts

    def read(self, partition: InputPartition
             ) -> Iterator["pa.RecordBatch"]:
        yield from _read_ice_partition(partition)

    def commit(self, end: dict) -> None:
        """Offsets live in Spark's streaming checkpoint; the snapshot
        history is append-only input."""


class IcebergLogBatchReader(DataSourceReader):
    """Batch half: a snapshot's live data files with merge-on-read for
    position AND equality deletes (the latter sequence-scoped per data
    file at plan time). TIME TRAVEL via ``snapshotId`` (exact id)
    or ``asOfOrdinal`` (index into the snapshot history) — columns
    resolve by FIELD ID in the executor, so the current read schema is
    rename-safe across the history. ``pushFilters`` enables
    MANIFEST-STATS FILE PRUNING: pushed comparisons drop files whose
    decoded lower/upper bounds prove no row can match, and every filter
    is returned for Spark to re-evaluate (inexact, superset-safe — the
    same split the full-semantics reader's ``stats_filter`` uses)."""

    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._schema = schema
        self._snapshot_id = options.get("snapshotid")
        self._as_of_ordinal = options.get("asofordinal")
        self._preds: list[tuple] = []

    def pushFilters(self, filters):
        from .datasource_pruning import usable_predicates

        self._preds = usable_predicates(filters)
        return filters          # Spark re-applies everything post-scan

    def _pick_snapshot(self, meta: dict) -> dict | None:
        snaps = meta.get("snapshots") or []
        if self._snapshot_id is not None:
            want = int(self._snapshot_id)
            sn = next((s for s in snaps
                       if int(s["snapshot-id"]) == want), None)
            if sn is None:
                raise ValueError(
                    f"snapshot id {want} not in the history of "
                    f"{self._path} (have "
                    f"{[int(s['snapshot-id']) for s in snaps]})")
            return sn
        if self._as_of_ordinal is not None:
            i = int(self._as_of_ordinal)
            if not 0 <= i < len(snaps):
                raise ValueError(
                    f"ordinal {i} out of range for {self._path} "
                    f"({len(snaps)} snapshots)")
            return snaps[i]
        cur = meta.get("current-snapshot-id")
        return next((s for s in snaps
                     if int(s["snapshot-id"]) == int(cur)), None)

    def partitions(self) -> list[InputPartition]:
        from .datasource_pruning import bounds_may_match

        meta = read_table_metadata(None, self._path)
        sn = self._pick_snapshot(meta)
        if sn is None:
            return []
        root = _strip_scheme(self._path)
        preds = self._preds
        deletes: list[dict] = []
        files = live_data_files(
            None, root, meta, int(sn["snapshot-id"]),
            stats_filter=((lambda bounds: bounds_may_match(bounds, preds))
                          if preds else None),
            deletes_out=deletes)
        dvs = dict(_puffin_dv_blobs(
            None, root, [d for d in deletes
                         if d.get("content_offset") is not None]))
        pos = tuple(sorted({_resolve_path(root, d["file_path"])
                            for d in deletes
                            if int(d.get("content") or 0) == 1
                            and d.get("content_offset") is None}))
        # equality delete files by key: (key (name, field id) pairs,
        # [(path, delete sequence number)])
        eq = [(tuple((f["name"], int(f["id"]))
                     for f in _equality_fields(meta, ids)),
               [(_resolve_path(root, d["file_path"]), d["_seq"])
                for d in group])
              for ids, group in sorted(_equality_groups(
                  [d for d in deletes
                   if int(d.get("content") or 0) == 2]).items())]

        def eq_for(data_seq: int) -> tuple:
            # the strictly-older rule: a delete applies to data files
            # with a lower sequence number
            return tuple(
                (keys, paths) for keys, group in eq
                if (paths := tuple(sorted(p for p, seq in group
                                          if seq > data_seq))))

        cols = _columns(meta, self._schema)
        return [_IceFilePartition(p, cols,
                                  dv_blob=dvs.get(_file_key(None, p)),
                                  delete_paths=pos,
                                  eq_deletes=eq_for(seq), root=root)
                for p, seq in sorted((_resolve_path(root, f["file_path"]),
                                      f["_seq"]) for f in files)]

    def read(self, partition: InputPartition
             ) -> Iterator["pa.RecordBatch"]:
        yield from _read_ice_partition(partition)


class IcebergJarlessDataSource(DataSource):
    """``spark.dataSource.register(IcebergJarlessDataSource)`` then
    ``spark.read.format("iceberg_jarless").option("path", t).load()``
    for a live-file snapshot or ``spark.readStream`` for the append
    stream over snapshot ordinals."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "iceberg_jarless requires .option('path', ...)")
        fields = _current_schema(read_table_metadata(None, path))["fields"]
        return StructType([
            StructField(f["name"], _spark_type(f["type"]),
                        not f.get("required", False))
            for f in fields])

    def reader(self, schema: StructType) -> DataSourceReader:
        return IcebergLogBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return IcebergLogStreamReader(schema, dict(self.options))


def register_iceberg_stream_source(spark) -> None:
    """Idempotent registration of the format for this session. Also
    enables Python data source filter pushdown (see the delta twin:
    with the conf off, Spark refuses readers that implement
    pushFilters)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IcebergJarlessDataSource)
