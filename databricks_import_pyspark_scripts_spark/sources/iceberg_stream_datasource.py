"""REAL ``spark.readStream.format("iceberg_jarless")`` over a jar-less
Iceberg snapshot history, via PySpark 4's Python Data Source API — the
``delta_jarless`` source's Iceberg twin (VERDICT r12 #6 follow-through:
the availableNow loop in ``streaming/iceberg_source.py`` covers the
full-semantics change feed; THIS source is the native readStream UX).

Semantics mirror Iceberg's own Spark streaming source: the stream
serves APPEND snapshots' added data files, one file per
``InputPartition`` (pyarrow, field-id-resolved and column-pruned);
offsets are snapshot ORDINALS persisted in the streaming checkpoint.
Row-visibility-changing snapshots fail the stream loudly unless
skipped — ``replace`` (compaction) snapshots are always skipped
(content unchanged, Iceberg's streaming source does the same),
``delete`` snapshots need ``ignoreDeletes=true``, ``overwrite``
(UPDATE/MERGE post-image) snapshots need ``ignoreChanges=true`` with
the standard caveat: skipped rewrites are NOT re-served as change rows;
consume ``streaming/iceberg_source.py`` for the real change feed.

The batch half serves the CURRENT snapshot's live data files with full
MERGE-ON-READ: v3 puffin DELETION VECTORS ship as per-file compressed
bitmaps resolved at plan time (KB each — the delta_jarless
ship-the-bitmap model), v2 position-delete PARQUET files ship as paths
that each task scans filtered to its OWN data file (the per-task
applicable-delete scan Iceberg's own MoR readers do; delete files are
partition-scoped in real layouts, bounding the re-read), and EQUALITY
deletes (content=2, the Flink-CDC upsert shape — VERDICT r13 #2) are
sequence-scoped at plan time (a delete applies to data files with a
STRICTLY OLDER data sequence number, so re-inserted rows survive) and
applied in the executor as an exact, null-safe vectorized anti-join
over the delete file's key columns — key columns pruned out of the
projection are read for the match and dropped from the output.

Scale shape: planning is driver-side metadata (Avro manifest decode via
the from-scratch codec — KBs per snapshot); data bytes move only in
executors' Python workers. Iceberg data files materialize ALL columns
including identity-partition sources (spec), so no partition-value
re-attachment is needed — pruning is plain column selection.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

from .avro_codec import read_container
from .delta_log import _file_key, _stored_file_key
from .iceberg import (
    _VMETA_RE,
    STATUS_ADDED,
    IcebergProtocolError,
    _resolve_path,
    _spark_type,
    _strip_scheme,
)

if TYPE_CHECKING:
    import pyarrow as pa

FORMAT_NAME = "iceberg_jarless"


def _load_meta(table_path: str) -> dict:
    """Head metadata by local-FS version listing (the planner runs in
    Spark's Python planning process — no SparkSession, plain open())."""
    root = _strip_scheme(table_path)
    mdir = os.path.join(root, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"{table_path} has no Iceberg metadata/")
    versions = sorted(int(m.group(1)) for n in os.listdir(mdir)
                      if (m := _VMETA_RE.match(n)))
    if not versions:
        raise FileNotFoundError(f"no v*.metadata.json under {mdir}")
    return json.load(open(os.path.join(
        mdir, f"v{versions[-1]}.metadata.json")))


def _current_fields(meta: dict) -> list[dict]:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas") or []:
        if s.get("schema-id", 0) == sid:
            return s["fields"]
    if meta.get("schema"):
        return meta["schema"]["fields"]
    raise IcebergProtocolError("no current schema in table metadata")


def _snapshot_manifests(table_path: str, sn: dict) -> list[dict]:
    ml = _resolve_path(_strip_scheme(table_path), sn["manifest-list"])
    _, manifests = read_container(open(ml, "rb").read())
    return manifests


def _added_data_files(table_path: str, sn: dict) -> list[str]:
    """Data files ADDED by snapshot ``sn`` (manifests it contributed,
    ADDED-status entries)."""
    root = _strip_scheme(table_path)
    sid = int(sn["snapshot-id"])
    out = []
    for m in _snapshot_manifests(table_path, sn):
        if int(m.get("content") or 0) != 0:
            continue
        if int(m.get("added_snapshot_id") or -1) != sid:
            continue
        _, entries = read_container(open(
            _resolve_path(root, m["manifest_path"]), "rb").read())
        for e in entries:
            if int(e.get("status") or 0) != STATUS_ADDED:
                continue
            out.append(_resolve_path(root, e["data_file"]["file_path"]))
    return sorted(out)


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
            snaps = _load_meta(self._path).get("snapshots") or []
            if self._starting - 1 < len(snaps):
                off["snapshot_id"] = int(
                    snaps[self._starting - 1]["snapshot-id"])
        return off

    def latestOffset(self) -> dict:
        meta = _load_meta(self._path)
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
        meta = _load_meta(self._path)
        snaps = meta.get("snapshots") or []
        self._validate_anchor(snaps, start, "start")
        self._validate_anchor(snaps, end, "end")
        fields = _current_fields(meta)
        want = {f.name for f in self._schema.fields}
        cols = [(f["name"], int(f["id"])) for f in fields
                if f["name"] in want]
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
            parts.extend(_IceFilePartition(p, cols)
                         for p in _added_data_files(self._path, sn))
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
        from .iceberg import decoded_column_bounds

        meta = _load_meta(self._path)
        sn = self._pick_snapshot(meta)
        if sn is None:
            return []
        root = _strip_scheme(self._path)
        fields = _current_fields(meta)
        want = {f.name for f in self._schema.fields}
        cols = [(f["name"], int(f["id"])) for f in fields
                if f["name"] in want]
        fv = int(meta.get("format-version", 1))
        live: list[tuple[str, int]] = []       # (path, data seq)
        pos_delete_paths: list[str] = []
        eq_files: list[tuple] = []   # (path, ids tuple, delete seq)
        dv_by_key: dict[str, bytes] = {}
        puffin_cache: dict[str, bytes] = {}

        def entry_seq(e: dict, mf_seq: int) -> int:
            # v2 sequence-number inheritance is ADDED-only per spec —
            # an EXISTING entry (manifest rewrite) must carry its own
            # (sources/iceberg._sift_entries applies the same rule)
            own = e.get("sequence_number")
            if own is not None:
                return int(own)
            if fv >= 2 and int(e.get("status") or 0) != STATUS_ADDED:
                raise ValueError(
                    f"{self._path}: manifest entry status="
                    f"{e.get('status')} with null sequence_number "
                    f"(inheritance is ADDED-only per spec)")
            return mf_seq

        for m in _snapshot_manifests(self._path, sn):
            mf_seq = int(m.get("sequence_number") or 0)
            _, entries = read_container(open(
                _resolve_path(root, m["manifest_path"]), "rb").read())
            if int(m.get("content") or 0) == 1:   # delete manifest
                for e in entries:
                    if int(e.get("status") or 0) == 2:   # DELETED
                        continue
                    df = e["data_file"]
                    if int(df.get("content") or 0) == 2:
                        # EQUALITY delete (content=2, the Flink-CDC
                        # upsert shape): collected with its sequence
                        # number; applicability is scoped per data
                        # file below (VERDICT r13 #2)
                        if not df.get("equality_ids"):
                            raise ValueError(
                                "equality delete file carries no "
                                "equality_ids; rows cannot be matched")
                        eq_files.append((
                            _resolve_path(root, df["file_path"]),
                            tuple(sorted(int(i)
                                         for i in df["equality_ids"])),
                            entry_seq(e, mf_seq)))
                        continue
                    if df.get("content_offset") is not None:
                        # v3 puffin DV: resolve the KB-scale bitmap at
                        # plan time, ship it with its data file
                        from .puffin import read_puffin_blob

                        ppath = _resolve_path(root, df["file_path"])
                        raw = puffin_cache.get(ppath)
                        if raw is None:
                            raw = open(ppath, "rb").read()
                            puffin_cache[ppath] = raw
                        key = _stored_file_key(
                            None, root, df["referenced_data_file"])
                        dv_by_key[key] = read_puffin_blob(
                            raw, int(df["content_offset"]),
                            int(df["content_size_in_bytes"]))
                    else:
                        pos_delete_paths.append(
                            _resolve_path(root, df["file_path"]))
                continue
            for e in entries:
                if int(e.get("status") or 0) == 2:       # DELETED
                    continue
                if self._preds and not bounds_may_match(
                        decoded_column_bounds(meta, e["data_file"]),
                        self._preds):
                    continue                 # stats prove no match
                live.append((_resolve_path(
                    root, e["data_file"]["file_path"]),
                    entry_seq(e, mf_seq)))
        pos_t = tuple(sorted(set(pos_delete_paths)))
        eq_keys: dict[tuple, tuple] = {}
        if eq_files:
            # equality_ids -> top-level (name, field id) pairs; nested
            # or unknown ids reject loudly (full-reader rule)
            by_id = {int(f["id"]): f for f in fields
                     if isinstance(f["type"], str)}
            for _, ids, _seq in eq_files:
                if ids in eq_keys:
                    continue
                missing = [i for i in ids if i not in by_id]
                if missing:
                    raise ValueError(
                        f"equality_ids reference unknown/nested field "
                        f"ids {missing}")
                eq_keys[ids] = tuple((by_id[i]["name"], i)
                                     for i in ids)

        def eq_for(data_seq: int) -> tuple:
            groups: dict[tuple, list[str]] = {}
            for dpath, ids, dseq in eq_files:
                if dseq > data_seq:      # strictly-older rule
                    groups.setdefault(ids, []).append(dpath)
            return tuple((eq_keys[ids], tuple(sorted(paths)))
                         for ids, paths in sorted(groups.items()))

        return [_IceFilePartition(p, cols,
                                  dv_blob=dv_by_key.get(_file_key(None, p)),
                                  delete_paths=pos_t,
                                  eq_deletes=eq_for(seq), root=root)
                for p, seq in sorted(live)]

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
        fields = _current_fields(_load_meta(path))
        return StructType([
            StructField(f["name"], _spark_type(f["type"]),
                        not f.get("required", False))
            for f in fields])

    def reader(self, schema: StructType) -> DataSourceReader:
        _load_meta(self.options["path"])      # fail fast on non-tables
        return IcebergLogBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        _load_meta(self.options["path"])
        return IcebergLogStreamReader(schema, dict(self.options))


def register_iceberg_stream_source(spark) -> None:
    """Idempotent registration of the format for this session. Also
    enables Python data source filter pushdown (see the delta twin:
    with the conf off, Spark refuses readers that implement
    pushFilters)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IcebergJarlessDataSource)
