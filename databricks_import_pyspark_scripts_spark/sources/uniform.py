"""UniForm-style metadata sync: publish a Delta table's CURRENT state as
Iceberg metadata over the SAME parquet data files — zero data copies,
one table directory serving both protocols (what Databricks ships as
Delta UniForm).

The sync is metadata-only: replay the Delta log, translate schema +
partition spec + live file list into an Iceberg v2 snapshot (metadata
json, Avro manifest list, one Avro manifest via the from-scratch codec),
and commit it under ``<table>/metadata``. The Delta log stays the source
of truth — rerun the sync after Delta commits to publish a fresh
snapshot. Because Delta-written parquet carries NO Iceberg field ids,
the synced metadata declares ``schema.name-mapping.default`` and the
Iceberg reader resolves those files BY NAME (the spec's name-mapping
fallback for imported files).

At 100 TB this is exactly the economics that make UniForm viable: the
sync cost is the log replay plus one manifest write — file-count-, never
data-bounded.

Reference parity: none (the reference only reads Delta through the
warehouse runtime); north-star extension surface connecting this repo's
two jar-less protocol stacks.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .avro_codec import write_container
from .delta_log import (
    _dv_bytes,
    _mapping_mode,
    _physical_name,
    _resolve,
    _strip_scheme,
    replay_log,
)
from .iceberg import (
    _DELETE_FILE_PATH_FID,
    _DELETE_POS_FID,
    _MANIFEST_FILE_SCHEMA,
    METADATA_DIR,
    STATUS_ADDED,
    IcebergProtocolError,
    _commit_metadata,
    _footer_bounds,
    _head,
    _manifest_entry_schema,
    _part_avro_fields,
    _write_hint,
)

_TYPE_MAP = {
    T.LongType: "long", T.IntegerType: "int", T.DoubleType: "double",
    T.FloatType: "float", T.StringType: "string", T.BooleanType: "boolean",
    T.DateType: "date", T.TimestampType: "timestamptz",
    T.BinaryType: "binary",
}

#: partition value parsers per iceberg type (Delta stores them as strings)
_PART_PARSE = {
    "long": int, "int": int, "string": str,
    "double": float, "float": float,
    "boolean": lambda s: s.lower() == "true",
}


class _IdGen:
    def __init__(self, start: int) -> None:
        self.next = start

    def __call__(self) -> int:
        self.next += 1
        return self.next - 1


def _mapping_names(field, mapped: bool) -> list[str]:
    """Name-mapping candidate list for one Delta field: the on-disk
    PHYSICAL name first (under column mapping), the logical name as the
    trailing fallback candidate."""
    p = _physical_name(field) if mapped else field.name
    return [p, field.name] if p != field.name else [field.name]


def _ice_type_mapping(dt: T.DataType, ids: "_IdGen", mapped: bool):
    """Spark type -> (Iceberg schema-JSON type, name-mapping child
    entries or None). Nested forms carry the spec's element/key/value
    ids (allocated from the shared counter so ids stay unique
    table-wide); the mapping mirrors the structure so field-id-less
    parquet resolves BY NAME at every level — physical names under Delta
    column mapping, logical otherwise (spec ``name-mapping`` nested
    form: struct children by field entry, list/map children under
    ``element``/``key``/``value``)."""
    if isinstance(dt, T.StructType):
        fields, kids = [], []
        for f in dt.fields:
            fid = ids()
            t, sub = _ice_type_mapping(f.dataType, ids, mapped)
            fields.append({"id": fid, "name": f.name, "required": False,
                           "type": t})
            e = {"field-id": fid, "names": _mapping_names(f, mapped)}
            if sub:
                e["fields"] = sub
            kids.append(e)
        return {"type": "struct", "fields": fields}, kids
    if isinstance(dt, T.ArrayType):
        eid = ids()
        t, sub = _ice_type_mapping(dt.elementType, ids, mapped)
        e = {"field-id": eid, "names": ["element"]}
        if sub:
            e["fields"] = sub
        return {"type": "list", "element-id": eid, "element": t,
                "element-required": not dt.containsNull}, [e]
    if isinstance(dt, T.MapType):
        kid = ids()
        kt, ksub = _ice_type_mapping(dt.keyType, ids, mapped)
        vid = ids()
        vt, vsub = _ice_type_mapping(dt.valueType, ids, mapped)
        ke = {"field-id": kid, "names": ["key"]}
        if ksub:
            ke["fields"] = ksub
        ve = {"field-id": vid, "names": ["value"]}
        if vsub:
            ve["fields"] = vsub
        return {"type": "map", "key-id": kid, "key": kt,
                "value-id": vid, "value": vt,
                "value-required": not dt.valueContainsNull}, [ke, ve]
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp", None
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})", None
    for cls, name in _TYPE_MAP.items():
        if isinstance(dt, cls):
            return name, None
    raise IcebergProtocolError(
        f"uniform sync: {dt.simpleString()} has no Iceberg translation "
        f"here (variant/interval out of scope)")


def uniform_sync_iceberg(spark: SparkSession, table_path: str,
                         ts_ms: int | None = None) -> int:
    """Publish the Delta table's current snapshot as Iceberg metadata in
    the same directory. Returns the Iceberg snapshot id (1000 + the
    Delta version it reflects — rerunning after new Delta commits yields
    a new, higher id; a rerun on an unchanged table is a no-op).

    Live DELETION VECTORS translate to Iceberg POSITION DELETES: each
    file's roaring bitmap (DBR 14+ defaults DVs on, so a rejection here
    would exclude the most common real Delta table) decodes into
    ``(file_path, pos)`` rows of one spec-reserved-field-id delete
    parquet, referenced by a content=1 manifest in the same snapshot —
    DBR's own UniForm DV answer. COLUMN MAPPING (name/id modes) is
    carried through ``schema.name-mapping.default``: the Iceberg schema
    keeps logical names and the mapping points each field id at the
    parquet PHYSICAL name RECURSIVELY (struct children by field entry,
    list/map children under element/key/value), so nested mapped
    columns resolve too — the reader rebuilds the on-disk schema from
    the mapping and casts back to logical in one positional struct
    cast. Nested struct/array/map columns translate with spec
    element/key/value ids; VARIANT rejects."""
    rep = replay_log(spark, table_path)
    md = rep.metadata
    mapping = _mapping_mode(md)

    root = _strip_scheme(table_path).rstrip("/")
    top = list(rep.schema.fields)
    mapped = mapping != "none"
    ids = _IdGen(1)
    top_ids = [ids() for _ in top]          # top-level ids first: 1..n
    fields = []
    nm_entries = []
    for fid, f in zip(top_ids, top):
        t, sub = _ice_type_mapping(f.dataType, ids, mapped)
        fields.append({"id": fid, "name": f.name, "required": False,
                       "type": t})
        e = {"field-id": fid, "names": _mapping_names(f, mapped)}
        if sub:
            e["fields"] = sub
        nm_entries.append(e)
    by_name = {f["name"]: f for f in fields}
    # on-disk parquet column name per logical TOP-LEVEL field
    # (mapping-aware; nested levels ride the recursive nm_entries)
    phys = {f.name: (_physical_name(f) if mapped else f.name)
            for f in top}
    part_cols = list(rep.partition_columns)
    part_fields = _part_avro_fields(fields, part_cols, [])

    snap_id = 1000 + rep.version
    mdir = os.path.join(root, METADATA_DIR)
    os.makedirs(mdir, exist_ok=True)

    def synced(meta: dict) -> bool:
        return snap_id in {int(s["snapshot-id"])
                           for s in meta.get("snapshots") or []}

    try:
        if synced(_head(spark, mdir)[1]):
            return snap_id            # this Delta version already synced
        first = False
    except FileNotFoundError:
        first = True

    name_to_field = {phys[f["name"]]: (f["id"], f["type"])
                     for f in fields if isinstance(f["type"], str)}
    entries = []
    for rel in sorted(rep.files):
        a = rep.files[rel]
        path = _resolve(root, rel)
        partition = {}
        for c in part_cols:
            raw = (a.get("partitionValues") or {}).get(c)
            t = by_name[c]["type"]
            parse = _PART_PARSE.get(t)
            if parse is None:
                raise IcebergProtocolError(
                    f"uniform sync cannot translate partition values of "
                    f"Iceberg type {t!r} (column {c})")
            partition[c] = None if raw is None else parse(raw)
        stats = a.get("stats")
        if isinstance(stats, str):
            stats = json.loads(stats) if stats else None
        nrec = (stats or {}).get("numRecords")
        if nrec is None:
            import pyarrow.parquet as pq
            nrec = pq.ParquetFile(path).metadata.num_rows
        try:
            lo_b, hi_b = _footer_bounds(path, name_to_field)
        except Exception:
            lo_b, hi_b = {}, {}       # unskippable-safe
        entries.append({
            "status": STATUS_ADDED, "snapshot_id": snap_id,
            "data_file": {
                "content": 0, "file_path": path,
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": int(nrec),
                "file_size_in_bytes": int(a.get("size") or
                                          os.path.getsize(path)),
                "lower_bounds": lo_b or None,
                "upper_bounds": hi_b or None}})

    tag = f"u{uuid.uuid4().hex[:12]}"
    blob = write_container(_manifest_entry_schema(part_fields), entries)
    mpath = os.path.join(mdir, f"manifest-{tag}.avro")
    with open(mpath, "wb") as f:
        f.write(blob)
    seq = rep.version + 1
    manifests = [{"manifest_path": mpath, "manifest_length": len(blob),
                  "partition_spec_id": 0, "content": 0,
                  "added_snapshot_id": snap_id,
                  "sequence_number": seq, "min_sequence_number": seq}]

    # DELETION VECTORS -> one Iceberg position-delete parquet: decode
    # each DV'd file's roaring bitmap (KB-scale driver metadata — the
    # same bytes every Delta reader of this table already decodes) into
    # (file_path, pos) rows sorted as the spec requires, referenced by a
    # content=1 manifest stamped at the SAME sequence number (position
    # deletes apply to data files with data_seq <= delete_seq)
    from . import delta_dv

    pairs: list[tuple[str, int]] = []
    for rel in sorted(rep.files):
        d = rep.files[rel].get("deletionVector")
        if not d:
            continue
        path = _resolve(root, rel)
        bm = delta_dv.deserialize_bitmap_array(
            _dv_bytes(spark, root, d))
        pairs.extend((path, int(p)) for p in bm)
    if pairs:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pairs.sort()
        dpath = os.path.join(root, "data", f"uniform-delete-{tag}.parquet")
        os.makedirs(os.path.dirname(dpath), exist_ok=True)
        pq.write_table(pa.table(
            {"file_path": pa.array([f for f, _ in pairs], pa.string()),
             "pos": pa.array([p for _, p in pairs], pa.int64())},
            schema=pa.schema([
                pa.field("file_path", pa.string(), metadata={
                    b"PARQUET:field_id":
                        str(_DELETE_FILE_PATH_FID).encode()}),
                pa.field("pos", pa.int64(), metadata={
                    b"PARQUET:field_id":
                        str(_DELETE_POS_FID).encode()})])),
            dpath)
        dentry = {"status": STATUS_ADDED, "snapshot_id": snap_id,
                  "data_file": {
                      "content": 1, "file_path": dpath,
                      "file_format": "PARQUET", "partition": {},
                      "record_count": len(pairs),
                      "file_size_in_bytes": os.path.getsize(dpath),
                      "lower_bounds": None, "upper_bounds": None}}
        dblob = write_container(_manifest_entry_schema(), [dentry])
        dmpath = os.path.join(mdir, f"manifest-{tag}-del.avro")
        with open(dmpath, "wb") as f:
            f.write(dblob)
        manifests.append({
            "manifest_path": dmpath, "manifest_length": len(dblob),
            "partition_spec_id": 0, "content": 1,
            "added_snapshot_id": snap_id,
            "sequence_number": seq, "min_sequence_number": seq})

    mlpath = os.path.join(mdir, f"snap-{snap_id}-{tag}.avro")
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))

    ts = (rep.version + 1 + 1700000000000) if ts_ms is None else int(ts_ms)
    meta = {
        "format-version": 2,
        "table-uuid": md.get("id") or str(uuid.uuid4()),
        "location": root,
        "last-sequence-number": seq,
        "last-updated-ms": ts,
        "last-column-id": ids.next - 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": c, "transform": "identity",
             "source-id": by_name[c]["id"], "field-id": 1000 + i}
            for i, c in enumerate(part_cols)]}],
        "default-spec-id": 0,
        # Delta parquet carries no Iceberg field ids: declare the spec's
        # name-mapping so readers resolve these files BY NAME at every
        # nesting level — under Delta column mapping the on-disk name
        # is the PHYSICAL one, so it leads each candidate list
        "properties": {"schema.name-mapping.default":
                       json.dumps(nm_entries)},
        "current-snapshot-id": snap_id,
        "snapshots": [{"snapshot-id": snap_id, "timestamp-ms": ts,
                       "sequence-number": seq, "manifest-list": mlpath,
                       "summary": {"operation": "append",
                                   "spark-graft-delta-version":
                                       str(rep.version)}}],
    }
    # the synced metadata depends on the Delta snapshot only, so it can be
    # published on whatever head a racing sync left — unless that head
    # already carries this snapshot
    from ..sinks import delta_writer

    if first and delta_writer._atomic_create(
            spark, os.path.join(mdir, "v1.metadata.json"),
            json.dumps(meta).encode("utf-8")):
        _write_hint(mdir, 1)
        return snap_id
    return _commit_metadata(
        spark, root, "uniform_sync_iceberg",
        lambda head: (None if synced(head) else meta, snap_id))[1]
