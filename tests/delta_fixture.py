"""Hand-authored Delta table fixture conforming to the PUBLIC Delta Lake
table protocol (github.com/delta-io/delta PROTOCOL.md) — the environment
cannot install delta-spark (README "environment boundaries"), so the log is
written directly: parquet data files via pyarrow, ``_delta_log`` JSON
commits with add/remove/cdc/metaData/protocol/commitInfo actions, and an
optional hand-rolled checkpoint. This is a TEST fixture for
``sources/delta_log.py`` (the pure-Python reader); production code never
writes Delta.

Table: schema (id BIGINT, val DOUBLE, part STRING), partitioned by
``part``, CDF enabled. Three commits:

* v0  adds part=a/f1 (ids 1-3), part=b/f2 (ids 4-5), null-partition f3 (id 6)
* v1  removes f2, adds part=a/f4 (ids 7-8)         — pure file ops commit
* v2  cdc commit: id=1 val 1.0 -> 99.0 (update pre/post images in a
      ``_change_data`` file; the accompanying add/remove rewrite of f1 is
      NOT part of the change feed because cdc actions are present)
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA_STRING = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "val", "type": "double", "nullable": True, "metadata": {}},
        {"name": "part", "type": "string", "nullable": True, "metadata": {}},
    ],
})

V2_TS_MS = 1700000000000  # fixed commitInfo timestamp for v2


def _write_parquet(path: str, ids: list[int], vals: list[float],
                   change_types: list[str] | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {"id": pa.array(ids, pa.int64()),
            "val": pa.array(vals, pa.float64())}
    if change_types is not None:
        cols["_change_type"] = pa.array(change_types, pa.string())
    pq.write_table(pa.table(cols), path)


def _commit(log_dir: str, version: int, actions: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _meta(cdf: bool = True, configuration: dict | None = None,
          extra: dict | None = None) -> dict:
    conf = dict(configuration or {})
    if cdf:
        conf["delta.enableChangeDataFeed"] = "true"
    md = {"id": "11111111-2222-3333-4444-555555555555",
          "format": {"provider": "parquet", "options": {}},
          "schemaString": SCHEMA_STRING,
          "partitionColumns": ["part"],
          "configuration": conf, "createdTime": 1690000000000}
    md.update(extra or {})
    return md


def make_delta_table(table_path: str, cdf: bool = True) -> str:
    """Write the 3-commit fixture table; returns ``table_path``."""
    log = os.path.join(table_path, "_delta_log")
    _write_parquet(os.path.join(table_path, "part=a", "f1.parquet"),
                   [1, 2, 3], [1.0, 2.0, 3.0])
    _write_parquet(os.path.join(table_path, "part=b", "f2.parquet"),
                   [4, 5], [4.0, 5.0])
    _write_parquet(os.path.join(table_path, "f3.parquet"), [6], [6.0])
    _commit(log, 0, [
        {"commitInfo": {"timestamp": V2_TS_MS - 2000,
                        "operation": "CREATE TABLE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": _meta(cdf)},
        {"add": {"path": "part=a/f1.parquet",
                 "partitionValues": {"part": "a"}, "size": 1, "dataChange": True,
                 "modificationTime": 1}},
        {"add": {"path": "part=b/f2.parquet",
                 "partitionValues": {"part": "b"}, "size": 1, "dataChange": True,
                 "modificationTime": 1}},
        {"add": {"path": "f3.parquet",
                 "partitionValues": {"part": None}, "size": 1, "dataChange": True,
                 "modificationTime": 1}},
    ])
    _write_parquet(os.path.join(table_path, "part=a", "f4.parquet"),
                   [7, 8], [7.0, 8.0])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": V2_TS_MS - 1000, "operation": "WRITE"}},
        {"add": {"path": "part=a/f4.parquet",
                 "partitionValues": {"part": "a"}, "size": 1, "dataChange": True,
                 "modificationTime": 2}},
        {"remove": {"path": "part=b/f2.parquet", "deletionTimestamp": 2,
                    "dataChange": True,
                    "partitionValues": {"part": "b"}}},
    ])
    _write_parquet(os.path.join(table_path, "part=a", "f1b.parquet"),
                   [1, 2, 3], [99.0, 2.0, 3.0])
    _write_parquet(
        os.path.join(table_path, "_change_data", "cdc-0.parquet"),
        [1, 1], [1.0, 99.0], ["update_preimage", "update_postimage"])
    _commit(log, 2, [
        {"commitInfo": {"timestamp": V2_TS_MS, "operation": "UPDATE"}},
        {"add": {"path": "part=a/f1b.parquet",
                 "partitionValues": {"part": "a"}, "size": 1, "dataChange": True,
                 "modificationTime": 3}},
        {"remove": {"path": "part=a/f1.parquet", "deletionTimestamp": 3,
                    "dataChange": True,
                    "partitionValues": {"part": "a"}}},
        {"cdc": {"path": "_change_data/cdc-0.parquet",
                 "partitionValues": {"part": "a"}, "size": 1,
                 "dataChange": False}},
    ])
    return table_path


def make_dv_delta_table(table_path: str) -> str:
    """Deletion-vector fixture (protocol v3 reader feature
    ``deletionVectors``), CDF enabled. Same (id, val, part) schema:

    * v0  adds part=a/f1 (ids 1-6), part=b/f2 (ids 7-10)
    * v1  DV DELETE of ids 2 and 4 from f1 (row indexes 1, 3) — the DV is
          stored in a FILE (storageType "u", z85 uuid, offset/checksum
          framing) and the commit carries the cdc delete rows Delta writes
          for DV DML under CDF, plus the remove(f1)+add(f1, DV) pair
    * v2  DV DELETE of id 8 from f2 (row index 1) — INLINE DV
          (storageType "i", z85 payload), cdc delete row

    Expected snapshots: v0 = ids 1-10; v1 drops 2, 4; v2 additionally
    drops 8. CDF (0, 2] = deletes of 2, 4 @v1 and 8 @v2.
    """
    import uuid as _uuid

    from databricks_import_pyspark_scripts_spark.sources.delta_dv import (
        make_uuid_path_or_inline,
        serialize_bitmap_array,
        write_dv_file,
        z85_encode,
    )

    log = os.path.join(table_path, "_delta_log")
    _write_parquet(os.path.join(table_path, "part=a", "f1.parquet"),
                   [1, 2, 3, 4, 5, 6], [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    _write_parquet(os.path.join(table_path, "part=b", "f2.parquet"),
                   [7, 8, 9, 10], [7.0, 8.0, 9.0, 10.0])
    _commit(log, 0, [
        {"commitInfo": {"timestamp": V2_TS_MS - 2000,
                        "operation": "CREATE TABLE"}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": _meta(cdf=True)},
        {"add": {"path": "part=a/f1.parquet",
                 "partitionValues": {"part": "a"}, "size": 1,
                 "dataChange": True, "modificationTime": 1}},
        {"add": {"path": "part=b/f2.parquet",
                 "partitionValues": {"part": "b"}, "size": 1,
                 "dataChange": True, "modificationTime": 1}},
    ])
    # v1: file-stored DV over f1 deleting row indexes 1 and 3 (ids 2, 4)
    u = _uuid.UUID("aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeffff")
    dv_data = serialize_bitmap_array([1, 3])
    (offset, size), = write_dv_file(
        os.path.join(table_path, f"deletion_vector_{u}.bin"), [dv_data])
    dv1 = {"storageType": "u",
           "pathOrInlineDv": make_uuid_path_or_inline(u),
           "offset": offset, "sizeInBytes": size, "cardinality": 2}
    _write_parquet(
        os.path.join(table_path, "_change_data", "cdc-dv1.parquet"),
        [2, 4], [2.0, 4.0], ["delete", "delete"])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": V2_TS_MS - 1000, "operation": "DELETE"}},
        {"remove": {"path": "part=a/f1.parquet", "deletionTimestamp": 2,
                    "dataChange": True,
                    "partitionValues": {"part": "a"}}},
        {"add": {"path": "part=a/f1.parquet",
                 "partitionValues": {"part": "a"}, "size": 1,
                 "dataChange": True, "modificationTime": 2,
                 "deletionVector": dv1}},
        {"cdc": {"path": "_change_data/cdc-dv1.parquet",
                 "partitionValues": {"part": "a"}, "size": 1,
                 "dataChange": False}},
    ])
    # v2: inline DV over f2 deleting row index 1 (id 8); z85 needs 4-byte
    # groups, so the payload is zero-padded and sizeInBytes keeps the truth
    dv2_data = serialize_bitmap_array([1])
    pad = (-len(dv2_data)) % 4
    dv2 = {"storageType": "i",
           "pathOrInlineDv": z85_encode(dv2_data + b"\0" * pad),
           "sizeInBytes": len(dv2_data), "cardinality": 1}
    _write_parquet(
        os.path.join(table_path, "_change_data", "cdc-dv2.parquet"),
        [8], [8.0], ["delete"])
    _commit(log, 2, [
        {"commitInfo": {"timestamp": V2_TS_MS, "operation": "DELETE"}},
        {"remove": {"path": "part=b/f2.parquet", "deletionTimestamp": 3,
                    "dataChange": True,
                    "partitionValues": {"part": "b"}}},
        {"add": {"path": "part=b/f2.parquet",
                 "partitionValues": {"part": "b"}, "size": 1,
                 "dataChange": True, "modificationTime": 3,
                 "deletionVector": dv2}},
        {"cdc": {"path": "_change_data/cdc-dv2.parquet",
                 "partitionValues": {"part": "b"}, "size": 1,
                 "dataChange": False}},
    ])
    return table_path


CM_SCHEMA_STRING = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa1"}},
        {"name": "info", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-aaa2"},
         "type": {"type": "struct", "fields": [
             {"name": "score", "type": "double", "nullable": True,
              "metadata": {"delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "col-aaa3"}},
             {"name": "tag", "type": "string", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "col-aaa4"}},
         ]}},
        {"name": "part", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 5,
                      "delta.columnMapping.physicalName": "col-aaa5"}},
    ],
})


def _write_cm_parquet(path: str, ids: list[int], scores: list[float],
                      tags: list[str]) -> None:
    """Data file for the column-mapped table: columns stored under their
    PHYSICAL names, including inside the nested struct."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    info = pa.StructArray.from_arrays(
        [pa.array(scores, pa.float64()), pa.array(tags, pa.string())],
        names=["col-aaa3", "col-aaa4"])
    pq.write_table(pa.table({"col-aaa1": pa.array(ids, pa.int64()),
                             "col-aaa2": info}), path)


def make_column_mapped_table(table_path: str) -> str:
    """Column mapping ``name`` mode fixture (legacy protocol 2/5 — the
    pre-table-features encoding, exercising the no-readerFeatures path):
    logical (id, info struct<score, tag>, part) stored physically as
    col-aaa1..col-aaa5, partitioned by ``part`` with partitionValues keyed
    by the PHYSICAL name, two append commits for replay."""
    log = os.path.join(table_path, "_delta_log")
    meta = {"id": "66666666-7777-8888-9999-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": CM_SCHEMA_STRING,
            "partitionColumns": ["part"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "5"},
            "createdTime": 1690000000000}
    _write_cm_parquet(os.path.join(table_path, "x=1", "g1.parquet"),
                      [1, 2], [0.5, 1.5], ["a", "b"])
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta},
        {"add": {"path": "x=1/g1.parquet",
                 "partitionValues": {"col-aaa5": "p1"}, "size": 1,
                 "dataChange": True, "modificationTime": 1}},
    ])
    _write_cm_parquet(os.path.join(table_path, "x=2", "g2.parquet"),
                      [3], [2.5], ["c"])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": V2_TS_MS, "operation": "WRITE"}},
        {"add": {"path": "x=2/g2.parquet",
                 "partitionValues": {"col-aaa5": "p2"}, "size": 1,
                 "dataChange": True, "modificationTime": 2}},
    ])
    return table_path


CM_COLLECTIONS_SCHEMA_STRING = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-c1"}},
        {"name": "tags", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-c2"},
         "type": {"type": "array", "containsNull": True,
                  "elementType": {"type": "struct", "fields": [
                      {"name": "score", "type": "double",
                       "nullable": True, "metadata": {
                           "delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "col-c3"}},
                      {"name": "label", "type": "string",
                       "nullable": True, "metadata": {
                           "delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "col-c4"}},
                  ]}}},
        {"name": "props", "nullable": True,
         "metadata": {"delta.columnMapping.id": 5,
                      "delta.columnMapping.physicalName": "col-c5"},
         "type": {"type": "map", "keyType": "string",
                  "valueContainsNull": True,
                  "valueType": {"type": "struct", "fields": [
                      {"name": "x", "type": "long", "nullable": True,
                       "metadata": {
                           "delta.columnMapping.id": 6,
                           "delta.columnMapping.physicalName": "col-c6"}},
                  ]}}},
    ],
})


def _write_cm_collections_parquet(path: str, rows: list[tuple]) -> None:
    """Data file for the collections column-mapped table: array/map
    columns stored under PHYSICAL names at every nesting level.
    ``rows`` = (id, tags-or-None, props-or-None) with tags a list of
    (score, label) / None elements and props a dict name -> x."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    elem_t = pa.struct([("col-c3", pa.float64()),
                        ("col-c4", pa.string())])
    val_t = pa.struct([("col-c6", pa.int64())])
    ids, tags, props = [], [], []
    for rid, tg, pr in rows:
        ids.append(rid)
        tags.append(None if tg is None else [
            None if e is None else {"col-c3": e[0], "col-c4": e[1]}
            for e in tg])
        props.append(None if pr is None else [
            (k, None if v is None else {"col-c6": v})
            for k, v in pr.items()])
    pq.write_table(pa.table({
        "col-c1": pa.array(ids, pa.int64()),
        "col-c2": pa.array(tags, pa.list_(elem_t)),
        "col-c5": pa.array(props, pa.map_(pa.string(), val_t)),
    }), path)


def make_column_mapped_collections_table(table_path: str) -> str:
    """Column mapping ``name`` mode with mapped fields INSIDE collection
    types: tags array<struct<score,label>> and props map<string,
    struct<x>>, physical names col-c1..col-c6, nulls at every level
    (null array, null element, empty map, null map value), two append
    commits for streaming replay."""
    log = os.path.join(table_path, "_delta_log")
    meta = {"id": "aaaabbbb-cccc-dddd-eeee-ffff00001111",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": CM_COLLECTIONS_SCHEMA_STRING,
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "6"},
            "createdTime": 1690000000000}
    _write_cm_collections_parquet(
        os.path.join(table_path, "c1.parquet"),
        [(1, [(0.5, "a"), (1.5, "b")], {"k": 7}),
         (2, None, None),
         (3, [], {})])
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta},
        {"add": {"path": "c1.parquet", "partitionValues": {}, "size": 1,
                 "dataChange": True, "modificationTime": 1}},
    ])
    _write_cm_collections_parquet(
        os.path.join(table_path, "c2.parquet"),
        [(4, [None, (2.5, "c")], {"m": 9, "n": None})])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": V2_TS_MS, "operation": "WRITE"}},
        {"add": {"path": "c2.parquet", "partitionValues": {}, "size": 1,
                 "dataChange": True, "modificationTime": 2}},
    ])
    return table_path


def _write_idm_parquet(path: str, ids: list[int], scores: list[float],
                       tags: list[str]) -> None:
    """Data file for the id-mapped table: parquet FIELD IDS carry the
    mapping; the column NAMES share nothing with the logical schema, so a
    reader that matches by name instead of by id finds no columns at all
    rather than passing by luck. (Logical names are NOT reused as
    misleading names: colliding name+incompatible type trips a converter
    edge in Spark's vectorized reader, and real id-mode writers use
    non-colliding uuid physical names anyway.)"""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    inner = pa.struct([
        pa.field("zz-3", pa.float64(), metadata={b"PARQUET:field_id": b"3"}),
        pa.field("zz-4", pa.string(), metadata={b"PARQUET:field_id": b"4"}),
    ])
    info = pa.StructArray.from_arrays(
        [pa.array(scores, pa.float64()), pa.array(tags, pa.string())],
        fields=[inner[0], inner[1]])
    schema = pa.schema([
        pa.field("zz-1", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field("zz-2", inner, metadata={b"PARQUET:field_id": b"2"}),
    ])
    pq.write_table(
        pa.table({"zz-1": pa.array(ids, pa.int64()), "zz-2": info},
                 schema=schema), path)


def make_id_mapped_table(table_path: str) -> str:
    """Column mapping ``id`` mode fixture: same logical shape as the name-
    mode table (id, info struct<score, tag>, part) but data files are
    matched by parquet field id — their column names are misleading on
    purpose. partitionValues stay keyed by physicalName (Delta assigns
    both ids and physical names when mapping is enabled)."""
    log = os.path.join(table_path, "_delta_log")
    meta = {"id": "66666666-7777-8888-9999-111111111111",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": CM_SCHEMA_STRING,
            "partitionColumns": ["part"],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "5"},
            "createdTime": 1690000000000}
    _write_idm_parquet(os.path.join(table_path, "x=1", "g1.parquet"),
                       [1, 2], [0.5, 1.5], ["a", "b"])
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta},
        {"add": {"path": "x=1/g1.parquet",
                 "partitionValues": {"col-aaa5": "p1"}, "size": 1,
                 "dataChange": True, "modificationTime": 1}},
    ])
    _write_idm_parquet(os.path.join(table_path, "x=2", "g2.parquet"),
                       [3], [2.5], ["c"])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": V2_TS_MS, "operation": "WRITE"}},
        {"add": {"path": "x=2/g2.parquet",
                 "partitionValues": {"col-aaa5": "p2"}, "size": 1,
                 "dataChange": True, "modificationTime": 2}},
    ])
    return table_path


def write_v2_checkpoint(table_path: str, version: int, actions: list[dict],
                        top_level: str = "json") -> None:
    """Hand-rolled V2 (uuid-named) checkpoint: metaData/protocol stay in
    the top-level ``%020d.checkpoint.<uuid>.{json|parquet}`` file together
    with a ``checkpointMetadata`` action and one ``sidecar`` action; the
    add/remove actions go to a parquet sidecar under
    ``_delta_log/_sidecars/`` (protocol "V2 Spec Checkpoint" section).
    Writes the ``_last_checkpoint`` pointer."""
    import uuid as _uuid

    log = os.path.join(table_path, "_delta_log")
    side_dir = os.path.join(log, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    u = _uuid.uuid5(_uuid.NAMESPACE_URL, f"{table_path}@{version}")
    file_actions = [a for a in actions
                    if "add" in a or "remove" in a]
    head_actions = [a for a in actions if a not in file_actions]
    side_name = f"{u}.parquet"
    rows = []
    for a in file_actions:
        add = a.get("add")
        rem = a.get("remove")
        rows.append({
            "add": {"path": add["path"],
                    "partitionValues": list((add.get("partitionValues")
                                             or {}).items()),
                    "size": add.get("size", 1),
                    "modificationTime": add.get("modificationTime", 1),
                    "dataChange": add.get("dataChange", True),
                    "deletionVector": (
                        {k: add["deletionVector"].get(k)
                         for k in ("storageType", "pathOrInlineDv",
                                   "offset", "sizeInBytes", "cardinality")}
                        if add.get("deletionVector") else None)}
            if add else None,
            "remove": {"path": rem["path"],
                       "deletionTimestamp": rem.get("deletionTimestamp", 1),
                       "dataChange": rem.get("dataChange", True)}
            if rem else None})
    pv_t = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct([("storageType", pa.string()),
                      ("pathOrInlineDv", pa.string()),
                      ("offset", pa.int64()), ("sizeInBytes", pa.int64()),
                      ("cardinality", pa.int64())])
    add_t = pa.struct([("path", pa.string()), ("partitionValues", pv_t),
                       ("size", pa.int64()), ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_()),
                       ("deletionVector", dv_t)])
    rem_t = pa.struct([("path", pa.string()),
                       ("deletionTimestamp", pa.int64()),
                       ("dataChange", pa.bool_())])
    pq.write_table(pa.table({
        "add": pa.array([r["add"] for r in rows], add_t),
        "remove": pa.array([r["remove"] for r in rows], rem_t)}),
        os.path.join(side_dir, side_name))
    head = [{"checkpointMetadata": {"version": version, "tags": {}}},
            *head_actions,
            {"sidecar": {"path": side_name,
                         "sizeInBytes": os.path.getsize(
                             os.path.join(side_dir, side_name)),
                         "modificationTime": 1}}]
    if top_level == "json":
        with open(os.path.join(
                log, f"{version:020d}.checkpoint.{u}.json"), "w") as f:
            for a in head:
                f.write(json.dumps(a) + "\n")
    else:
        raise NotImplementedError("fixture writes json top-level only")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": len(actions)}, f)


def write_checkpoint(spark, table_path: str, version: int,
                     actions: list[dict]) -> None:
    """Hand-rolled single-part classic checkpoint: one row per action with
    nullable add/remove/metaData/protocol struct columns, plus the
    ``_last_checkpoint`` pointer (protocol "Checkpoints" section)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        ArrayType, BooleanType, IntegerType, LongType, MapType, StringType,
        StructField, StructType,
    )

    dv_t = StructType([
        StructField("storageType", StringType()),
        StructField("pathOrInlineDv", StringType()),
        StructField("offset", LongType()),
        StructField("sizeInBytes", LongType()),
        StructField("cardinality", LongType()),
    ])
    add_t = StructType([
        StructField("path", StringType()),
        StructField("partitionValues", MapType(StringType(), StringType(),
                                               valueContainsNull=True)),
        StructField("size", LongType()),
        StructField("modificationTime", LongType()),
        StructField("dataChange", BooleanType()),
        StructField("deletionVector", dv_t),
    ])
    remove_t = StructType([
        StructField("path", StringType()),
        StructField("deletionTimestamp", LongType()),
        StructField("dataChange", BooleanType()),
    ])
    meta_t = StructType([
        StructField("id", StringType()),
        StructField("schemaString", StringType()),
        StructField("partitionColumns", ArrayType(StringType())),
        StructField("configuration", MapType(StringType(), StringType())),
    ])
    proto_t = StructType([
        StructField("minReaderVersion", IntegerType()),
        StructField("minWriterVersion", IntegerType()),
    ])
    cp_schema = StructType([
        StructField("add", add_t), StructField("remove", remove_t),
        StructField("metaData", meta_t), StructField("protocol", proto_t),
    ])
    rows = []
    for a in actions:
        row = {"add": None, "remove": None, "metaData": None, "protocol": None}
        if "metaData" in a:
            md = a["metaData"]
            row["metaData"] = {
                "id": md["id"], "schemaString": md["schemaString"],
                "partitionColumns": md["partitionColumns"],
                "configuration": md.get("configuration") or {}}
        elif "add" in a:
            add = a["add"]
            row["add"] = {
                "path": add["path"],
                "partitionValues": add.get("partitionValues") or {},
                "size": add.get("size", 1),
                "modificationTime": add.get("modificationTime", 1),
                "dataChange": add.get("dataChange", True),
                "deletionVector": (
                    {k: add["deletionVector"].get(k)
                     for k in ("storageType", "pathOrInlineDv", "offset",
                               "sizeInBytes", "cardinality")}
                    if add.get("deletionVector") else None)}
        else:
            row.update({k: v for k, v in a.items() if k in row})
        rows.append(row)
    df = spark.createDataFrame(rows, cp_schema)
    tmp = tempfile.mkdtemp(prefix="cp_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
        log = os.path.join(table_path, "_delta_log")
        shutil.copy(os.path.join(tmp, part),
                    os.path.join(log, f"{version:020d}.checkpoint.parquet"))
        with open(os.path.join(log, "_last_checkpoint"), "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def make_type_widened_table(table_path: str) -> str:
    """Delta table exercising the ``typeWidening`` reader feature
    (PROTOCOL.md "Type Widening"): v0 writes schema (id INT, score FLOAT)
    with an int32/float32 parquet file; v1 widens the schema to
    (id LONG, score DOUBLE) — recording the protocol's ``delta.typeChanges``
    field metadata — and adds an int64/float64 file. A correct reader
    serves BOTH files under the widened schema at latest, and the narrow
    schema at v0."""
    log = os.path.join(table_path, "_delta_log")
    narrow_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "score", "type": "float", "nullable": True, "metadata": {}},
    ]})
    wide_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {
            "delta.typeChanges": [{"fromType": "integer", "toType": "long",
                                   "tableVersion": 1}]}},
        {"name": "score", "type": "double", "nullable": True, "metadata": {
            "delta.typeChanges": [{"fromType": "float", "toType": "double",
                                   "tableVersion": 1}]}},
    ]})
    os.makedirs(table_path, exist_ok=True)
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int32()),
                             "score": pa.array([1.5, 2.5, 3.5],
                                               pa.float32())}),
                   os.path.join(table_path, "w0.parquet"))
    pq.write_table(pa.table({"id": pa.array([4, 5], pa.int64()),
                             "score": pa.array([4.5, 5.5], pa.float64())}),
                   os.path.join(table_path, "w1.parquet"))
    meta = {"id": "99999999-8888-7777-6666-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "partitionColumns": [], "configuration": {
                "delta.enableTypeWidening": "true"},
            "createdTime": V2_TS_MS - 5000}
    _commit(log, 0, [
        {"commitInfo": {"timestamp": V2_TS_MS - 2000,
                        "operation": "CREATE TABLE"}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": {**meta, "schemaString": narrow_schema}},
        {"add": {"path": "w0.parquet", "partitionValues": {}, "size": 1,
                 "dataChange": True, "modificationTime": 1}},
    ])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": V2_TS_MS - 1000,
                        "operation": "CHANGE COLUMN"}},
        {"metaData": {**meta, "schemaString": wide_schema}},
        {"add": {"path": "w1.parquet", "partitionValues": {}, "size": 1,
                 "dataChange": True, "modificationTime": 2}},
    ])
    return table_path


MERGED_SYNC_SQL = ("SELECT event_id, unix_millis(ts) AS time, "
                   "named_struct('event_type', event_type, 'value', value) "
                   "AS user_properties FROM events")


def make_merged_cdf_table(spark, table_path: str, merges: int = 3) -> str:
    """A CDF-enabled table written by the package's own Delta writer: 40
    events at v0, then ``merges`` MERGE commits of 15 rows each (updates,
    plus inserts once the keys run past 39) — the incremental-sync shape
    at test size. Query it with ``MERGED_SYNC_SQL``."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        create_delta_table,
        merge_into,
    )
    from pyspark.sql import functions as F

    cols = ("id AS event_id", "CAST(id % 3 AS string) AS event_type",
            "CAST(id AS double) * 1.5 AS value",
            "timestamp_seconds(id) AS ts")
    create_delta_table(spark, spark.range(0, 40).selectExpr(*cols),
                       table_path, cdf=True)
    for v in range(1, merges + 1):
        src = spark.range(10 * v, 10 * v + 15).selectExpr(*cols) \
            .withColumn("value", F.col("value") + v)
        merge_into(spark, table_path, src, on=["event_id"],
                   when_matched_update={"value": "s.value"})
    return table_path


def make_checkpointed_cdf_table(spark, table_path: str) -> str:
    """A CDF-enabled table of six 10-row append commits (v``n`` adds ids
    ``10n .. 10n+9``) with a classic checkpoint at v3 — a change-feed
    window over it crosses the checkpoint, as any window crossing a
    multiple of ``delta.checkpointInterval`` does on a real table."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        write_classic_checkpoint,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        write_delta_table,
    )

    write_delta_table(spark, [spark.range(10 * v, 10 * v + 10)
                              .selectExpr("id", "CAST(id AS double) AS val")
                              for v in range(6)], table_path)
    write_classic_checkpoint(spark, table_path, 3)
    return table_path
