"""Delta-protocol gate queries: the pure-Python transaction-log reader
(``sources/delta_log.py``) driven through the driver's DuckDB oracle gate.

A real Delta table is STAGED from the ``events`` table (two append commits
via the minimal protocol writer, deterministic timestamps), then read back
through the replay reader; the oracle re-derives the same rows straight
from the parquet source with the staging predicates restated as SQL. A
replay bug — wrong file set at a version, wrong change-type synthesis,
wrong commit metadata — breaks the value hash.

Staged tables are built through ``querylib.stage``: cached under the system
temp dir, keyed by the writing code and the ``sf_dir`` input files, built
once under a lock (the build is deterministic, so reuse across the
driver's runs is safe).

Reference parity: the reference's source IS a Delta table read via
versionAsOf / readChangeFeed (unload_databricks_data_to_s3.py:183-193);
these gates attest those read semantics without the Delta jars.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.delta_log import (
    read_delta_changes,
    read_delta_snapshot,
    write_delta_table,
)
from ..sources.registry import load_table
from . import register, stage

_BASE_TS_MS = 1700000000000
# v0 = events with event_id % 3 == 0; v1 appends event_id % 3 == 1.
# (% 2 would leave no held-out rows to prove the reader is not just
# "read every parquet file in the directory".)
_V0_PRED, _V1_PRED = "event_id % 3 = 0", "event_id % 3 = 1"


def _staged_table(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_delta_table(
            spark,
            [e.filter(F.expr(_V0_PRED)), e.filter(F.expr(_V1_PRED))],
            path, base_ts_ms=_BASE_TS_MS)

    return stage(sf_dir, "delta", build)


@register(
    "delta_snapshot_agg",
    f"""
    SELECT 0 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED} OR {_V1_PRED}
    GROUP BY event_type
    """,
    doc="VERSION AS OF through the pure-Python Delta log replay: the "
        "events table is staged as a real Delta table (two append "
        "commits), then BOTH versions are snapshot-read and aggregated. "
        "The v0 aggregate proves time travel (v1's files excluded); the "
        "v1 aggregate proves add-accumulation across commits. Oracle "
        "re-derives both states from the parquet source.")
def delta_snapshot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_table(spark, sf_dir)
    parts = []
    for v in (0, 1):
        snap = read_delta_snapshot(spark, path, v)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value")


def _add_dv_delete_commit(spark: SparkSession, path: str,
                          modulus: int) -> None:
    """Append a DV DELETE commit to a staged v0-only Delta table: every row
    whose ``event_id % modulus == 0`` is marked deleted via a real
    deletion-vector FILE (storageType "u", roaring bitmap, offset/crc
    framing), one DV per data file, remove+add pairs, protocol upgraded to
    reader v3 + ``deletionVectors``. Row indexes are derived by reading
    each data file's event_id column with pyarrow — per-file metadata work,
    exactly what a real DV writer does."""
    import uuid

    import numpy as np
    import pyarrow.parquet as pq

    from ..sources.delta_dv import (
        make_uuid_path_or_inline,
        serialize_bitmap_array,
        write_dv_file,
    )
    from ..sources.delta_log import replay_log

    rep = replay_log(spark, path, 0)
    actions: list[dict] = [
        {"commitInfo": {"timestamp": _BASE_TS_MS + 1000,
                        "operation": "DELETE"}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
    ]
    for rel, add in sorted(rep.files.items()):
        ids = pq.read_table(os.path.join(path, rel),
                            columns=["event_id"])["event_id"].to_numpy()
        dead = np.nonzero(ids % modulus == 0)[0]
        if not dead.size:
            continue
        u = uuid.uuid5(uuid.NAMESPACE_URL, rel)  # deterministic staging
        (offset, size), = write_dv_file(
            os.path.join(path, f"deletion_vector_{u}.bin"),
            [serialize_bitmap_array(dead)])
        new_add = dict(add)
        new_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": make_uuid_path_or_inline(u),
            "offset": offset, "sizeInBytes": size,
            "cardinality": int(dead.size)}
        actions.append({"remove": {"path": rel, "deletionTimestamp":
                                   _BASE_TS_MS + 1000, "dataChange": True,
                                   "partitionValues": {}}})
        actions.append({"add": new_add})
    with open(os.path.join(path, "_delta_log",
                           f"{1:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


_DV_MOD = 5


def _staged_dv_table(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_delta_table(spark, [e.filter(F.expr(_V0_PRED))], path,
                          enable_cdf=False, base_ts_ms=_BASE_TS_MS)
        _add_dv_delete_commit(spark, path, _DV_MOD)

    return stage(sf_dir, "delta_dv", build)


@register(
    "delta_dv_snapshot_agg",
    f"""
    SELECT 0 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_V0_PRED}) AND event_id % {_DV_MOD} <> 0
    GROUP BY event_type
    """,
    doc="Deletion-vector reads through the jar-less Delta log replay: v0 "
        "stages the % 3 == 0 events, v1 marks every % 5 == 0 row deleted "
        "via REAL roaring-bitmap DV files (storageType 'u', z85 uuid, "
        "offset/crc framing) — the Databricks-default table layout the "
        "reference reads transparently. Both versions are snapshot-read "
        "and aggregated: v0 proves the DV is NOT applied before its "
        "commit, v1 proves row-index-exact application. Oracle restates "
        "the staging + deletion predicates over the parquet source.")
def delta_dv_snapshot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_dv_table(spark, sf_dir)
    parts = []
    for v in (0, 1):
        snap = read_delta_snapshot(spark, path, v)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value")


_SKIP_LO, _SKIP_HI = 100, 999


def _staged_skip_table(spark: SparkSession, sf_dir: str) -> str:
    """Staged Delta table whose 8 data files are RANGE-partitioned on
    event_id, each add action carrying footer-derived stats JSON — the
    layout where Delta data skipping pays."""
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value")
             .repartitionByRange(8, "event_id"))
        write_delta_table(spark, [e], path, enable_cdf=False,
                          base_ts_ms=_BASE_TS_MS)

    return stage(sf_dir, "delta_skip", build)


@register(
    "delta_data_skipping_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE event_id BETWEEN {_SKIP_LO} AND {_SKIP_HI}
    GROUP BY event_type
    """,
    doc="Delta DATA SKIPPING through the jar-less reader: the staged "
        "table's 8 files are range-partitioned on event_id with "
        "footer-derived stats on every add action; the snapshot read "
        "prunes files whose [min, max] range provably misses the "
        "predicate AT PLANNING (zero tasks for skipped files — the "
        "mechanism that turns a 100 TB scan into the one-file read the "
        "predicate implies), while the row-level filter stays on the "
        "scan so pruning is superset-safe by construction. Oracle "
        "restates the predicate over the parquet source; a skip that "
        "drops a needed file breaks counts and sums.")
def delta_data_skipping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import column_range_filter

    path = _staged_skip_table(spark, sf_dir)
    snap = read_delta_snapshot(
        spark, path,
        stats_filter=column_range_filter("event_id", _SKIP_LO, _SKIP_HI))
    return (snap.filter(F.col("event_id").between(_SKIP_LO, _SKIP_HI))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


@register(
    "delta_timestamp_travel_agg",
    f"""
    SELECT 0 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED} OR {_V1_PRED}
    GROUP BY event_type
    """,
    doc="TIMESTAMP AS OF through the jar-less Delta log replay: the "
        "staged table's commitInfo timestamps are pinned (v0 = base, "
        "v1 = base+1000 ms), and the query resolves base+500 ms -> v0 and "
        "exactly base+1000 ms -> v1 through the monotonic-adjusted commit "
        "history, then aggregates both snapshots. A resolution off by one "
        "version flips the row set and breaks the hash. Same oracle as "
        "the version-addressed twin (delta_snapshot_agg) because "
        "timestamp resolution must land on the same states.")
def delta_timestamp_travel_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot_at_timestamp

    path = _staged_table(spark, sf_dir)
    parts = []
    for v, ts_ms in ((0, _BASE_TS_MS + 500), (1, _BASE_TS_MS + 1000)):
        snap = read_delta_snapshot_at_timestamp(spark, path, ts_ms)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value")


_CM_PHYS = {"o_orderkey": "col-9f1", "o_orderstatus": "col-9f2",
            "o_totalprice": "col-9f3"}


def _staged_cm_table(spark: SparkSession, sf_dir: str) -> str:
    """Column-mapped (``name`` mode) staged table: orders columns stored
    under opaque physical names; the log's schemaString carries the
    logical names + physicalName metadata (legacy protocol 2/5)."""
    def build(path: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        df = o.select(*[F.col(c).alias(p) for c, p in _CM_PHYS.items()])
        staging = os.path.join(path, "_staging")
        df.write.mode("overwrite").parquet(staging)
        fields = []
        for i, (logical, phys) in enumerate(_CM_PHYS.items(), start=1):
            spark_f = next(f for f in o.schema.fields if f.name == logical)
            fields.append({
                "name": logical, "type": spark_f.dataType.jsonValue(),
                "nullable": True,
                "metadata": {"delta.columnMapping.id": i,
                             "delta.columnMapping.physicalName": phys}})
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "spark-graft-staged-cm-table",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct",
                                            "fields": fields}),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": str(len(fields))},
                "createdTime": _BASE_TS_MS}},
        ]
        names = sorted(n for n in os.listdir(staging)
                       if n.endswith(".parquet"))
        for i, name in enumerate(names):
            target = f"cm-{i:05d}.parquet"
            os.replace(os.path.join(staging, name),
                       os.path.join(path, target))
            actions.append({"add": {
                "path": target, "partitionValues": {},
                "size": os.path.getsize(os.path.join(path, target)),
                "modificationTime": _BASE_TS_MS, "dataChange": True}})
        import shutil
        shutil.rmtree(staging, ignore_errors=True)
        log = os.path.join(path, "_delta_log")
        os.makedirs(log, exist_ok=True)
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    return stage(sf_dir, "delta_cm", build)


@register(
    "delta_column_mapped_read",
    """
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_total
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Column mapping 'name' mode through the jar-less Delta reader: the "
        "orders columns are stored under opaque physical names (col-9f1...) "
        "with the logical schema living only in the log's schemaString "
        "metadata — the layout any Delta table acquires after a column "
        "rename. The reader must scan physical, surface logical; the "
        "oracle reads the original parquet under logical names, so a "
        "physical-name leak or mis-mapping breaks schema or values.")
def delta_column_mapped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_cm_table(spark, sf_dir)
    snap = read_delta_snapshot(spark, path)
    # money sum on the exact cents grid (2-dp values): int64 partial sums
    # agree bit-for-bit across engines, unlike double accumulation order
    return (snap.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count("*").alias("n"),
                 (F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")) / 100.0).alias("sum_total")))


@register(
    "delta_cdf_insert_feed",
    f"""
    SELECT event_id, event_type, ROUND(value, 4) AS value,
           'insert' AS change_type, 1 AS commit_version,
           {_BASE_TS_MS + 1000} AS commit_ts_ms
    FROM events WHERE {_V1_PRED}
    """,
    doc="Delta CDF through log replay: changes in (0, 1] of the staged "
        "table are exactly v1's appended rows, synthesized as "
        "change_type='insert' with the commit's pinned version and "
        "commitInfo timestamp. Row-level comparison — every appended "
        "event must appear exactly once with the right CDC metadata.")
def delta_cdf_insert_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_table(spark, sf_dir)
    ch = read_delta_changes(spark, path, 0, 1)
    return ch.select(
        "event_id", "event_type",
        F.round(F.col("value"), 4).alias("value"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("int").alias("commit_version"),
        (F.unix_millis(F.col("_commit_timestamp"))).alias("commit_ts_ms"))


# ---------------------------------------------------------------------------
# transactional writer gates (sinks/delta_writer.py): the table is BUILT by
# the jar-less writer — create / append / delete / update, with explicit cdc
# files — and read back through the log-replay reader; the oracle re-derives
# every state from the parquet source with the same predicates as SQL. A
# writer bug (wrong rewrite scope, wrong cdc rows, wrong remove set, torn
# commit) diverges the value hash.

# v0 create: event_id%3=0 (partitioned by event_type, CDF on)
# v1 append: event_id%3=1
# v2 delete: event_id%5=0
# v3 update: value += 1000 where event_id%7=0
# v4 merge: source = events where event_id%4=0 (original values) — matched
#           rows get t.value + s.value, unmatched source rows INSERT
#           (including rows v2 deleted: they rejoin with original values)
_W_DEL, _W_UPD = "event_id % 5 = 0", "event_id % 7 = 0"
_W_MRG = "event_id % 4 = 0"


def _writer_staged_table(spark: SparkSession, sf_dir: str) -> str:
    from ..sinks.delta_writer import (
        append_delta,
        create_delta_table,
        delete_where,
        merge_into,
        update_where,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_V0_PRED)), path,
                           partition_by=["event_type"], cdf=True,
                           ts_ms=_BASE_TS_MS)
        append_delta(spark, e.filter(F.expr(_V1_PRED)), path,
                     ts_ms=_BASE_TS_MS + 1000)
        delete_where(spark, path, _W_DEL, ts_ms=_BASE_TS_MS + 2000)
        update_where(spark, path, _W_UPD, {"value": "value + 1000"},
                     ts_ms=_BASE_TS_MS + 3000)
        merge_into(spark, path, e.filter(F.expr(_W_MRG)), on=["event_id"],
                   when_matched_update={"value": "t.value + s.value"},
                   ts_ms=_BASE_TS_MS + 4000)

    return stage(sf_dir, "delta_writer", build)


@register(
    "delta_writer_roundtrip_agg",
    f"""
    SELECT 1 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_V0_PRED}) OR ({_V1_PRED})
    GROUP BY event_type
    UNION ALL
    SELECT 3 AS version, event_type,
           COUNT(*) AS n,
           ROUND(SUM(CASE WHEN {_W_UPD} THEN value + 1000
                          ELSE value END), 4) AS sum_value
    FROM events
    WHERE (({_V0_PRED}) OR ({_V1_PRED})) AND NOT ({_W_DEL})
    GROUP BY event_type
    """,
    doc="Jar-less transactional Delta WRITER round-trip: the table is "
        "built by create/append/delete_where/update_where (partitioned, "
        "CDF on, OCC commits) and both the pre-delete state (VERSION AS "
        "OF 1) and the final state are snapshot-read through the replay "
        "reader and aggregated per partition. Attests commit atomicity, "
        "partitioned staging with partitionValues, rewrite scope, and "
        "time travel across writer-produced commits.")
def delta_writer_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot as snap

    path = _writer_staged_table(spark, sf_dir)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return (df.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(version).alias("version"), "event_type",
                        "n", "sum_value"))

    return agg(snap(spark, path, version=1), 1).unionAll(
        agg(snap(spark, path, version=3), 3))


@register(
    "delta_writer_update_cdf",
    f"""
    WITH live AS (SELECT * FROM events
                  WHERE ({_V0_PRED}) OR ({_V1_PRED})),
    feed AS (
      SELECT 2 AS commit_version, 'delete' AS change_type, value
      FROM live WHERE {_W_DEL}
      UNION ALL
      SELECT 3, 'update_preimage', value
      FROM live WHERE NOT ({_W_DEL}) AND ({_W_UPD})
      UNION ALL
      SELECT 3, 'update_postimage', value + 1000
      FROM live WHERE NOT ({_W_DEL}) AND ({_W_UPD})
    )
    SELECT commit_version, change_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM feed GROUP BY commit_version, change_type
    """,
    doc="Explicit cdc files from the writer's DELETE/UPDATE, read back as "
        "a CDF range: changes in (1, 3] must be exactly the deleted rows "
        "(v2) and the update pre/post images (v3) — file-op synthesis "
        "would double-count the kept rows of rewritten files, so this "
        "gate fails unless the writer emitted real cdc actions with the "
        "right row sets.")
def delta_writer_update_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _writer_staged_table(spark, sf_dir)
    ch = read_delta_changes(spark, path, 1, 3)
    return (ch.groupBy(
        F.col("_commit_version").cast("int").alias("commit_version"),
        F.col("_change_type").alias("change_type"))
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value")))


_IDM_PHYS = {"o_orderkey": "zzq-1", "o_orderpriority": "zzq-2",
             "o_totalprice": "zzq-3"}


def _staged_idm_table(spark: SparkSession, sf_dir: str) -> str:
    """Column-mapped ``id`` mode staged table: orders columns stored under
    opaque physical names WITH parquet field ids (Spark's field-id writer,
    ``spark.sql.parquet.fieldId.write.enabled``, on by default, emits them
    from the alias metadata); the log's schemaString carries the logical
    names + delta.columnMapping.id annotations the reader matches on."""
    def build(path: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        df = o.select(*[
            F.col(c).alias(p, metadata={"parquet.field.id": i})
            for i, (c, p) in enumerate(_IDM_PHYS.items(), start=1)])
        staging = os.path.join(path, "_staging")
        df.write.mode("overwrite").parquet(staging)
        fields = []
        for i, (logical, phys) in enumerate(_IDM_PHYS.items(), start=1):
            spark_f = next(f for f in o.schema.fields if f.name == logical)
            fields.append({
                "name": logical, "type": spark_f.dataType.jsonValue(),
                "nullable": True,
                "metadata": {"delta.columnMapping.id": i,
                             "delta.columnMapping.physicalName": phys}})
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "spark-graft-staged-idm-table",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct",
                                            "fields": fields}),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": str(len(fields))},
                "createdTime": _BASE_TS_MS}},
        ]
        names = sorted(n for n in os.listdir(staging)
                       if n.endswith(".parquet"))
        for i, name in enumerate(names):
            target = f"idm-{i:05d}.parquet"
            os.replace(os.path.join(staging, name),
                       os.path.join(path, target))
            actions.append({"add": {
                "path": target, "partitionValues": {},
                "size": os.path.getsize(os.path.join(path, target)),
                "modificationTime": _BASE_TS_MS, "dataChange": True}})
        import shutil
        shutil.rmtree(staging, ignore_errors=True)
        log = os.path.join(path, "_delta_log")
        os.makedirs(log, exist_ok=True)
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    return stage(sf_dir, "delta_idm", build)


@register(
    "delta_id_mapped_read",
    """
    SELECT o_orderpriority AS priority, COUNT(*) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_total
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Column mapping 'id' mode through the jar-less Delta reader: the "
        "orders columns are stored under opaque physical names carrying "
        "parquet FIELD IDS, and the reader resolves them via Spark's "
        "built-in field-id matching (read schema = logical names + "
        "parquet.field.id from delta.columnMapping.id) — entirely "
        "JVM-side, no rename projection. The oracle reads the original "
        "parquet under logical names; a by-name fallback or id mismatch "
        "breaks schema or values.")
def delta_id_mapped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_idm_table(spark, sf_dir)
    snap = read_delta_snapshot(spark, path)
    return (snap.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count("*").alias("n"),
                 (F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")) / 100.0).alias("sum_total")))


@register(
    "delta_writer_merge_agg",
    f"""
    WITH t AS (
      SELECT event_id, event_type,
             CASE WHEN {_W_UPD} THEN value + 1000 ELSE value END AS value
      FROM events
      WHERE (({_V0_PRED}) OR ({_V1_PRED})) AND NOT ({_W_DEL})
    ), s AS (
      SELECT event_id, event_type, value FROM events WHERE {_W_MRG}
    ), merged AS (
      SELECT t.event_id, t.event_type,
             CASE WHEN s.event_id IS NOT NULL THEN t.value + s.value
                  ELSE t.value END AS value
      FROM t LEFT JOIN s ON t.event_id = s.event_id
      UNION ALL
      SELECT s.event_id, s.event_type, s.value FROM s
      WHERE s.event_id NOT IN (SELECT event_id FROM t)
    )
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM merged GROUP BY event_type
    """,
    doc="MERGE INTO through the jar-less writer: v4 merges the %4 slice "
        "of events into the v3 state — matched rows get t.value + "
        "s.value, unmatched source rows INSERT (including rows the v2 "
        "delete removed, which rejoin with their original values — the "
        "upsert-after-delete case). The oracle recomputes the merged "
        "state from the parquet source with the same clause logic; a "
        "wrong match set, a missed insert, or a double-applied update "
        "diverges the hash.")
def delta_writer_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot as snap

    path = _writer_staged_table(spark, sf_dir)
    return (snap(spark, path, version=4)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


# ---------------------------------------------------------------------------
# type widening (reader feature typeWidening)

_TW_NARROW_PRED, _TW_WIDE_PRED = "event_id % 3 = 0", "event_id % 3 = 1"


def _staged_widened_table(spark: SparkSession, sf_dir: str) -> str:
    """Staged Delta table with a TYPE-WIDENED history: v0 writes
    (event_id INT, event_type STRING, value FLOAT) files, v1 widens the
    schema to (LONG, STRING, DOUBLE) — recording ``delta.typeChanges``
    per the public protocol — and appends int64/float64 files. The log
    is hand-authored (the staging twin writes one fixed schema per
    table); data files come from Spark writes of the events slices."""
    import shutil

    def build(path: str) -> None:
        e = load_table(spark, sf_dir, "events")

        def _stage(pred: str, casts: list, tag_: str) -> list[str]:
            staging = os.path.join(path, f"_staging_{tag_}")
            (e.filter(F.expr(pred)).select(*casts)
             .write.mode("overwrite").parquet(staging))
            names = []
            for i, n in enumerate(sorted(x for x in os.listdir(staging)
                                         if x.endswith(".parquet"))):
                target = f"{tag_}-{i:04d}.parquet"
                os.replace(os.path.join(staging, n),
                           os.path.join(path, target))
                names.append(target)
            shutil.rmtree(staging, ignore_errors=True)
            return names

        narrow_files = _stage(_TW_NARROW_PRED, [
            F.col("event_id").cast("int").alias("event_id"),
            "event_type", F.col("value").cast("float").alias("value")], "n")
        wide_files = _stage(_TW_WIDE_PRED, [
            F.col("event_id").cast("long").alias("event_id"),
            "event_type", F.col("value").cast("double").alias("value")], "w")

        def _schema(idt: str, vt: str, changes: bool) -> str:
            def md(frm, to):
                return ({"delta.typeChanges": [
                    {"fromType": frm, "toType": to, "tableVersion": 1}]}
                    if changes else {})
            return json.dumps({"type": "struct", "fields": [
                {"name": "event_id", "type": idt, "nullable": True,
                 "metadata": md("integer", "long")},
                {"name": "event_type", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "value", "type": vt, "nullable": True,
                 "metadata": md("float", "double")}]})

        meta = {"id": "77777777-6666-5555-4444-333333333333",
                "format": {"provider": "parquet", "options": {}},
                "partitionColumns": [],
                "configuration": {"delta.enableTypeWidening": "true"},
                "createdTime": _BASE_TS_MS - 5000}
        log = os.path.join(path, "_delta_log")
        os.makedirs(log)

        def _commit(v: int, actions: list[dict]) -> None:
            with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
                for a in actions:
                    f.write(json.dumps(a) + "\n")

        _commit(0, [
            {"commitInfo": {"timestamp": _BASE_TS_MS, "operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"],
                          "writerFeatures": ["typeWidening"]}},
            {"metaData": {**meta,
                          "schemaString": _schema("integer", "float", False)}},
            *({"add": {"path": n, "partitionValues": {}, "size": 1,
                       "dataChange": True, "modificationTime": 1}}
              for n in narrow_files)])
        _commit(1, [
            {"commitInfo": {"timestamp": _BASE_TS_MS + 1000,
                            "operation": "CHANGE COLUMN"}},
            {"metaData": {**meta,
                          "schemaString": _schema("long", "double", True)}},
            *({"add": {"path": n, "partitionValues": {}, "size": 1,
                       "dataChange": True, "modificationTime": 2}}
              for n in wide_files)])

    return stage(sf_dir, "delta_widen", build)


@register(
    "delta_type_widened_read",
    f"""
    SELECT 0 AS version, event_type, COUNT(*) AS n,
           ROUND(SUM(CAST(value AS REAL)), 4) AS sum_value,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE {_TW_NARROW_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS version, event_type, COUNT(*) AS n,
           ROUND(SUM(CASE WHEN {_TW_NARROW_PRED}
                          THEN CAST(value AS REAL) ELSE value END),
                 4) AS sum_value,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE ({_TW_NARROW_PRED}) OR ({_TW_WIDE_PRED})
    GROUP BY event_type
    """,
    doc="TYPE WIDENING through the jar-less Delta reader: v0's files are "
        "physically int32/float32 under a (int, float) schema; v1 widens "
        "the table schema to (long, double) — delta.typeChanges metadata, "
        "readerFeatures [typeWidening] — and appends int64/float64 "
        "files. The latest read serves BOTH eras under the widened "
        "schema (Spark's vectorized parquet reader up-casts narrow files "
        "per file); the v0 read serves the narrow schema untouched. The "
        "oracle restates the float round-trip with CAST(value AS REAL): "
        "a reader that read the narrow files at the wrong type — or "
        "refused them — breaks sums on both rows.")
def delta_type_widened_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_widened_table(spark, sf_dir)
    parts = []
    for v in (0, 1):
        snap = read_delta_snapshot(spark, path, v)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.sum("event_id").alias("sum_id"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value", "sum_id")


# ---------------------------------------------------------------------------
# DV-WRITING delete (the Databricks-default DELETE layout, produced here)

_DVW_DEL1, _DVW_DEL2 = "event_id % 5 = 0", "event_id % 7 = 0"


def _staged_dvw_table(spark: SparkSession, sf_dir: str) -> str:
    """Table whose two DELETEs were committed as DELETION VECTORS by
    this repo's writer (no data bytes rewritten): the second delete
    must MERGE bitmaps on files the first already stamped."""
    from ..sinks.delta_writer import create_delta_table, delete_where

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_V0_PRED)), path,
                           partition_by=["event_type"], cdf=True,
                           ts_ms=_BASE_TS_MS)
        delete_where(spark, path, _DVW_DEL1, ts_ms=_BASE_TS_MS + 1000,
                     use_dv=True)
        delete_where(spark, path, _DVW_DEL2, ts_ms=_BASE_TS_MS + 2000,
                     use_dv=True)

    return stage(sf_dir, "delta_dvw", build)


@register(
    "delta_writer_dv_delete_agg",
    f"""
    SELECT 1 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_V0_PRED}) AND NOT ({_DVW_DEL1})
    GROUP BY event_type
    UNION ALL
    SELECT 2 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE ({_V0_PRED}) AND NOT ({_DVW_DEL1}) AND NOT ({_DVW_DEL2})
    GROUP BY event_type
    """,
    doc="DV-WRITING DELETE round-trip: both deletes committed as real "
        "roaring-bitmap deletion vectors (storageType 'u', z85 uuid, "
        "in-commit protocol upgrade to readerFeatures [deletionVectors]) "
        "— no data bytes rewritten, the Databricks-default DBR 14+ "
        "DELETE layout, produced by THIS writer and applied by THIS "
        "reader. The second delete merges bitmaps on files the first "
        "stamped; both versions snapshot-read and aggregated per "
        "partition. Oracle restates both predicates over the source: a "
        "wrong bitmap union, off-by-one row index, or mis-attributed "
        "descriptor breaks a version's counts and sums.")
def delta_writer_dv_delete_agg(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    path = _staged_dvw_table(spark, sf_dir)
    parts = []
    for v in (1, 2):
        snap = read_delta_snapshot(spark, path, v)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value")


# ---------------------------------------------------------------------------
# DV-WRITING MERGE (the Databricks-default DBR 14+ MERGE layout)

_DVM_UPD = "event_id % 6 = 0"      # matched -> value doubles
_DVM_DEL = "event_id % 30 = 0"     # matched + this -> deleted
_DVM_INS = "event_id % 3 = 1"      # never in the target -> inserted


def _staged_dvm_table(spark: SparkSession, sf_dir: str) -> str:
    """Table whose upsert was committed by this repo's writer as a
    DV-producing MERGE: matched rows' old positions stamped dead via
    deletion vectors (no data bytes rewritten — every pre-merge file
    stays live with a descriptor), update post-images and inserts
    staged as new files in the same commit."""
    from ..sinks.delta_writer import create_delta_table, merge_into

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_V0_PRED)), path,
                           partition_by=["event_type"], cdf=True,
                           ts_ms=_BASE_TS_MS)
        src = e.filter(F.expr(f"({_DVM_UPD}) OR ({_DVM_INS})"))
        merge_into(spark, path, src, on=["event_id"],
                   when_matched_update={"value": "t.value + s.value"},
                   when_matched_delete=f"s.{_DVM_DEL}",
                   ts_ms=_BASE_TS_MS + 1000, use_dv=True)

    return stage(sf_dir, "delta_dvm", build)


@register(
    "delta_writer_dv_merge_agg",
    f"""
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(CASE WHEN {_DVM_UPD} THEN value * 2
                          ELSE value END), 4) AS sum_value
    FROM events
    WHERE ({_V0_PRED} AND NOT ({_DVM_DEL})) OR ({_DVM_INS})
    GROUP BY event_type
    """,
    doc="DV-PRODUCING MERGE round-trip (sinks/delta_writer.py "
        "merge_into(use_dv=True), the Databricks-default DBR 14+ MERGE "
        "layout): one commit stamps matched rows' old positions dead "
        "via roaring-bitmap deletion vectors in the row-level commit "
        "DELETE and UPDATE share (_commit_rows, _dv_stamp_actions) — "
        "every pre-merge file stays live, "
        "bitmaps built executor-side — while update post-images "
        "(t.value + s.value = value doubled, the source being the same "
        "events row) and not-matched inserts stage as new files; the "
        "matched-AND-%30 rows take the delete clause. Read back through "
        "THIS repo's log-replay reader over the partitioned layout. "
        "Oracle restates the three clauses as predicates over the "
        "source table: a wrong bitmap, a post-image staged for a "
        "deleted row, or a dropped insert breaks a partition's count "
        "or sum.")
def delta_writer_dv_merge_agg(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    path = _staged_dvm_table(spark, sf_dir)
    snap = read_delta_snapshot(spark, path)
    return (snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


# ---------------------------------------------------------------------------
# variantType reader/writer feature (Spark 4 native VARIANT)

def _staged_variant_table(spark: SparkSession, sf_dir: str) -> str:
    """Delta table with a VARIANT column built from the events rows
    (parse_json of a per-row JSON object), created by this repo's
    writer: protocol declares variantType on both sides, data files
    carry the value/metadata physical struct Spark's parquet writer
    emits for VariantType, and are committed WITHOUT stats (pyarrow
    cannot parse the VARIANT logical type — unskippable is correct)."""
    from ..sinks.delta_writer import create_delta_table

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .filter(F.expr(_V0_PRED))
             .select("event_id",
                     F.parse_json(F.to_json(F.struct(
                         "event_type", "value"))).alias("payload")))
        create_delta_table(spark, e, path, ts_ms=_BASE_TS_MS)

    return stage(sf_dir, "delta_variant", build)


@register(
    "delta_variant_read",
    f"""
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE {_V0_PRED}
    GROUP BY event_type
    """,
    doc="VARIANT through the jar-less Delta stack (DBR 15.3+/Spark 4 "
        "variantType table feature): the staged table's payload column "
        "is real VARIANT (parse_json at write, value/metadata physical "
        "struct in parquet, protocol readerFeatures [variantType], "
        "sources/delta_log.py SUPPORTED_READER_FEATURES), read back via "
        "log replay and shredded with variant_get into the typed "
        "event_type/value the oracle computes directly from the source "
        "rows. A mis-read variant binary, wrong physical mapping, or "
        "dropped feature gate breaks every group's count and sums.")
def delta_variant_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_variant_table(spark, sf_dir)
    snap = read_delta_snapshot(spark, path)
    return (snap.select(
        "event_id",
        F.try_variant_get("payload", "$.event_type", "string")
        .alias("event_type"),
        F.try_variant_get("payload", "$.value", "double").alias("value"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"),
             F.sum("event_id").alias("sum_id"))
        .select("event_type", "n", "sum_value", "sum_id"))


# ---------------------------------------------------------------------------
# WRITING to a column-mapped table (name mode, r10)

def _staged_cm_written_table(spark: SparkSession, sf_dir: str) -> str:
    """The column-mapped staged table (ALL orders rows under physical
    names) PLUS writer traffic from this repo: an APPEND of the
    %3=1 rows under NEGATED keys (disjoint from the base) and a
    rewrite-DELETE of o_orderkey%5=0 — every staged file carries
    physical column names and field ids, partitionValues/stats
    physical, while callers only ever see logical names."""
    import shutil

    from ..sinks.delta_writer import append_delta, delete_where
    from ..sources.delta_log import replay_log

    def build(path: str) -> None:
        shutil.copytree(_staged_cm_table(spark, sf_dir), path,
                        dirs_exist_ok=True)
        rep = replay_log(spark, path)
        o = (load_table(spark, sf_dir, "orders")
             .filter("o_orderkey % 3 = 1")
             .selectExpr("-o_orderkey AS o_orderkey", "o_orderstatus",
                         "o_totalprice"))
        append_delta(spark, o.select(
            *[F.col(f.name).cast(f.dataType) for f in rep.schema.fields]),
            path, ts_ms=_BASE_TS_MS + 1000)
        delete_where(spark, path, "o_orderkey % 5 = 0",
                     ts_ms=_BASE_TS_MS + 2000)

    return stage(sf_dir, "delta_cmw", build)


@register(
    "delta_writer_mapped_append_agg",
    """
    WITH t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT -o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_total
    FROM t
    WHERE NOT (o_orderkey % 5 = 0)
    GROUP BY o_orderstatus
    """,
    doc="WRITES to a columnMapping=name table (sinks/delta_writer.py "
        "_to_physical staging): this repo APPENDS and rewrite-DELETEs "
        "on the physically-named layout — staged files carry "
        "col-9f* physical columns + field ids, partitionValues/stats "
        "physical — and reads back logically through the log replay. "
        "Oracle restates base + negated-key appended rows minus the "
        "delete predicate; a logical-named data file, broken "
        "physical projection, or delete that missed mapped files "
        "breaks counts and the cents-exact sums.")
def delta_writer_mapped_append_agg(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    path = _staged_cm_written_table(spark, sf_dir)
    snap = read_delta_snapshot(spark, path)
    return (snap.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count("*").alias("n"),
                 (F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")) / 100.0).alias("sum_total"))
            .select("status", "n", "sum_total"))


# ---------------------------------------------------------------------------
# RESTORE (time-travel rollback as a commit, r10)

def _staged_restored_table(spark: SparkSession, sf_dir: str) -> str:
    """v0 = %3=0 events; v1 = append %3=1; v2 = DELETE %5=0 (DV layout);
    v3 = RESTORE to v1 — one commit re-adds the DV-stamped files'
    pre-delete form and the head serves v1's exact state while v2
    stays time-travelable."""
    from ..sinks.delta_writer import (
        append_delta,
        create_delta_table,
        delete_where,
        restore_delta,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_V0_PRED)), path,
                           ts_ms=_BASE_TS_MS)
        append_delta(spark, e.filter(F.expr(_V1_PRED)), path,
                     ts_ms=_BASE_TS_MS + 1000)
        delete_where(spark, path, "event_id % 5 = 0",
                     ts_ms=_BASE_TS_MS + 2000, use_dv=True)
        restore_delta(spark, path, 1, ts_ms=_BASE_TS_MS + 3000)

    return stage(sf_dir, "delta_restore", build)


@register(
    "delta_restore_agg",
    f"""
    SELECT 2 AS version, event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE ({_V0_PRED} OR {_V1_PRED}) AND NOT (event_id % 5 = 0)
    GROUP BY event_type
    UNION ALL
    SELECT 3 AS version, event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED} OR {_V1_PRED}
    GROUP BY event_type
    """,
    doc="RESTORE round-trip (sinks/delta_writer.py restore_delta): the "
        "head (v3) must serve v1's EXACT pre-delete state — the restore "
        "commit re-adds the DV-stamped files without their deletion "
        "vectors — while the rolled-back v2 stays time-travelable with "
        "its DVs applied. Oracle restates both states; a restore that "
        "kept a stale DV descriptor, dropped a shared file, or broke "
        "v2's history flips a version's counts and sums.")
def delta_restore_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_restored_table(spark, sf_dir)
    parts = []
    for v in (2, 3):
        snap = read_delta_snapshot(spark, path, v)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value")


_CL_DEAD = "event_id % 7 = 2"           # DV-deleted in the SOURCE pre-clone
_CL_NEW = "event_id % 3 = 2"            # appended to the CLONE only


def _staged_clone_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Source table (two appends + a DV delete) and its SHALLOW clone,
    which then diverges: an append lands on the clone only. Staging
    asserts the zero-copy property (no parquet under the clone before
    its own append) so a clone that silently copies fails the gate."""
    from ..sinks.delta_writer import (
        append_delta,
        clone_delta,
        create_delta_table,
        delete_where,
    )

    def build(root: str) -> None:
        src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_V0_PRED)), src,
                           ts_ms=_BASE_TS_MS)
        append_delta(spark, e.filter(F.expr(_V1_PRED)), src,
                     ts_ms=_BASE_TS_MS + 1000)
        delete_where(spark, src, _CL_DEAD, ts_ms=_BASE_TS_MS + 2000,
                     use_dv=True)
        clone_delta(spark, src, dst, ts_ms=_BASE_TS_MS + 3000)
        n_parquet = sum(f.endswith(".parquet")
                        for _, _, fs in os.walk(dst) for f in fs)
        assert n_parquet == 0, "shallow clone moved data"
        append_delta(spark, e.filter(F.expr(_CL_NEW)), dst,
                     ts_ms=_BASE_TS_MS + 4000)

    root = stage(sf_dir, "delta_clone", build)
    return os.path.join(root, "src"), os.path.join(root, "dst")


@register(
    "delta_clone_agg",
    f"""
    SELECT 'clone' AS tbl, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE ((({_V0_PRED}) OR ({_V1_PRED})) AND NOT ({_CL_DEAD}))
       OR ({_CL_NEW})
    GROUP BY event_type
    UNION ALL
    SELECT 'source' AS tbl, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE (({_V0_PRED}) OR ({_V1_PRED})) AND NOT ({_CL_DEAD})
    GROUP BY event_type
    """,
    doc="SHALLOW CLONE round-trip (sinks/delta_writer.py clone_delta): "
        "the clone's commit 0 references the source's files by absolute "
        "url-encoded path — zero data movement, asserted at staging — "
        "with the source's 'u' deletion vectors rewritten to absolute "
        "'p' descriptors (the DV-deleted rows stay dead through the "
        "clone); an append then lands on the CLONE only, and both "
        "tables' final states are aggregated — divergence isolation is "
        "exactly what a clone exists for. Oracle re-derives both states "
        "from the parquet source.")
def delta_clone_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot as snap

    src, dst = _staged_clone_pair(spark, sf_dir)

    def agg(path: str, tbl: str) -> DataFrame:
        return (snap(spark, path)
                .groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(tbl).alias("tbl"), "event_type", "n",
                        "sum_value"))

    return agg(dst, "clone").unionAll(agg(src, "source"))


@register(
    "delta_history_feed",
    f"""
    SELECT * FROM (VALUES
        (0, {_BASE_TS_MS}, 'CREATE TABLE AS SELECT'),
        (1, {_BASE_TS_MS + 1000}, 'WRITE'),
        (2, {_BASE_TS_MS + 2000}, 'DELETE'),
        (3, {_BASE_TS_MS + 3000}, 'UPDATE'),
        (4, {_BASE_TS_MS + 4000}, 'MERGE')
    ) AS t(version, ts_ms, operation)
    """,
    doc="DESCRIBE HISTORY (sources/delta_log.py delta_history) over the "
        "writer-staged table: the five commits' versions, wall "
        "timestamps and operation names exactly as the writer stamped "
        "them — the audit surface of a production table. The oracle is "
        "the staging recipe's literal expectation (a VALUES table): the "
        "gate attests the history API's stability, not a data "
        "transformation.")
def delta_history_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import delta_history

    path = _writer_staged_table(spark, sf_dir)
    return (delta_history(spark, path)
            .select(F.col("version").cast("int").alias("version"),
                    F.col("timestamp_ms").alias("ts_ms"),
                    "operation")
            .orderBy("version"))


_ID_V0, _ID_V1 = "event_id % 4 = 0", "event_id % 4 = 1"
_ID_START, _ID_STEP = 100, 10


def _staged_identity_table(spark: SparkSession, sf_dir: str) -> str:
    """Identity-column table: created with explicit grid values (watermark
    initialized from staged stats), then grown by an append WITHOUT the
    column — the writer generates values above the watermark. Sorted
    single-partition staging makes generation deterministic, so the
    oracle can replay it with ROW_NUMBER arithmetic."""
    from pyspark.sql import Window

    from ..sinks.delta_writer import append_delta, create_delta_table

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        w = Window.orderBy("event_id")
        base = (e.filter(F.expr(_ID_V0))
                .withColumn("uid", F.lit(_ID_START)
                            + F.lit(_ID_STEP) * F.row_number().over(w)))
        typed = base.select(
            F.col("uid").cast("long").alias(
                "uid", metadata={"delta.identity.start": _ID_START,
                                 "delta.identity.step": _ID_STEP,
                                 "delta.identity.allowExplicitInsert":
                                     True}),
            "event_id", "event_type", "value")
        create_delta_table(spark, typed.orderBy("event_id").coalesce(1),
                           path, ts_ms=_BASE_TS_MS)
        grow = (e.filter(F.expr(_ID_V1))
                .orderBy("event_id").coalesce(1))
        append_delta(spark, grow, path, ts_ms=_BASE_TS_MS + 1000)

    return stage(sf_dir, "delta_identity", build)


@register(
    "delta_identity_append_agg",
    f"""
    WITH base AS (
      SELECT event_id, event_type, value,
             {_ID_START} + {_ID_STEP} * CAST(ROW_NUMBER() OVER (ORDER BY
                 event_id) AS BIGINT) AS uid
      FROM events WHERE {_ID_V0}),
    grown AS (
      SELECT event_id, event_type, value,
             (SELECT MAX(uid) FROM base)
             + {_ID_STEP} * CAST(ROW_NUMBER() OVER (ORDER BY event_id)
                                 AS BIGINT) AS uid
      FROM events WHERE {_ID_V1}),
    both_eras AS (SELECT * FROM base UNION ALL SELECT * FROM grown)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(uid) AS BIGINT) AS sum_uid,
           CAST(MIN(uid) AS BIGINT) AS min_uid,
           CAST(MAX(uid) AS BIGINT) AS max_uid
    FROM both_eras GROUP BY event_type
    """,
    doc="Identity columns through the jar-less writer (sinks/"
        "delta_writer.py _generate_identity / _identity_hwm_update): "
        "creation absorbs explicit grid values into the high watermark "
        "(derived from STAGED FILE STATS, so metadata can never desync "
        "from data); the append carries NO uid column and the writer "
        "generates start/step-grid values above the watermark, advancing "
        "it in the same commit. Sorted single-partition staging makes "
        "the generated sequence equal the oracle's ROW_NUMBER "
        "arithmetic; per-type SUM/MIN/MAX of uid value-check every id.")
def delta_identity_append_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot as snap

    path = _staged_identity_table(spark, sf_dir)
    return (snap(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("uid").alias("sum_uid"),
                 F.min("uid").alias("min_uid"),
                 F.max("uid").alias("max_uid"))
            .select("event_type", "n", "sum_uid", "min_uid", "max_uid"))


_IDM_UPD = "event_id % 8 = 0"          # matched subset of the V0 slice
_IDM_INS = "event_id % 4 = 1"          # insert slice (no uid column)


def _staged_identity_merge_table(spark: SparkSession, sf_dir: str) -> str:
    """Identity table grown by MERGE (VERDICT r10 #4): created with
    explicit grid values, then ONE merge whose matched clause updates
    ``value`` (stored uid must not move) and whose insert clause carries
    NO uid column (the writer generates above the watermark in the same
    commit)."""
    from pyspark.sql import Window

    from ..sinks.delta_writer import create_delta_table, merge_into

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        w = Window.orderBy("event_id")
        base = (e.filter(F.expr(_ID_V0))
                .withColumn("uid", F.lit(_ID_START)
                            + F.lit(_ID_STEP) * F.row_number().over(w)))
        typed = base.select(
            F.col("uid").cast("long").alias(
                "uid", metadata={"delta.identity.start": _ID_START,
                                 "delta.identity.step": _ID_STEP,
                                 "delta.identity.allowExplicitInsert":
                                     True}),
            "event_id", "event_type", "value")
        create_delta_table(spark, typed.orderBy("event_id").coalesce(1),
                           path, ts_ms=_BASE_TS_MS)
        src = e.filter(F.expr(f"({_IDM_UPD}) OR ({_IDM_INS})"))
        merge_into(spark, path, src, on=["event_id"],
                   when_matched_update={"value": "s.value + 100"},
                   ts_ms=_BASE_TS_MS + 1000)

    return stage(sf_dir, "delta_idmerge", build)


@register(
    "delta_identity_merge_agg",
    f"""
    WITH base AS (
      SELECT event_id, event_type, value,
             {_ID_START} + {_ID_STEP} * CAST(ROW_NUMBER() OVER (ORDER BY
                 event_id) AS BIGINT) AS uid
      FROM events WHERE {_ID_V0}),
    merged AS (
      SELECT event_id, event_type,
             CASE WHEN {_IDM_UPD} THEN value + 100 ELSE value END AS value,
             uid, TRUE AS preserved
      FROM base
      UNION ALL
      SELECT event_id, event_type, value, NULL AS uid, FALSE AS preserved
      FROM events WHERE {_IDM_INS})
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
           CAST(SUM(CASE WHEN preserved THEN 1 ELSE 0 END) AS BIGINT)
             AS n_preserved,
           CAST(SUM(CASE WHEN preserved THEN uid ELSE 0 END) AS BIGINT)
             AS sum_uid_preserved
    FROM merged GROUP BY event_type
    """,
    doc="Identity columns under MERGE (sinks/delta_writer.py merge_into "
        "— VERDICT r10 #4): the matched clause updates value while the "
        "stored identity value MUST NOT move (sum_uid_preserved pins "
        "every preserved id), and the uid-less insert clause generates "
        "values strictly above the creation watermark in the same "
        "commit (n_preserved vs n splits the eras — a generated value "
        "leaking at-or-below the watermark, or a matched row losing its "
        "id, breaks the split or the preserved-uid sum). Generated "
        "insert values are range-sparse by design, so the oracle checks "
        "the preserved side exactly and the generated side by count.")
def delta_identity_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot as snap

    path = _staged_identity_merge_table(spark, sf_dir)
    n0 = (load_table(spark, sf_dir, "events")
          .filter(F.expr(_ID_V0)).count())
    wm0 = _ID_START + _ID_STEP * n0
    preserved = F.col("uid") <= F.lit(wm0)
    return (snap(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.sum(preserved.cast("int")).cast("long")
                 .alias("n_preserved"),
                 F.sum(F.when(preserved, F.col("uid")).otherwise(0))
                 .alias("sum_uid_preserved"))
            .select("event_type", "n", "sum_value", "n_preserved",
                    "sum_uid_preserved"))


_RT_V0, _RT_V1 = "event_id % 4 = 2", "event_id % 4 = 3"
_RT_DEAD = "event_id % 5 = 2"


def _staged_row_tracking_table(spark: SparkSession, sf_dir: str) -> str:
    """Row-tracked table: create + append claim baseRowId ranges (sorted
    single-partition staging makes the fresh row ids deterministic),
    then a DV DELETE kills rows WITHOUT moving any survivor's id."""
    from ..sinks.delta_writer import (
        append_delta,
        create_delta_table,
        delete_where,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(
            spark, e.filter(F.expr(_RT_V0)).orderBy("event_id")
            .coalesce(1), path, ts_ms=_BASE_TS_MS,
            configuration={"delta.enableRowTracking": "true"})
        append_delta(spark, e.filter(F.expr(_RT_V1)).orderBy("event_id")
                     .coalesce(1), path, ts_ms=_BASE_TS_MS + 1000)
        delete_where(spark, path, _RT_DEAD, ts_ms=_BASE_TS_MS + 2000,
                     use_dv=True)

    return stage(sf_dir, "delta_rt", build)


@register(
    "delta_row_tracking_agg",
    f"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS BIGINT)
                 AS rid
      FROM events WHERE {_RT_V0}),
    grown AS (
      SELECT event_id, event_type,
             (SELECT COUNT(*) FROM base)
             + CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS BIGINT)
                 AS rid
      FROM events WHERE {_RT_V1}),
    live AS (SELECT * FROM base UNION ALL SELECT * FROM grown)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(rid) AS BIGINT) AS sum_row_id
    FROM live WHERE NOT ({_RT_DEAD})
    GROUP BY event_type
    """,
    doc="ROW TRACKING through the jar-less writer (sinks/delta_writer.py "
        "_assign_base_row_ids + sources/delta_log.py "
        "read_delta_snapshot_with_row_ids): create and append claim "
        "disjoint baseRowId ranges above the delta.rowTracking domain "
        "watermark; a DV DELETE then kills rows while every survivor's "
        "_row_id = baseRowId + position stays EXACTLY where it was "
        "(files never move under DVs). Per-type SUM(_row_id) "
        "value-checks every id against the oracle's ROW_NUMBER replay.")
def delta_row_tracking_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot_with_row_ids

    path = _staged_row_tracking_table(spark, sf_dir)
    return (read_delta_snapshot_with_row_ids(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("_row_id").alias("sum_row_id"))
            .select("event_type", "n", "sum_row_id"))


_RW_V0, _RW_V1 = "event_id % 4 = 0", "event_id % 4 = 1"
_RW_NEW = "event_id % 4 = 2"           # replacement rows (clicks only)


def _staged_replace_where_table(spark: SparkSession, sf_dir: str) -> str:
    """Partitioned table whose 'click' region is atomically replaced via
    replaceWhere with a transformed slice — the partition-load idiom."""
    from ..sinks.delta_writer import (
        append_delta,
        create_delta_table,
        replace_where,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_RW_V0)), path,
                           partition_by=["event_type"],
                           ts_ms=_BASE_TS_MS)
        append_delta(spark, e.filter(F.expr(_RW_V1)), path,
                     ts_ms=_BASE_TS_MS + 1000)
        repl = (e.filter(F.expr(_RW_NEW))
                .filter(F.col("event_type") == "click")
                .withColumn("value", F.col("value") + 1000.0))
        replace_where(spark, repl, path, "event_type = 'click'",
                      ts_ms=_BASE_TS_MS + 2000)

    return stage(sf_dir, "delta_rw", build)


@register(
    "delta_replace_where_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM (
      SELECT event_type, value FROM events
      WHERE (({_RW_V0}) OR ({_RW_V1})) AND event_type <> 'click'
      UNION ALL
      SELECT event_type, value + 1000.0 AS value FROM events
      WHERE ({_RW_NEW}) AND event_type = 'click')
    GROUP BY event_type
    """,
    doc="replaceWhere (sinks/delta_writer.py replace_where): the table's "
        "'click' region is atomically replaced — one commit removes "
        "exactly the affected files (carrying their non-matching rows "
        "forward) and adds the transformed replacement slice; incoming "
        "rows outside the region refuse pre-commit; untouched "
        "partitions never move. Final per-type aggregates re-derived by "
        "the oracle as (non-click survivors UNION replacement clicks).")
def delta_replace_where_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_log import read_delta_snapshot as snap

    path = _staged_replace_where_table(spark, sf_dir)
    return (snap(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


# ---------------------------------------------------------------------------
# jar-less Delta STREAMING SOURCE (streaming/delta_source.py): the
# readStream-shaped micro-batch consumer driven end-to-end, batch-twin
# oracle on the first-seen-dedup transform


def _staged_stream_first_seen(spark: SparkSession, sf_dir: str) -> str:
    """Real CDF-enabled Delta SOURCE of three overlapping insert commits
    (commit c inserts every event with event_id % 3 <= c, payload column
    stamped c), drained by ``stream_delta_first_seen`` in single-version
    micro-batches into a real Delta TARGET — plus one deliberate
    crash-before-mark REDELIVERY (the offset rolled back to 0 and the
    stream re-drained) that must append nothing. The target then holds
    each event_id exactly once, carrying the payload of its FIRST commit
    (= event_id % 3)."""
    from ..sinks.delta_writer import append_delta, create_delta_table
    from ..sources.delta_log import write_ingest_mark
    from ..streaming.delta_source import stream_delta_first_seen

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        for c in range(3):
            batch = (e.filter(F.expr(f"event_id % 3 <= {c}"))
                     .withColumn("src_commit", F.lit(c).cast("long")))
            if c == 0:
                create_delta_table(spark, batch, src, cdf=True,
                                   ts_ms=_BASE_TS_MS)
            else:
                append_delta(spark, batch, src,
                             ts_ms=_BASE_TS_MS + c * 1000)
        tgt = os.path.join(path, "tgt")
        mark = os.path.join(path, "mark")
        stream_delta_first_seen(spark, src, tgt, mark,
                                id_col="event_id",
                                max_versions_per_batch=1)
        # crash-before-mark redelivery: nothing may duplicate
        write_ingest_mark(spark, mark, 0)
        stream_delta_first_seen(spark, src, tgt, mark,
                                id_col="event_id")

    return os.path.join(stage(sf_dir, "delta_stream_fs", build), "tgt")


@register(
    "delta_stream_first_seen_agg",
    """
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(SUM(event_id % 3) AS BIGINT) AS sum_first_commit
    FROM events
    GROUP BY event_type
    """,
    doc="Jar-less Delta STREAMING SOURCE end-to-end (streaming/"
        "delta_source.py — VERDICT r11 #3): a real CDF commit log is "
        "drained in offset-checkpointed micro-batches through the "
        "first-seen-dedup transform into a txn-keyed exactly-once Delta "
        "sink, INCLUDING a forced crash-before-mark redelivery. The "
        "oracle is the batch twin: each event_id exactly once (n, "
        "sum_value) carrying its first commit's payload "
        "(sum_first_commit = SUM(event_id % 3)); a dropped batch, "
        "duplicated redelivery, or later-commit overwrite breaks it.")
def delta_stream_first_seen_agg(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    tgt = _staged_stream_first_seen(spark, sf_dir)
    return (read_delta_snapshot(spark, tgt)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.sum("src_commit").alias("sum_first_commit"))
            .select("event_type", "n", "sum_value", "sum_first_commit"))


@register(
    "delta_jarless_datasource_agg",
    f"""
    SELECT 0 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS version, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_V0_PRED} OR {_V1_PRED}
    GROUP BY event_type
    """,
    doc="spark.read.format('delta_jarless') — the Python Data Source "
        "batch half (sources/delta_stream_datasource.py): the staged "
        "two-commit Delta table is read through the REGISTERED format "
        "at versionAsOf=0 and at head, per-file InputPartitions "
        "pyarrow-read in executors with column pruning. Same oracle as "
        "the log-replay snapshot gate — a planner, partition, or "
        "version-resolution defect diverges the aggregates.")
def delta_jarless_datasource_agg(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..sources.delta_stream_datasource import (
        register_delta_stream_source,
    )

    path = _staged_table(spark, sf_dir)
    register_delta_stream_source(spark)
    parts = []
    for v in (0, 1):
        snap = (spark.read.format("delta_jarless").option("path", path)
                .option("versionAsOf", str(v)).load())
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("version", F.lit(v).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "version", "event_type", "n", "sum_value")
