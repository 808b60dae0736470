"""Iceberg-protocol gate queries: the pure-Python snapshot reader
(``sources/iceberg.py`` + the from-scratch Avro codec) driven through the
driver's DuckDB oracle gate, mirroring the Delta gates' staging pattern —
a real Iceberg v2 table is staged from the ``events`` table (two append
snapshots), then read back through metadata/manifest resolution; the
oracle re-derives the same rows straight from the parquet source. A
resolution bug — wrong live-file set at a snapshot, broken Avro decode,
field-id mismatch — breaks the value hash."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.iceberg import read_iceberg_snapshot, write_iceberg_table
from ..sources.registry import load_table
from . import register, stage

_S0_PRED, _S1_PRED = "event_id % 3 = 0", "event_id % 3 = 1"
_SNAP0, _SNAP1 = 1000, 1001


def _staged_iceberg(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark, [e.filter(F.expr(_S0_PRED)), e.filter(F.expr(_S1_PRED))],
            path)

    return stage(sf_dir, "iceberg", build)


@register(
    "iceberg_snapshot_agg",
    f"""
    SELECT 0 AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_S0_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_S0_PRED} OR {_S1_PRED}
    GROUP BY event_type
    """,
    doc="Snapshot reads through the pure-Python Iceberg reader: the "
        "events table is staged as a real Iceberg v2 table (metadata "
        "json + Avro manifest list/manifests written by the from-scratch "
        "Avro codec, parquet data files with field ids), then BOTH "
        "snapshots are read back by snapshot-id and aggregated. The "
        "first aggregate proves time travel (the second snapshot's "
        "files excluded); the second proves manifest accumulation. "
        "Oracle re-derives both states from the parquet source.")
def iceberg_snapshot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_iceberg(spark, sf_dir)

    def agg(df: DataFrame, snap: int) -> DataFrame:
        return (df.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(snap).alias("snap"), "event_type", "n",
                        "sum_value"))

    return agg(read_iceberg_snapshot(spark, path, snapshot_id=_SNAP0),
               0).unionAll(
        agg(read_iceberg_snapshot(spark, path, snapshot_id=_SNAP1), 1))


@register(
    "iceberg_cdf_insert_feed",
    f"""
    SELECT event_id, event_type, ROUND(value, 4) AS value,
           'insert' AS change_type, 1 AS commit_version,
           1700000001000 AS commit_ts_ms
    FROM events WHERE {_S1_PRED}
    """,
    doc="Change feed synthesized from the Iceberg snapshot live-set diff: "
        "changes in ordinal range (0, 1] of the staged table are exactly "
        "the second snapshot's appended rows as change_type='insert' with "
        "the snapshot's pinned ordinal and timestamp — the Delta "
        "CDF-shaped surface an incremental unload from an Iceberg source "
        "consumes. Row-level comparison.")
def iceberg_cdf_insert_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import read_iceberg_changes

    path = _staged_iceberg(spark, sf_dir)
    ch = read_iceberg_changes(spark, path, 0, 1)
    return ch.select(
        "event_id", "event_type",
        F.round(F.col("value"), 4).alias("value"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("int").alias("commit_version"),
        (F.unix_millis(F.col("_commit_timestamp"))).alias("commit_ts_ms"))


_MOR_DEAD = "event_id % 5 = 2"


def _staged_mor_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Staged Iceberg v2 MERGE-ON-READ table: one append snapshot of the
    events slice, then a position-delete snapshot killing ``_MOR_DEAD``
    rows — a real content=1 delete manifest + spec-field-id delete
    parquet, the layout Flink CDC / Spark MERGE writers produce."""
    from ..sources.iceberg import write_iceberg_position_deletes

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value").repartition(4))
        write_iceberg_table(spark, [e], path)
        write_iceberg_position_deletes(spark, path, _MOR_DEAD)

    return stage(sf_dir, "iceberg_mor", build)


@register(
    "iceberg_mor_delete_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE NOT ({_MOR_DEAD})
    GROUP BY event_type
    """,
    doc="Iceberg v2 MERGE-ON-READ: the staged table's current snapshot "
        "carries a content=1 delete manifest whose position-delete "
        "parquet (spec field ids 2147483546/2147483545) kills every "
        "event_id%5=2 row; the jar-less reader anti-joins the data "
        "scan's (_metadata.file_path, row_index) against the delete "
        "(file_path, pos) pairs — broadcast under the DV cardinality "
        "threshold, shuffle anti-join above it, delete side never "
        "collected or driver-decoded. The oracle restates the delete as "
        "a row predicate over the parquet source: a delete row dropped, "
        "double-applied, or attributed to the wrong data file breaks "
        "both the counts and the sums.")
def iceberg_mor_delete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_mor_iceberg(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


_ISKIP_LO, _ISKIP_HI = 1200, 1799


def _staged_skip_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Staged Iceberg table whose 8 data files are RANGE-partitioned on
    event_id, each manifest entry carrying footer-derived lower/upper
    bounds — the layout where Iceberg data skipping pays."""
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value")
             .repartitionByRange(8, "event_id"))
        write_iceberg_table(spark, [e], path)

    return stage(sf_dir, "iceberg_skip", build)


@register(
    "iceberg_data_skipping_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE event_id BETWEEN {_ISKIP_LO} AND {_ISKIP_HI}
    GROUP BY event_type
    """,
    doc="Iceberg DATA SKIPPING through the jar-less reader: the staged "
        "table's 8 files are range-partitioned on event_id with "
        "footer-derived lower/upper bounds (spec Appendix D single-value "
        "serialization) on every manifest entry; the snapshot read "
        "prunes files whose [min, max] provably misses the predicate AT "
        "PLANNING (zero tasks for skipped files), while the row-level "
        "filter stays on the scan so pruning is superset-safe. Oracle "
        "restates the predicate over the parquet source; a skip that "
        "drops a needed file breaks counts and sums.")
def iceberg_data_skipping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import iceberg_column_range_filter

    path = _staged_skip_iceberg(spark, sf_dir)
    snap = read_iceberg_snapshot(
        spark, path,
        stats_filter=iceberg_column_range_filter(
            "event_id", _ISKIP_LO, _ISKIP_HI))
    return (snap.filter(F.col("event_id").between(_ISKIP_LO, _ISKIP_HI))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


_DAYS_LO, _DAYS_HI = "2024-01-10 00:00:00", "2024-01-14 23:59:59.999999"


def _staged_days_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Staged Iceberg table with a NON-IDENTITY ``days(ts)`` partition
    spec — the dominant real-world Iceberg layout — one file slice per
    event day, manifest partition structs carrying the day ordinal."""
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "ts", "event_type", "value"))
        write_iceberg_table(spark, [e], path,
                            partition_transforms=[("ts_day", "days", "ts")])

    return stage(sf_dir, "iceberg_days", build)


@register(
    "iceberg_days_pruned_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{_DAYS_LO}' AND TIMESTAMP '{_DAYS_HI}'
    GROUP BY event_type
    """,
    doc="Iceberg NON-IDENTITY partition pruning: the staged table is "
        "days(ts)-partitioned (~30 day slices); the read maps the "
        "timestamp range onto transformed day ordinals driver-side "
        "(iceberg_source_range_filter) so only the 5 covering days' "
        "files are planned — zero tasks for the other ~25 — while the "
        "row-level predicate stays on the scan (superset-safe). The "
        "oracle restates the range over the parquet source: pruning "
        "that drops a needed day or keeps a wrong one breaks counts "
        "and sums.")
def iceberg_days_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from ..sources.iceberg import (
        iceberg_source_range_filter,
        read_table_metadata,
    )

    path = _staged_days_iceberg(spark, sf_dir)
    meta = read_table_metadata(spark, path)
    filt = iceberg_source_range_filter(
        meta, "ts",
        lo=dt.datetime(2024, 1, 10),
        hi=dt.datetime(2024, 1, 14, 23, 59, 59, 999999))
    snap = read_iceberg_snapshot(spark, path, partition_filter=filt)
    return (snap.filter(F.col("ts").between(_DAYS_LO, _DAYS_HI))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


_AP_BASE, _AP_NEW = "event_id % 4 = 0", "event_id % 4 = 1"


def _staged_append_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Base table staged by the bulk writer, then grown by the
    TRANSACTIONAL appender (CAS-committed v2 metadata) — the commit
    protocol a live multi-writer table uses."""
    from ..sources.iceberg import append_iceberg

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_AP_BASE))], path)
        append_iceberg(spark, e.filter(F.expr(_AP_NEW)), path,
                       ts_ms=1700000005000)

    return stage(sf_dir, "iceberg_append", build)


@register(
    "iceberg_append_roundtrip_agg",
    f"""
    SELECT 0 AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_AP_BASE}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_AP_BASE}) OR ({_AP_NEW})
    GROUP BY event_type
    """,
    doc="TRANSACTIONAL Iceberg append: the staged table's second "
        "snapshot is committed by append_iceberg — uuid-named manifest, "
        "manifest list rebuilt on the head, v<N+1>.metadata.json claimed "
        "with an atomic no-overwrite create (the HadoopCatalog CAS), "
        "version-hint advisory-updated last. Both snapshots read back "
        "and aggregated: snap 0 proves the append did not disturb "
        "history, snap 1 proves the appended manifest accumulates. "
        "Oracle re-derives both states from the parquet source.")
def iceberg_append_roundtrip_agg(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..sources.iceberg import iceberg_snapshot_ids

    path = _staged_append_iceberg(spark, sf_dir)
    ids = [s["snapshot_id"] for s in iceberg_snapshot_ids(spark, path)]

    def agg(sid: int, snap: int) -> DataFrame:
        return (read_iceberg_snapshot(spark, path, snapshot_id=sid)
                .groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(snap).alias("snap"), "event_type", "n",
                        "sum_value"))

    return agg(ids[0], 0).unionAll(agg(ids[-1], 1))


_EQ_BASE, _EQ_REINS = "event_id % 3 = 0", "event_id % 3 = 1"
_EQ_DEAD_TYPE = "click"


def _staged_eq_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Staged Iceberg v2 table with an EQUALITY-delete history (the
    Flink-CDC upsert shape): base snapshot (seq 1), an equality delete
    on event_type='click' (seq 2), then an append RE-INSERTING click
    rows (seq 3) — which must survive under the strictly-older rule."""
    from ..sources.iceberg import (
        append_iceberg,
        write_iceberg_equality_deletes,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_EQ_BASE))], path)
        write_iceberg_equality_deletes(
            spark, path,
            spark.createDataFrame([(_EQ_DEAD_TYPE,)],
                                  "event_type string"),
            ["event_type"])
        append_iceberg(
            spark, e.filter(F.expr(_EQ_REINS)
                            & (F.col("event_type") == _EQ_DEAD_TYPE)),
            path, ts_ms=1700000007000)

    return stage(sf_dir, "iceberg_eq", build)


@register(
    "iceberg_eq_delete_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE (({_EQ_BASE}) AND event_type <> '{_EQ_DEAD_TYPE}')
       OR (({_EQ_REINS}) AND event_type = '{_EQ_DEAD_TYPE}')
    GROUP BY event_type
    """,
    doc="Iceberg v2 EQUALITY deletes with sequence-number scoping: the "
        "staged history is base (seq 1) -> equality delete of "
        "event_type='click' (seq 2, content=2 delete parquet with "
        "equality_ids) -> transactional append RE-INSERTING click rows "
        "(seq 3). The reader anti-joins on null-safe key equality WITH "
        "the strictly-older sequence comparison in the join condition, "
        "so seq-1 click rows die while seq-3 click rows survive — the "
        "CDC upsert semantics Flink writes. The oracle restates the "
        "surviving set: wrong sequence scoping (deleting the re-insert, "
        "or keeping the base) breaks both branches of the predicate.")
def iceberg_eq_delete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_eq_iceberg(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


@register(
    "iceberg_mor_cdf_feed",
    f"""
    SELECT event_id, event_type, ROUND(value, 4) AS value,
           'delete' AS change_type, 1 AS commit_version
    FROM events WHERE {_MOR_DEAD}
    """,
    doc="Change feed over a MERGE-ON-READ ordinal step: the staged MoR "
        "table's (0, 1] range diffs EFFECTIVE row sets on the physical "
        "row identity (file key, row index), so the position-delete "
        "snapshot surfaces as delete rows for exactly the rows it "
        "killed — no whole-file over-approximation, no re-reporting. "
        "Oracle restates the killed set; row-level comparison.")
def iceberg_mor_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import read_iceberg_changes

    path = _staged_mor_iceberg(spark, sf_dir)
    ch = read_iceberg_changes(spark, path, 0, 1)
    return ch.select(
        "event_id", "event_type",
        F.round(F.col("value"), 4).alias("value"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("int").alias("commit_version"))


# ---------------------------------------------------------------------------
# ORC data files (format dispatch in the snapshot scan — r10)

def _staged_iceberg_orc(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark, [e.filter(F.expr(_S0_PRED)), e.filter(F.expr(_S1_PRED))],
            path, file_format="orc")

    return stage(sf_dir, "iceberg_orc", build)


@register(
    "iceberg_orc_snapshot_agg",
    f"""
    SELECT 0 AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_S0_PRED}
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_S0_PRED} OR {_S1_PRED}
    GROUP BY event_type
    """,
    doc="ORC DATA FILES through the jar-less Iceberg reader "
        "(sources/iceberg.py format dispatch): the staged v2 table's "
        "two append snapshots are written as ORC files (manifest "
        "entries carry file_format=ORC, real record counts, empty "
        "bounds — ORC entries are honestly unskippable), read back by "
        "snapshot id through Spark's NATIVE ORC reader (name-resolved "
        "columns; parquet files in the same table keep field-id "
        "resolution) and aggregated. The oracle re-derives both "
        "snapshots from the parquet source: a format mis-dispatch, "
        "dropped snapshot, or ORC schema drift breaks counts and sums.")
def iceberg_orc_snapshot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_iceberg_orc(spark, sf_dir)
    parts = []
    for i, snap_id in enumerate((_SNAP0, _SNAP1)):
        snap = read_iceberg_snapshot(spark, path, snapshot_id=snap_id)
        parts.append(
            snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("snap", F.lit(i).cast("int")))
    return parts[0].unionByName(parts[1]).select(
        "snap", "event_type", "n", "sum_value")


# ---------------------------------------------------------------------------
# compaction (RewriteFiles) + sequence-number preservation (r10)

def _staged_iceberg_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Three append snapshots -> compact_iceberg_table (merges the small
    per-commit files into one 'replace' snapshot whose ADDED entries
    carry the rewrite's STARTING sequence number explicitly) -> an
    equality delete committed AFTER the compaction. The delete's
    strictly-older scoping must still kill rows now living in compacted
    files — a writer that let the outputs inherit a fresh sequence
    number would resurrect them and break the oracle."""
    from ..sources.iceberg import (
        compact_iceberg_table,
        write_iceberg_equality_deletes,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark,
            [e.filter(F.expr(f"event_id % 3 = {r}")).repartition(3)
             for r in range(3)],
            path)
        assert compact_iceberg_table(spark, path) is not None
        write_iceberg_equality_deletes(
            spark, path,
            e.select("event_type").filter("event_type = 'click'")
            .distinct(), ["event_type"])

    return stage(sf_dir, "iceberg_compact", build)


@register(
    "iceberg_compacted_agg",
    """
    SELECT 0 AS era, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE event_id % 3 = 0
    GROUP BY event_type
    UNION ALL
    SELECT 1 AS era, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE event_type <> 'click'
    GROUP BY event_type
    """,
    doc="COMPACTION round-trip (sources/iceberg.py compact_iceberg_table "
        "— the RewriteFiles maintenance action): per-partition small "
        "files merge into a 'replace' snapshot of ADDED entries with "
        "EXPLICIT starting sequence numbers + EXISTING survivors with "
        "their originals (inheritance is ADDED-only per spec). Era 0 "
        "time-travels to the FIRST append (pre-compaction history must "
        "survive); era 1 reads the head AFTER a post-compaction "
        "equality delete of event_type='click' — rows relocated into "
        "compacted files must still die under the strictly-older rule. "
        "A fresh inherited sequence number, dropped/duplicated rows in "
        "the rewrite, or broken time travel each break an era's counts "
        "and sums vs the oracle.")
def iceberg_compacted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_iceberg_compacted(spark, sf_dir)
    era0 = (read_iceberg_snapshot(spark, path, snapshot_id=_SNAP0)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("era", F.lit(0).cast("int")))
    era1 = (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("era", F.lit(1).cast("int")))
    return era0.unionByName(era1).select(
        "era", "event_type", "n", "sum_value")


# ---------------------------------------------------------------------------
# snapshot expiration (expireSnapshots maintenance, r10)

def _staged_iceberg_expired(spark: SparkSession, sf_dir: str) -> str:
    """Three appends -> expire all but the newest snapshot. Staging
    asserts the contract pytest pins (expired id raises loudly; the
    deleted manifest lists are really gone) so a semantics break fails
    the GATE, not just the unit tests."""
    from ..sources.iceberg import expire_iceberg_snapshots

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark,
            [e.filter(F.expr(f"event_id % 3 = {r}")) for r in range(3)],
            path)
        rep = expire_iceberg_snapshots(spark, path, keep_last=1)
        assert rep["expired"] == [_SNAP0, _SNAP1], rep
        try:
            read_iceberg_snapshot(spark, path, snapshot_id=_SNAP0)
            raise AssertionError("expired snapshot still readable")
        except FileNotFoundError:
            pass

    return stage(sf_dir, "iceberg_expire", build)


@register(
    "iceberg_expired_head_agg",
    """
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="expireSnapshots round-trip (sources/iceberg.py "
        "expire_iceberg_snapshots): history below keep_last=1 is "
        "dropped from the metadata and the files only those snapshots "
        "referenced (their manifest lists) are deleted; the HEAD "
        "snapshot must still serve every row of all three appends — a "
        "walk that deletes a shared manifest or data file breaks the "
        "counts; staging itself asserts expired ids now raise loudly.")
def iceberg_expired_head_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_iceberg_expired(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_REF_TAGGED = "event_id % 3 = 0"          # snapshot the tag pins


def _staged_iceberg_refs(spark: SparkSession, sf_dir: str) -> str:
    """Branch/tag refs end-to-end: tag + branch pinned at the first
    snapshot, a transactional append advancing main, then an expire
    that would drop the tagged snapshot if refs did not protect it.
    Staging asserts the retention contract so a semantics break fails
    the GATE, not just the unit tests."""
    from ..sources.iceberg import (
        append_iceberg,
        expire_iceberg_snapshots,
        set_iceberg_ref,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark,
            [e.filter(F.expr(f"event_id % 3 = {r}")) for r in range(2)],
            path)
        set_iceberg_ref(spark, path, "pre-growth", ref_type="tag",
                        snapshot_id=_SNAP0, ts_ms=1700000006000)
        set_iceberg_ref(spark, path, "audit", ref_type="branch",
                        snapshot_id=_SNAP0, ts_ms=1700000006001)
        append_iceberg(spark, e.filter(F.expr("event_id % 3 = 2")), path,
                       ts_ms=1700000007000)
        # keep_last=1 would expire BOTH older snapshots; the refs must
        # pin _SNAP0 while the unreferenced middle snapshot goes
        rep = expire_iceberg_snapshots(spark, path, keep_last=1)
        assert rep["expired"] == [_SNAP1], rep
        try:
            read_iceberg_snapshot(spark, path, snapshot_id=_SNAP1)
            raise AssertionError("expired snapshot still readable")
        except FileNotFoundError:
            pass

    return stage(sf_dir, "iceberg_ref", build)


@register(
    "iceberg_ref_read_agg",
    f"""
    SELECT 'pre-growth' AS ref, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE {_REF_TAGGED}
    GROUP BY event_type
    UNION ALL
    SELECT 'main' AS ref, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="Iceberg branch/tag refs (sources/iceberg.py set_iceberg_ref / "
        "_resolve_ref): time travel by ref name — the 'pre-growth' tag "
        "serves the first snapshot's rows AFTER an expire that retired "
        "every other non-head snapshot (ref-pinned snapshots are "
        "retained per spec), and 'main' tracks the head across a "
        "transactional append (_advance_head keeps current-snapshot-id "
        "and the main branch in lockstep). Oracle re-derives both "
        "states from the parquet source.")
def iceberg_ref_read_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_iceberg_refs(spark, sf_dir)

    def agg(ref: str) -> DataFrame:
        return (read_iceberg_snapshot(spark, path, ref=ref)
                .groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(ref).alias("ref"), "event_type", "n",
                        "sum_value"))

    return agg("pre-growth").unionAll(agg("main"))


@register(
    "iceberg_files_meta_agg",
    f"""
    SELECT 0 AS snap, COUNT(*) AS n_rows
    FROM events WHERE {_S0_PRED}
    UNION ALL
    SELECT 1 AS snap, COUNT(*) AS n_rows
    FROM events WHERE {_S0_PRED} OR {_S1_PRED}
    """,
    doc="The FILES metadata table (sources/iceberg.py "
        "iceberg_metadata_table): per-snapshot SUM(record_count) over "
        "the live data files — derived entirely from manifest metadata, "
        "ZERO data-file reads — must equal the oracle's row counts of "
        "the same states. Attests manifest record_count stats, live-set "
        "resolution per snapshot, and the metadata-table surface an "
        "operator audits a 100 TB table with.")
def iceberg_files_meta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import iceberg_metadata_table

    path = _staged_iceberg(spark, sf_dir)

    def agg(sid: int, snap: int) -> DataFrame:
        return (iceberg_metadata_table(spark, path, "files",
                                       snapshot_id=sid)
                .agg(F.sum("record_count").alias("n_rows"))
                .select(F.lit(snap).alias("snap"),
                        F.col("n_rows").cast("long").alias("n_rows")))

    return agg(_SNAP0, 0).unionAll(agg(_SNAP1, 1))


_SPEV_OLD = "event_id % 3 = 0"            # unpartitioned era
_SPEV_NEW = "event_id % 3 = 1"            # appended under the evolved spec


def _staged_iceberg_evolved(spark: SparkSession, sf_dir: str) -> str:
    """Unpartitioned era -> spec evolution to identity(event_type) ->
    transactional append under the NEW spec. Staging asserts that
    pruning on the evolved field skips new-spec files while keeping
    every old (field-less) file — the superset-safety contract."""
    from ..sources.iceberg import (
        append_iceberg,
        evolve_iceberg_partition_spec,
        iceberg_source_range_filter,
        live_data_files,
        read_table_metadata,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_SPEV_OLD))], path)
        evolve_iceberg_partition_spec(spark, path,
                                      partition_by=["event_type"])
        append_iceberg(spark, e.filter(F.expr(_SPEV_NEW)), path,
                       ts_ms=1700000008000)
        meta = read_table_metadata(spark, path)
        filt = iceberg_source_range_filter(meta, "event_type", eq="click")
        kept = live_data_files(spark, path, meta, partition_filter=filt)
        n_all = len(live_data_files(spark, path, meta))
        assert len(kept) < n_all, "evolved-spec files did not prune"
        assert any(not (f.get("partition") or {}) for f in kept), \
            "old-spec file wrongly pruned"

    return stage(sf_dir, "iceberg_spev", build)


@register(
    "iceberg_spec_evolved_agg",
    f"""
    SELECT 'click' AS slice, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE (({_SPEV_OLD}) OR ({_SPEV_NEW})) AND event_type = 'click'
    GROUP BY event_type
    UNION ALL
    SELECT 'all' AS slice, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE ({_SPEV_OLD}) OR ({_SPEV_NEW})
    GROUP BY event_type
    """,
    doc="Partition SPEC EVOLUTION (sources/iceberg.py "
        "evolve_iceberg_partition_spec): an unpartitioned era and an "
        "identity(event_type) era coexist in one table — the mixed-spec "
        "scan serves every row of both, and the 'click' slice is read "
        "through the evolved-field metadata filter (staging asserts it "
        "pruned new-spec files but kept every field-less old file — "
        "Iceberg's no-rewrite evolution contract). Oracle re-derives "
        "both slices from the parquet source.")
def iceberg_spec_evolved_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import (
        iceberg_source_range_filter,
        read_table_metadata,
    )

    path = _staged_iceberg_evolved(spark, sf_dir)
    meta = read_table_metadata(spark, path)
    filt = iceberg_source_range_filter(meta, "event_type", eq="click")
    clicks = (read_iceberg_snapshot(spark, path, partition_filter=filt)
              .filter(F.col("event_type") == "click"))
    both = read_iceberg_snapshot(spark, path)

    def agg(df: DataFrame, slc: str) -> DataFrame:
        return (df.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(slc).alias("slice"), "event_type", "n",
                        "sum_value"))

    return agg(clicks, "click").unionAll(agg(both, "all"))


_UNI_V0, _UNI_V1 = "event_id % 3 = 0", "event_id % 3 = 1"


def _staged_uniform(spark: SparkSession, sf_dir: str) -> str:
    """A Delta table (create + append, partitioned by event_type) with
    UniForm Iceberg metadata synced over the SAME files — one directory,
    two protocols, zero data copies."""
    from ..sinks.delta_writer import append_delta, create_delta_table
    from ..sources.uniform import uniform_sync_iceberg

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_UNI_V0)), path,
                           partition_by=["event_type"],
                           ts_ms=1700000000000)
        append_delta(spark, e.filter(F.expr(_UNI_V1)), path,
                     ts_ms=1700000001000)
        sid = uniform_sync_iceberg(spark, path)
        assert sid == 1001, sid      # reflects Delta version 1

    return stage(sf_dir, "uniform", build)


@register(
    "uniform_iceberg_read_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_UNI_V0}) OR ({_UNI_V1})
    GROUP BY event_type
    """,
    doc="UniForm (sources/uniform.py uniform_sync_iceberg): the Delta "
        "writer's table is published as Iceberg metadata over the SAME "
        "parquet files — metadata-only sync, name-mapping resolution "
        "(Delta parquet carries no field ids), identity-partition "
        "values re-attached from manifest metadata (the hive layout "
        "stores none in the data). The gate reads the DELTA-written "
        "table through the ICEBERG stack and aggregates; the oracle "
        "re-derives from the parquet source. The two jar-less protocol "
        "stacks composing is the point.")
def uniform_iceberg_read_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_uniform(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_RC_V0, _RC_V1 = "event_id % 3 = 0", "event_id % 3 = 1"


def _staged_rest_catalog(spark: SparkSession, sf_dir: str) -> str:
    """Catalog-managed table: era 1 staged as a plain Hadoop-layout
    table, REGISTERED in a FileRestCatalog, then era 2 appended THROUGH
    the catalog's commit protocol — with one injected concurrent
    property commit so the optimistic append demonstrably loses a CAS
    round and rebases (the 409 + reload loop real REST writers run)."""
    from ..sources.rest_catalog import (
        FileRestCatalog, RestCommitConflict, append_iceberg_via_catalog,
    )

    def build(path: str) -> None:
        root = os.path.join(path, "t")
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_RC_V0))], root)
        cat = FileRestCatalog(os.path.join(path, "wh"))
        cat.register_table("db", "events", root)
        real_commit = cat.commit_table
        # The racer must MOVE THE MAIN REF (an add-snapshot +
        # set-snapshot-ref pair), not merely set a property: a
        # property commit leaves assert-ref-snapshot-id satisfied
        # because commit_table re-reads the head before its O_EXCL
        # create, so the append would land first try and the "race"
        # would be vacuous (ADVICE r11 #1). The racer's snapshot
        # reuses the head's manifest-list — content-identical, so the
        # gate's aggregate is unchanged — but the ref motion forces
        # the append's requirement to fail, 409, reload, rebase.
        state = {"raced": False, "conflicts": 0}

        def racing_commit(ns, name, requirements, updates):
            if not state["raced"]:
                state["raced"] = True
                head = cat.load_table(ns, name)["metadata"]
                cur = head["current-snapshot-id"]
                cur_snap = next(s for s in head["snapshots"]
                                if int(s["snapshot-id"]) == int(cur))
                rid = max(int(s["snapshot-id"])
                          for s in head["snapshots"]) + 1
                real_commit(
                    ns, name,
                    requirements=[{"type": "assert-ref-snapshot-id",
                                   "ref": "main", "snapshot-id": cur}],
                    updates=[
                        {"action": "add-snapshot", "snapshot": {
                            "snapshot-id": rid,
                            "timestamp-ms":
                                int(head.get("last-updated-ms") or 0)
                                + 1,
                            "sequence-number":
                                int(head.get("last-sequence-number")
                                    or 0) + 1,
                            "manifest-list":
                                cur_snap["manifest-list"],
                            "summary": {"operation": "append"}}},
                        {"action": "set-snapshot-ref",
                         "ref-name": "main", "type": "branch",
                         "snapshot-id": rid},
                        {"action": "set-properties",
                         "updates": {"owner": "racer"}}])
            try:
                return real_commit(ns, name,
                                   requirements=requirements,
                                   updates=updates)
            except RestCommitConflict:
                state["conflicts"] += 1
                raise

        cat.commit_table = racing_commit
        append_iceberg_via_catalog(spark, e.filter(F.expr(_RC_V1)),
                                   cat, "db", "events")
        cat.commit_table = real_commit
        assert state["raced"]
        assert state["conflicts"] >= 1, \
            "append never lost the CAS round — race is vacuous"
        meta = cat.load_table("db", "events")["metadata"]
        assert meta["properties"]["owner"] == "racer"

    return os.path.join(stage(sf_dir, "iceberg_rc", build), "t")


@register(
    "iceberg_rest_catalog_append_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_RC_V0}) OR ({_RC_V1})
    GROUP BY event_type
    """,
    doc="REST-catalog commit contract, offline (sources/rest_catalog.py "
        "— VERDICT r10 #6): era 2 is appended THROUGH a filesystem-"
        "faked catalog speaking the spec's CommitTableRequest shape "
        "(assert-ref-snapshot-id requirement, add-snapshot + "
        "set-snapshot-ref updates); staging injects one concurrent "
        "REF-MOVING commit (content-identical snapshot + main-ref "
        "advance, ADVICE r11 #1) so the append provably 409s and "
        "rebases — staging asserts >= 1 RestCommitConflict raised. "
        "The read aggregates both eras; a dropped or doubled era "
        "(broken rebase) breaks n and the sum.")
def iceberg_rest_catalog_append_agg(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    path = _staged_rest_catalog(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_V3D_V0, _V3D_V1 = "event_id % 3 = 0", "event_id % 3 = 1"
_V3D_DEFAULT = 7


def _staged_v3_defaults(spark: SparkSession, sf_dir: str) -> str:
    """Two-era v3 default-value table: era 1 written WITHOUT the
    ``bonus`` column, the field then added with ``initial-default``,
    era 2 appended WITH it — the read must serve the default for era-1
    files (footer-absent) and stored values for era-2."""
    import json as _json

    from ..sources.iceberg import append_iceberg

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_V3D_V0))], path)
        mdir = os.path.join(path, "metadata")
        cur = int(open(os.path.join(mdir, "version-hint.text")).read())
        meta = _json.load(open(os.path.join(
            mdir, f"v{cur}.metadata.json")))
        meta["format-version"] = 3
        meta["schemas"][0]["fields"].append(
            {"id": 99, "name": "bonus", "required": False, "type": "int",
             "initial-default": _V3D_DEFAULT,
             "write-default": _V3D_DEFAULT})
        meta["last-column-id"] = max(
            int(meta.get("last-column-id", 0)), 99)
        with open(os.path.join(mdir, f"v{cur + 1}.metadata.json"),
                  "w") as f:
            _json.dump(meta, f)
        with open(os.path.join(mdir, "version-hint.text"), "w") as f:
            f.write(str(cur + 1))
        era2 = (e.filter(F.expr(_V3D_V1))
                .withColumn("bonus",
                            (F.col("event_id") % 100).cast("int")))
        append_iceberg(spark, era2, path)

    return stage(sf_dir, "iceberg_v3d", build)


@register(
    "iceberg_v3_default_read_agg",
    f"""
    WITH eras AS (
      SELECT event_id, event_type, value, {_V3D_DEFAULT} AS bonus
      FROM events WHERE {_V3D_V0}
      UNION ALL
      SELECT event_id, event_type, value,
             CAST(event_id % 100 AS INT) AS bonus
      FROM events WHERE {_V3D_V1})
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(bonus) AS BIGINT) AS sum_bonus,
           ROUND(SUM(value), 4) AS sum_value
    FROM eras GROUP BY event_type
    """,
    doc="Iceberg v3 column DEFAULT values (sources/iceberg.py "
        "_initial_defaults — VERDICT r10 #7): a field added with "
        "initial-default after era 1 reads as the default for every "
        "era-1 file (field absent from the parquet footer) and as the "
        "stored values for era-2 files; per-type SUM(bonus) "
        "value-checks both eras — serving NULL or the default for the "
        "wrong era breaks the sum.")
def iceberg_v3_default_read_agg(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    path = _staged_v3_defaults(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("bonus").alias("sum_bonus"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_bonus", "sum_value"))


_UNI_DV_DEAD = "event_id % 5 = 2"


def _staged_uniform_dv(spark: SparkSession, sf_dir: str) -> str:
    """The DBR-default shape: a Delta table with LIVE deletion vectors,
    UniForm-synced — the sync must translate each DV bitmap into
    Iceberg position deletes (VERDICT r10 #2) so the Iceberg read never
    resurrects the deleted rows."""
    from ..sinks.delta_writer import (
        create_delta_table, delete_where,
    )
    from ..sources.uniform import uniform_sync_iceberg

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        create_delta_table(spark, e.filter(F.expr(_UNI_V0)), path,
                           ts_ms=1700000000000)
        delete_where(spark, path, _UNI_DV_DEAD, ts_ms=1700000001000,
                     use_dv=True)
        sid = uniform_sync_iceberg(spark, path)
        assert sid == 1001, sid      # reflects Delta version 1 (the DV)

    return stage(sf_dir, "uniform_dv", build)


@register(
    "uniform_dv_iceberg_read_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_UNI_V0}) AND NOT ({_UNI_DV_DEAD})
    GROUP BY event_type
    """,
    doc="UniForm over a DV-bearing Delta table (the DBR 14+ default): "
        "sources/uniform.py decodes each live deletion vector's roaring "
        "bitmap into one spec-field-id position-delete parquet + "
        "content=1 manifest in the synced snapshot. The gate DV-deletes "
        "a slice Delta-side, syncs, reads through the ICEBERG stack and "
        "aggregates; the oracle re-derives from the parquet source "
        "minus the deleted slice — a resurrection (ADVICE r10 class) "
        "breaks n and the value hash.")
def uniform_dv_iceberg_read_agg(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    path = _staged_uniform_dv(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_WAP_BASE, _WAP_AUDIT = "event_id % 3 = 0", "event_id % 3 = 1"


def _staged_wap(spark: SparkSession, sf_dir: str) -> str:
    """WAP workflow staged end-to-end: base table -> audit branch ->
    branch append (main FROZEN — asserted) -> publish (fast-forward
    main). The frozen-main assertion runs at staging so a branch append
    that leaks into main fails the GATE."""
    from ..sources.iceberg import append_iceberg, set_iceberg_ref

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_WAP_BASE))], path)
        set_iceberg_ref(spark, path, "audit", ref_type="branch",
                        ts_ms=1700000009000)
        append_iceberg(spark, e.filter(F.expr(_WAP_AUDIT)), path,
                       branch="audit", ts_ms=1700000009500)
        n_main = read_iceberg_snapshot(spark, path).count()
        n_audit = read_iceberg_snapshot(spark, path, ref="audit").count()
        assert n_audit > n_main, "branch append leaked into main"
        from ..sources.iceberg import read_table_metadata

        meta = read_table_metadata(spark, path)
        set_iceberg_ref(spark, path, "main", ref_type="branch",
                        snapshot_id=int(
                            meta["refs"]["audit"]["snapshot-id"]),
                        ts_ms=1700000009900)

    return stage(sf_dir, "iceberg_wap", build)


@register(
    "iceberg_wap_publish_agg",
    f"""
    SELECT 'published_main' AS slice, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_WAP_BASE}) OR ({_WAP_AUDIT})
    GROUP BY event_type
    UNION ALL
    SELECT 'audit' AS slice, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_WAP_BASE}) OR ({_WAP_AUDIT})
    GROUP BY event_type
    """,
    doc="WRITE-AUDIT-PUBLISH (sources/iceberg.py append_iceberg(branch=) "
        "+ set_iceberg_ref): the append chained on the audit BRANCH head "
        "and moved only that ref — staging asserts main stayed frozen — "
        "then publish fast-forwarded main (current-snapshot-id and "
        "refs.main in lockstep). Post-publish, ref-less main and the "
        "audit branch serve the identical audited state; the oracle "
        "re-derives it from the parquet source.")
def iceberg_wap_publish_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_wap(spark, sf_dir)

    def agg(df: DataFrame, slc: str) -> DataFrame:
        return (df.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(slc).alias("slice"), "event_type", "n",
                        "sum_value"))

    return agg(read_iceberg_snapshot(spark, path),
               "published_main").unionAll(
        agg(read_iceberg_snapshot(spark, path, ref="audit"), "audit"))


_V3_DEAD = "event_id % 7 = 3"


def _staged_iceberg_v3dv(spark: SparkSession, sf_dir: str) -> str:
    """Staged v3 table: two append snapshots, then a PUFFIN
    deletion-vector delete snapshot (format-version bumped to 3).
    Staging asserts the metadata actually declares v3 so a silent
    downgrade fails the GATE."""
    from ..sources.iceberg import (
        read_table_metadata,
        write_iceberg_dv_deletes,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark, [e.filter(F.expr(_S0_PRED)), e.filter(F.expr(_S1_PRED))],
            path)
        write_iceberg_dv_deletes(spark, path, _V3_DEAD)
        assert int(read_table_metadata(spark, path)["format-version"]) == 3

    return stage(sf_dir, "iceberg_v3dv", build)


@register(
    "iceberg_v3_dv_agg",
    f"""
    SELECT 'head' AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE (({_S0_PRED}) OR ({_S1_PRED})) AND NOT ({_V3_DEAD})
    GROUP BY event_type
    UNION ALL
    SELECT 'pre_delete' AS snap, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_S0_PRED}) OR ({_S1_PRED})
    GROUP BY event_type
    """,
    doc="Iceberg FORMAT-VERSION 3 deletion vectors (sources/puffin.py + "
        "iceberg.py write_iceberg_dv_deletes/_apply_position_deletes): "
        "matched rows' positions live as deletion-vector-v1 puffin "
        "blobs (the roaring layout v3 shares with Delta DVs, decoded by "
        "the same codec) referenced by content=1 entries carrying the "
        "v3 descriptor fields; the read expands the bitmaps and "
        "anti-joins positions. Head excludes exactly the deleted rows; "
        "the pre-delete snapshot still serves them all. Oracle "
        "re-derives both states from the parquet source.")
def iceberg_v3_dv_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_iceberg_v3dv(spark, sf_dir)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (df.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.lit(snap).alias("snap"), "event_type", "n",
                        "sum_value"))

    return agg(read_iceberg_snapshot(spark, path), "head").unionAll(
        agg(read_iceberg_snapshot(spark, path, snapshot_id=_SNAP1),
            "pre_delete"))


_RL_V0, _RL_V1 = "event_id % 4 = 0", "event_id % 4 = 1"
_RL_DEAD = "event_id % 9 = 2"


def _staged_iceberg_row_lineage(spark: SparkSession, sf_dir: str) -> str:
    """v3 row lineage staged deterministically: two sorted single-file
    commits, lineage backfill (ranges by file-path order = commit
    order), an append claiming a fresh range, then a puffin DV delete
    that must not move any survivor's id."""
    from ..sources.iceberg import (
        append_iceberg,
        enable_iceberg_row_lineage,
        write_iceberg_dv_deletes,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark,
            [e.filter(F.expr(_RL_V0)).orderBy("event_id").coalesce(1)],
            path)
        enable_iceberg_row_lineage(spark, path)
        append_iceberg(spark,
                       e.filter(F.expr(_RL_V1)).orderBy("event_id")
                       .coalesce(1), path, ts_ms=1700000010000)
        write_iceberg_dv_deletes(spark, path, _RL_DEAD)

    return stage(sf_dir, "iceberg_rl", build)


@register(
    "iceberg_row_lineage_agg",
    f"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS BIGINT)
                 AS rid
      FROM events WHERE {_RL_V0}),
    grown AS (
      SELECT event_id, event_type,
             (SELECT COUNT(*) FROM base)
             + CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS BIGINT)
                 AS rid
      FROM events WHERE {_RL_V1}),
    live AS (SELECT * FROM base UNION ALL SELECT * FROM grown)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(rid) AS BIGINT) AS sum_row_id
    FROM live WHERE NOT ({_RL_DEAD})
    GROUP BY event_type
    """,
    doc="Iceberg v3 ROW LINEAGE (sources/iceberg.py "
        "enable_iceberg_row_lineage / read_iceberg_snapshot_with_row_"
        "ids): the backfill snapshot stamps explicit first_row_id "
        "ranges, the append claims a fresh range above next-row-id, and "
        "a puffin DV delete kills rows WITHOUT moving any survivor's "
        "_row_id = first_row_id + position. Per-type SUM(_row_id) "
        "value-checks every id against the oracle's ROW_NUMBER replay — "
        "the Iceberg twin of the Delta row-tracking gate.")
def iceberg_row_lineage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import read_iceberg_snapshot_with_row_ids

    path = _staged_iceberg_row_lineage(spark, sf_dir)
    return (read_iceberg_snapshot_with_row_ids(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("_row_id").alias("sum_row_id"))
            .select("event_type", "n", "sum_row_id"))


_DW_POS, _DW_EQ, _DW_DV = ("event_id % 5 = 2", "event_id % 7 = 3",
                           "event_id % 11 = 5")


def _staged_delete_where(spark: SparkSession, sf_dir: str) -> str:
    """Staged table driven through the first-class DML verb
    (VERDICT r11 #2): three ``iceberg_delete_where`` commits — a v2
    position-delete, an equality delete keyed on event_id, and a
    deletion-vector delete (which upgrades the table to format-version
    3) — then a compaction folding all three. A resurrected row at ANY
    of the four steps breaks the aggregate."""
    from ..sources.iceberg import (
        compact_iceberg_table, iceberg_delete_where,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value").repartition(4))
        write_iceberg_table(spark, [e], path)
        iceberg_delete_where(spark, path, _DW_POS, mode="position")
        iceberg_delete_where(spark, path, _DW_EQ, mode="equality",
                             equality_cols=["event_id"])
        iceberg_delete_where(spark, path, _DW_DV, mode="dv")
        assert compact_iceberg_table(spark, path) is not None

    return stage(sf_dir, "iceberg_dw", build)


@register(
    "iceberg_delete_where_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE NOT ({_DW_POS}) AND NOT ({_DW_EQ}) AND NOT ({_DW_DV})
    GROUP BY event_type
    """,
    doc="First-class Iceberg row-level DML (sources/iceberg.py "
        "iceberg_delete_where — VERDICT r11 #2): three DELETE WHERE "
        "commits in the three physical layouts (v2 position-delete "
        "parquet, equality delete keyed on event_id, v3 puffin deletion "
        "vector — the last upgrading format-version), each an atomic "
        "optimistic commit with rebase-on-CAS-loss, followed by a "
        "compaction that folds the delete files into rewritten data. "
        "The oracle restates the three deletes as row predicates: a row "
        "resurrected by a mis-sequenced delete, a DV dropped by the "
        "supersede logic, or a compaction re-adding dead rows breaks "
        "n and sum_value.")
def iceberg_delete_where_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_delete_where(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_UT_V0, _UT_V1 = "event_id % 3 = 0", "event_id % 3 = 1"
# canonical uuid string from an integer, identical in Spark and DuckDB:
# 32 zero-padded hex digits of event_id*7, dashed 8-4-4-4-12
_UT_HEX_SPARK = "format_string('%032x', event_id * CAST(7 AS BIGINT))"
_UT_HEX_DUCK = "printf('%032x', event_id * 7)"


def _ut_uuid(hex_expr: str) -> str:
    return ("substr({h},1,8) || '-' || substr({h},9,4) || '-' || "
            "substr({h},13,4) || '-' || substr({h},17,4) || '-' || "
            "substr({h},21,12)").format(h=hex_expr)


_UT_TM = "(event_id % 86400) * 1000000"      # micros from midnight
_UT_LO, _UT_HI = 1_000 * 1_000_000, 7_000 * 1_000_000


def _staged_uuid_time(spark: SparkSession, sf_dir: str) -> str:
    """Two-era table with uuid + time columns (VERDICT r11 #6): era 1
    written under string/long physical types, the schema then RETYPED to
    uuid/time (so era-1 manifest bounds are undecodable under the new
    types — the superset-safe keep path), era 2 appended THROUGH the
    retyped schema (its bounds spec-encoded: 16-byte big-endian uuid,
    8-byte LE micros)."""
    import json as _json

    from ..sources.iceberg import append_iceberg

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value",
                     F.expr(_ut_uuid(_UT_HEX_SPARK)).alias("u"),
                     F.expr(_UT_TM).cast("long").alias("tm")))
        write_iceberg_table(spark, [e.filter(F.expr(_UT_V0))], path)
        mdir = os.path.join(path, "metadata")
        cur = int(open(os.path.join(mdir, "version-hint.text")).read())
        mp = os.path.join(mdir, f"v{cur}.metadata.json")
        meta = _json.load(open(mp))
        for f in meta["schemas"][0]["fields"]:
            if f["name"] == "u":
                f["type"] = "uuid"
            elif f["name"] == "tm":
                f["type"] = "time"
        _json.dump(meta, open(mp, "w"))
        append_iceberg(spark, e.filter(F.expr(_UT_V1)), path)

    return stage(sf_dir, "iceberg_ut", build)


@register(
    "iceberg_uuid_time_read_agg",
    f"""
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           MIN({_ut_uuid(_UT_HEX_DUCK)}) AS min_uuid,
           CAST(SUM({_UT_TM}) AS BIGINT) AS sum_time_us
    FROM events
    WHERE (({_UT_V0}) OR ({_UT_V1}))
      AND {_UT_TM} BETWEEN {_UT_LO} AND {_UT_HI}
    GROUP BY event_type
    """,
    doc="Iceberg uuid/time column types (sources/iceberg.py _spark_type/"
        "_bound_value/_encode_bound — VERDICT r11 #6): uuid reads as the "
        "canonical lowercase string, time as micros-from-midnight long. "
        "The scan composes a time-range stats filter (era-2 bounds "
        "spec-encoded and decodable; era-1 bounds stale string-typed -> "
        "kept superset-safe) with the exact row predicate; the oracle "
        "re-derives both columns arithmetically. A wrong uuid string, "
        "mis-decoded time bound, or over-pruned era breaks the hash.")
def iceberg_uuid_time_read_agg(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..sources.iceberg import iceberg_column_range_filter

    path = _staged_uuid_time(spark, sf_dir)
    return (read_iceberg_snapshot(
                spark, path,
                stats_filter=iceberg_column_range_filter(
                    "tm", _UT_LO, _UT_HI))
            .filter(F.col("tm").between(_UT_LO, _UT_HI))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.min("u").alias("min_uuid"),
                 F.sum("tm").alias("sum_time_us"))
            .select("event_type", "n", "sum_value", "min_uuid",
                    "sum_time_us"))


_UW_P1, _UW_P2 = "event_id % 5 = 2", "event_id % 7 = 3"


def _staged_update_where(spark: SparkSession, sf_dir: str) -> str:
    """Staged table driven through the UPDATE verb twice — a v2
    position-delete-backed update, then a deletion-vector one (which
    upgrades to format-version 3; its matched set overlaps the first,
    so sequential semantics are load-bearing) — then compaction."""
    from ..sources.iceberg import (
        compact_iceberg_table, iceberg_update_where,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value").repartition(4))
        write_iceberg_table(spark, [e], path)
        iceberg_update_where(spark, path, _UW_P1,
                             {"value": "value + 1000"},
                             mode="position")
        iceberg_update_where(spark, path, _UW_P2,
                             {"value": "value * 2"}, mode="dv")
        assert compact_iceberg_table(spark, path) is not None

    return stage(sf_dir, "iceberg_uw", build)


@register(
    "iceberg_update_where_agg",
    f"""
    WITH u1 AS (
      SELECT event_id, event_type,
             CASE WHEN {_UW_P1} THEN value + 1000 ELSE value END AS value
      FROM events),
    u2 AS (
      SELECT event_id, event_type,
             CASE WHEN {_UW_P2} THEN value * 2 ELSE value END AS value
      FROM u1)
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM u2 GROUP BY event_type
    """,
    doc="First-class Iceberg UPDATE (sources/iceberg.py "
        "iceberg_update_where): each update commits the old rows' "
        "position deletes AND the post-image data files in ONE snapshot "
        "(merge-on-read, no rewrite). Two sequential updates with "
        "overlapping matched sets (the second in the v3 "
        "deletion-vector layout, upgrading the table), then compaction "
        "folding both. The oracle replays the updates as nested CASE "
        "expressions: a lost post-image, resurrected pre-image, or "
        "mis-sequenced second update breaks n and sum_value.")
def iceberg_update_where_agg(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    path = _staged_update_where(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_MI_T, _MI_S = "event_id % 2 = 0", "event_id % 3 = 0"
_MI_DEL = "t.event_id % 30 = 0"


def _staged_merge_into(spark: SparkSession, sf_dir: str) -> str:
    """Staged table driven through MERGE INTO: target = even event_ids,
    source = every third event_id with value+0.5 — so the matched set
    (event_id%6=0) exercises update, the %30=0 subset the matched-delete
    clause (clause order: delete wins), and the odd multiples of 3 the
    insert clause; compaction folds the snapshot afterwards."""
    from ..sources.iceberg import (
        compact_iceberg_table, iceberg_merge_into,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_MI_T))
                                    .repartition(4)], path)
        src = (e.filter(F.expr(_MI_S))
               .withColumn("value", F.col("value") + 0.5))
        iceberg_merge_into(
            spark, path, src, ["event_id"],
            when_matched_update={"value": "t.value + s.value"},
            when_matched_delete=_MI_DEL,
            when_not_matched_insert=True)
        assert compact_iceberg_table(spark, path) is not None

    return stage(sf_dir, "iceberg_mi", build)


@register(
    "iceberg_merge_into_agg",
    f"""
    WITH t AS (SELECT event_id, event_type, value FROM events
               WHERE {_MI_T}),
    s AS (SELECT event_id, event_type, value + 0.5 AS value FROM events
          WHERE {_MI_S}),
    kept AS (
      SELECT t.event_id, t.event_type,
             CASE WHEN s.event_id IS NOT NULL THEN t.value + s.value
                  ELSE t.value END AS value
      FROM t LEFT JOIN s ON t.event_id = s.event_id
      WHERE s.event_id IS NULL OR t.event_id % 30 <> 0),
    ins AS (
      SELECT s.event_id, s.event_type, s.value
      FROM s LEFT JOIN t ON s.event_id = t.event_id
      WHERE t.event_id IS NULL),
    m AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM m GROUP BY event_type
    """,
    doc="First-class Iceberg MERGE INTO (sources/iceberg.py "
        "iceberg_merge_into): all three clauses in ONE merge-on-read "
        "snapshot — matched rows' old positions as position deletes, "
        "update post-images (t./s. qualified SET exprs) and not-matched "
        "inserts as new data files, matched-delete evaluated before "
        "update (Delta clause order) — then compaction. The oracle "
        "replays the merge as two outer joins: a doubled insert, "
        "resurrected pre-image, or clause-order flip breaks n and "
        "sum_value.")
def iceberg_merge_into_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_merge_into(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


_DML_BASE = "event_id % 2 = 0"


def _staged_dml_cdf(spark: SparkSession, sf_dir: str) -> str:
    """Four-ordinal DML history for the change feed: base insert, a
    DELETE WHERE, an UPDATE WHERE, and a MERGE (update + insert clauses)
    — every row-level verb the engine exposes, so the synthesized feed's
    effective-set diffs are exercised over real delete manifests and
    same-snapshot delete+data commits."""
    from ..sources.iceberg import (
        iceberg_delete_where, iceberg_merge_into, iceberg_update_where,
    )

    def build(path: str) -> None:
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(spark, [e.filter(F.expr(_DML_BASE))
                                    .repartition(3)], path)
        iceberg_delete_where(spark, path, "event_id % 10 = 4")
        iceberg_update_where(spark, path, "event_id % 10 = 6",
                             {"value": "value + 1000"})
        src = e.filter(F.expr("event_id % 10 IN (8, 1)"))
        iceberg_merge_into(spark, path, src, ["event_id"],
                           when_matched_update={"value": "t.value + 1"},
                           when_not_matched_insert=True)

    return stage(sf_dir, "iceberg_dmlcdf", build)


@register(
    "iceberg_dml_cdf_feed_agg",
    f"""
    WITH base AS (SELECT event_id, event_type, value FROM events
                  WHERE {_DML_BASE}),
    steps AS (
      SELECT 0 AS v, 'insert' AS ct, event_type, value FROM base
      UNION ALL SELECT 1, 'delete', event_type, value FROM base
        WHERE event_id % 10 = 4
      UNION ALL SELECT 2, 'delete', event_type, value FROM base
        WHERE event_id % 10 = 6
      UNION ALL SELECT 2, 'insert', event_type, value + 1000 FROM base
        WHERE event_id % 10 = 6
      UNION ALL SELECT 3, 'delete', event_type, value FROM base
        WHERE event_id % 10 = 8
      UNION ALL SELECT 3, 'insert', event_type, value + 1 FROM base
        WHERE event_id % 10 = 8
      UNION ALL SELECT 3, 'insert', event_type, value FROM events
        WHERE event_id % 10 = 1)
    SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM steps GROUP BY 1, 2, 3
    """,
    doc="Change feed over the DML trio (read_iceberg_changes vs "
        "delete_where/update_where/merge_into): per (ordinal, "
        "change_type, event_type) row counts + value sums of the "
        "SYNTHESIZED feed — the UPDATE and MERGE ordinals must emit "
        "delete(old)+insert(new) pairs from the same-snapshot delete+"
        "data commits, the DELETE ordinal only deletes, and no ordinal "
        "re-reports rows already dead. The oracle enumerates every "
        "step's expected change rows arithmetically.")
def iceberg_dml_cdf_feed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg import read_iceberg_changes

    path = _staged_dml_cdf(spark, sf_dir)
    return (read_iceberg_changes(spark, path, -1, 3)
            .groupBy(F.col("_commit_version").cast("long")
                     .alias("_commit_version"),
                     "_change_type", "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("_commit_version", "_change_type", "event_type",
                    "n", "sum_value"))


_RCD_DEAD = "event_id % 5 = 2"


def _staged_rest_catalog_delete(spark: SparkSession, sf_dir: str) -> str:
    """The catalog-append gate's table, extended with a row-level DELETE
    committed THROUGH the catalog protocol (delete_where_via_catalog):
    the staged delete manifest lands via CommitTableRequest
    (assert-ref-snapshot-id + add-snapshot/set-snapshot-ref), not a file
    CAS — catalog-managed tables are no longer DML-read-only."""
    from ..sources.rest_catalog import (
        FileRestCatalog, delete_where_via_catalog,
    )

    def build(path: str) -> None:
        root = os.path.join(path, "t")
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark, [e.filter(F.expr(f"({_RC_V0}) OR ({_RC_V1})"))
                    .repartition(3)], root)
        cat = FileRestCatalog(os.path.join(path, "wh"))
        cat.register_table("db", "events", root)
        delete_where_via_catalog(spark, cat, "db", "events", _RCD_DEAD)

    return os.path.join(stage(sf_dir, "iceberg_rcd", build), "t")


def _staged_iceberg_stream_first_seen(spark: SparkSession,
                                      sf_dir: str) -> str:
    """Real Iceberg SOURCE of three overlapping insert snapshots
    (ordinal c inserts every event with event_id % 3 <= c, payload
    column stamped c), drained by ``stream_iceberg_first_seen`` in
    single-ordinal micro-batches into a real Iceberg TARGET — plus one
    deliberate crash-before-mark REDELIVERY (the offset rolled back to
    0 and the stream re-drained) that must append nothing (the
    snapshot-summary txn watermark). The target then holds each
    event_id exactly once, carrying the payload of its FIRST snapshot
    (= event_id % 3)."""
    from ..sources.delta_log import write_ingest_mark
    from ..sources.iceberg import append_iceberg
    from ..streaming.iceberg_source import stream_iceberg_first_seen

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        for c in range(3):
            batch = (e.filter(F.expr(f"event_id % 3 <= {c}"))
                     .withColumn("src_commit", F.lit(c).cast("long")))
            if c == 0:
                write_iceberg_table(spark, [batch], src)
            else:
                append_iceberg(spark, batch, src)
        tgt = os.path.join(path, "tgt")
        mark = os.path.join(path, "mark")
        stream_iceberg_first_seen(spark, src, tgt, mark,
                                  id_col="event_id",
                                  max_snapshots_per_batch=1)
        # crash-before-mark redelivery: nothing may duplicate
        write_ingest_mark(spark, mark, 0)
        stream_iceberg_first_seen(spark, src, tgt, mark,
                                  id_col="event_id")

    return os.path.join(stage(sf_dir, "iceberg_stream_fs", build), "tgt")


@register(
    "iceberg_stream_first_seen_agg",
    """
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(SUM(event_id % 3) AS BIGINT) AS sum_first_commit
    FROM events
    GROUP BY event_type
    """,
    doc="Jar-less Iceberg STREAMING SOURCE end-to-end (streaming/"
        "iceberg_source.py — VERDICT r12 #6, the delta_source twin "
        "over snapshot ordinals): a real snapshot history is drained "
        "in offset-checkpointed micro-batches through the first-seen-"
        "dedup transform into a snapshot-summary-txn exactly-once "
        "Iceberg sink, INCLUDING a forced crash-before-mark "
        "redelivery. The oracle is the batch twin: each event_id "
        "exactly once (n, sum_value) carrying its first snapshot's "
        "payload (sum_first_commit = SUM(event_id % 3)); a dropped "
        "batch, duplicated redelivery, or later-snapshot overwrite "
        "breaks it.")
def iceberg_stream_first_seen_agg(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    tgt = _staged_iceberg_stream_first_seen(spark, sf_dir)
    return (read_iceberg_snapshot(spark, tgt)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.sum("src_commit").alias("sum_first_commit"))
            .select("event_type", "n", "sum_value", "sum_first_commit"))


_RCM_SRC = "event_id % 4 = 0"


def _staged_rest_catalog_merge(spark: SparkSession, sf_dir: str) -> str:
    """Catalog-managed MERGE INTO fixture (VERDICT r12 #5): the base
    table holds the (V0 OR V1) event rows; the merge source is the
    ``event_id % 4 = 0`` slice with value*2+1 — keys matching the base
    are updated (or deleted when event_id % 20 = 0, the matched-delete
    clause evaluated first), unmatched keys insert. All three clauses
    land as ONE CommitTableRequest snapshot through
    merge_into_via_catalog."""
    from ..sources.rest_catalog import (
        FileRestCatalog, merge_into_via_catalog,
    )

    def build(path: str) -> None:
        root = os.path.join(path, "t")
        e = (load_table(spark, sf_dir, "events")
             .select("event_id", "event_type", "value"))
        write_iceberg_table(
            spark, [e.filter(F.expr(f"({_RC_V0}) OR ({_RC_V1})"))
                    .repartition(3)], root)
        cat = FileRestCatalog(os.path.join(path, "wh"))
        cat.register_table("db", "events", root)
        src = (e.filter(F.expr(_RCM_SRC))
               .select("event_id", "event_type",
                       (F.col("value") * 2 + 1).alias("value")))
        merge_into_via_catalog(
            spark, cat, "db", "events", src, on=["event_id"],
            when_matched_update={"value": "s.value"},
            when_matched_delete="s.event_id % 20 = 0",
            when_not_matched_insert=True)

    return os.path.join(stage(sf_dir, "iceberg_rcm", build), "t")


@register(
    "iceberg_rest_catalog_merge_agg",
    f"""
    WITH base AS (
      SELECT event_id, event_type, value FROM events
      WHERE ({_RC_V0}) OR ({_RC_V1})
    ), src AS (
      SELECT event_id, event_type, value * 2 + 1 AS value FROM events
      WHERE {_RCM_SRC}
    ), kept AS (
      SELECT b.event_id, b.event_type,
             CASE WHEN s.event_id IS NOT NULL THEN s.value
                  ELSE b.value END AS value
      FROM base b LEFT JOIN src s ON b.event_id = s.event_id
      WHERE s.event_id IS NULL OR s.event_id % 20 <> 0
    ), ins AS (
      SELECT s.event_id, s.event_type, s.value FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM base b
                        WHERE b.event_id = s.event_id)
    )
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
    GROUP BY event_type
    """,
    doc="MERGE INTO through the REST-catalog commit protocol "
        "(sources/rest_catalog.py merge_into_via_catalog, VERDICT r12 "
        "#5 — the catalog DML trio's third verb): matched-delete "
        "evaluated first, matched-update post-images + unmatched "
        "inserts staged as data files, old positions as a delete "
        "manifest, all in ONE CommitTableRequest snapshot with "
        "assert-ref-snapshot-id + 409-rebase re-derivation. The oracle "
        "restates the three clauses relationally; a dropped clause, a "
        "double-applied delete, or a lost insert breaks n/sum_value.")
def iceberg_rest_catalog_merge_agg(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    path = _staged_rest_catalog_merge(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


@register(
    "iceberg_rest_catalog_delete_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE (({_RC_V0}) OR ({_RC_V1})) AND NOT ({_RCD_DEAD})
    GROUP BY event_type
    """,
    doc="Row-level DELETE through the REST-catalog commit protocol "
        "(sources/rest_catalog.py delete_where_via_catalog): the delete "
        "manifest is staged to storage but the SNAPSHOT lands via "
        "CommitTableRequest — assert-ref-snapshot-id guard, "
        "add-snapshot + set-snapshot-ref updates — with 409-rebase "
        "re-derivation. The oracle restates the delete as a row "
        "predicate: a dropped or double-applied delete breaks n and "
        "sum_value.")
def iceberg_rest_catalog_delete_agg(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    path = _staged_rest_catalog_delete(spark, sf_dir)
    return (read_iceberg_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


@register(
    "iceberg_jarless_datasource_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ({_S0_PRED}) OR ({_S1_PRED})
    GROUP BY event_type
    """,
    doc="spark.read.format('iceberg_jarless') — the Python Data Source "
        "batch half (sources/iceberg_stream_datasource.py): the staged "
        "two-snapshot Iceberg table's CURRENT live files are read "
        "through the REGISTERED format, columns resolved by parquet "
        "FIELD ID in executors (rename-safe), column-pruned. Oracle "
        "re-derives the head state; a manifest-walk, field-id, or "
        "partition-planning defect diverges the aggregates.")
def iceberg_jarless_datasource_agg(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from ..sources.iceberg_stream_datasource import (
        register_iceberg_stream_source,
    )

    path = _staged_iceberg(spark, sf_dir)
    register_iceberg_stream_source(spark)
    snap = (spark.read.format("iceberg_jarless").option("path", path)
            .load())
    return (snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))


@register(
    "iceberg_jarless_eq_delete_agg",
    f"""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE (({_EQ_BASE}) AND event_type <> '{_EQ_DEAD_TYPE}')
       OR (({_EQ_REINS}) AND event_type = '{_EQ_DEAD_TYPE}')
    GROUP BY event_type
    """,
    doc="EQUALITY deletes through the iceberg_jarless Python Data "
        "Source (VERDICT r13 #2): the staged Flink-CDC-shaped history "
        "(base seq 1 -> content=2 equality delete of "
        "event_type='click' seq 2 -> append RE-INSERTING click rows "
        "seq 3) is read via spark.read.format('iceberg_jarless'). The "
        "partition planner scopes each delete file to data files with "
        "a STRICTLY OLDER data sequence number and ships the "
        "(key, paths) groups per partition; executors apply an exact "
        "null-safe vectorized anti-join, re-reading pruned key "
        "columns. Wrong sequence scoping (killing the re-insert or "
        "keeping the base) breaks both predicate branches of the "
        "oracle.")
def iceberg_jarless_eq_delete_agg(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from ..sources.iceberg_stream_datasource import (
        register_iceberg_stream_source,
    )

    path = _staged_eq_iceberg(spark, sf_dir)
    register_iceberg_stream_source(spark)
    snap = (spark.read.format("iceberg_jarless").option("path", path)
            .load())
    return (snap.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("event_type", "n", "sum_value"))
