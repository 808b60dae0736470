"""Versioned source reads: snapshot-at-version and changes-between-versions.

Reference semantics (SURVEY.md §2a S1-S3, C2, E1):

* ``read_snapshot(table, v)`` — full table state as of version ``v``
  (reference: Delta time travel ``VERSION AS OF``,
  /root/reference/unload_databricks_data_to_s3.py:183-186).
* ``read_changes(table, s, e)`` — row-level change feed for versions in
  ``(s, e]`` carrying ``_change_type / _commit_version / _commit_timestamp``
  (reference: Delta CDF ``table_changes(...)``,
  /root/reference/unload_databricks_data_to_s3.py:189-193).
* ``fetch_data`` dispatches: ``start == 0`` means "snapshot at end", NOT
  "changes since version 0" (/root/reference/unload_databricks_data_to_s3.py:196-200).

Databricks-free layout convention (works on any filesystem Spark can read,
including s3a:// at cluster scale):

    <root>/<table>/v=<version>/*.parquet          snapshots
    <root>/<table>_changes/*.parquet              changelog, with the three
                                                  CDC columns materialized

Snapshots use a ``v=<int>`` directory per version. The changelog is a single
append-only dataset filtered on ``_commit_version`` — at 100 TB that filter is
a partition-pruned scan when the changelog is written partitioned by
``_commit_version`` (our writer does), so an incremental read touches only the
requested version range's files, never the full history.

When Delta Lake's jars are on the classpath we use real time travel / CDF
instead (import-gated; the v1 image has no Delta jars).
"""

from __future__ import annotations

import functools
import os
import re

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

CDC_COLUMNS = ("_change_type", "_commit_version", "_commit_timestamp")


class ChangelogNotFoundError(Exception):
    """Raised when a requested change range cannot be served (emulates Delta's
    DELTA_CHANGE_DATA_FILE_NOT_FOUND after VACUUM — the error class the
    reference's two-level retry keys on,
    /root/reference/unload_databricks_data_to_s3.py:24-25,75-88)."""


# Signatures the retry logic recognizes, mirroring the reference's two Delta
# error classes plus our own emulated one.
MISSING_CDF_ERROR_SIGNATURES = (
    "DELTA_CHANGE_DATA_FILE_NOT_FOUND",
    "FAILED_READ_FILE.DBR_FILE_NOT_EXIST",
    "CHANGELOG_NOT_FOUND",
)


def extract_missing_cdf_error_signature(error: Exception) -> str | None:
    """Classify an exception as a missing-change-file error (or not).

    Reference parity: string-match on the exception text
    (/root/reference/unload_databricks_data_to_s3.py:75-88).
    """
    text = str(error)
    for sig in MISSING_CDF_ERROR_SIGNATURES:
        if sig in text:
            return sig
    return None


def parse_table_versions_map(table_versions_map: str) -> dict[str, list[int]]:
    """``"cat.sch.t=1-2,c2.s2.t2=11-12"`` -> ``{"cat.sch.t": [1, 2], ...}``.

    Reference parity: parse_table_versions_map_arg
    (/root/reference/unload_databricks_data_to_s3.py:155-170).
    """
    out: dict[str, list[int]] = {}
    if not table_versions_map:
        return out
    for entry in table_versions_map.split(","):
        entry = entry.strip()
        if not entry:
            continue
        m = re.fullmatch(r"(.+?)=(\d+)-(\d+)", entry)
        if not m:
            raise ValueError(f"bad table_versions_map entry: {entry!r}")
        out[m.group(1)] = [int(m.group(2)), int(m.group(3))]
    return out


def _snapshot_dir(root: str, table: str, version: int) -> str:
    return os.path.join(root, table, f"v={version}")


def _delta_available(spark: SparkSession) -> bool:
    return _delta_on_classpath(spark._jvm)  # noqa: SLF001


@functools.cache
def _delta_on_classpath(jvm) -> bool:
    """Asked once per JVM: its classpath cannot change while it runs, and
    a failed lookup costs a py4j exception conversion on every read."""
    try:
        # Class.forName raises if the Delta jars are absent (a bare package
        # lookup would not — Py4J returns a stub for unknown packages)
        jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def read_snapshot(spark: SparkSession, root: str, table: str,
                  version: int) -> DataFrame:
    """Table state as of ``version`` (S1)."""
    if _delta_available(spark):
        return (spark.read.format("delta")
                .option("versionAsOf", version)
                .load(os.path.join(root, table)))
    from .delta_log import is_delta_table, read_delta_snapshot
    if is_delta_table(spark, os.path.join(root, table)):
        # a REAL Delta table but no Delta jars: pure-Python log replay
        # (public protocol; sources/delta_log.py) — same VERSION AS OF
        # semantics, data files read as plain parquet
        from .registry import _normalize_ntz
        return _normalize_ntz(
            read_delta_snapshot(spark, os.path.join(root, table), version))
    from .iceberg import is_iceberg_table
    if is_iceberg_table(spark, os.path.join(root, table)):
        # a REAL Iceberg table (sources/iceberg.py): `version` maps to the
        # 0-based ORDINAL of the timestamp-ordered snapshot list — the
        # same commit-counting convention Delta versions follow, so the
        # versions-map contract carries over unchanged
        from .iceberg import iceberg_snapshot_ids, read_iceberg_snapshot
        from .registry import _normalize_ntz
        snaps = iceberg_snapshot_ids(spark, os.path.join(root, table))
        if version >= len(snaps):
            raise ChangelogNotFoundError(
                f"CHANGELOG_NOT_FOUND: iceberg table {table} has "
                f"{len(snaps)} snapshots; ordinal {version} out of range")
        return _normalize_ntz(read_iceberg_snapshot(
            spark, os.path.join(root, table),
            snaps[version]["snapshot_id"]))
    path = _snapshot_dir(root, table, version)
    if not _path_exists(spark, path):
        raise ChangelogNotFoundError(
            f"CHANGELOG_NOT_FOUND: no snapshot for {table} v={version} at {path}")
    from .registry import _normalize_ntz
    return _normalize_ntz(spark.read.parquet(path))


def read_snapshot_at_timestamp(spark: SparkSession, root: str, table: str,
                               ts_ms: int) -> DataFrame:
    """``TIMESTAMP AS OF`` dispatcher — the one reference-adjacent read
    option not covered by version numbers (Delta time travel's timestamp
    form). Jar-backed Delta uses the native ``timestampAsOf`` option; a
    real Delta dir without jars resolves through the replayed commit
    timestamps (delta_log.resolve_version_at_timestamp, monotonic-adjusted
    commitInfo times); an Iceberg root through its snapshot log (the
    latest snapshot whose ``timestamp-ms`` <= ts); the ``v=N`` parquet
    convention resolves against the
    version directories' modification times (latest dir mtime <= ts) —
    same at-or-before contract, driver-side metadata only."""
    if _delta_available(spark):
        import datetime as _dt
        from zoneinfo import ZoneInfo

        # Delta parses the timestampAsOf STRING in the SESSION timezone —
        # formatting the instant as UTC wall-clock would shift resolution
        # by the session's UTC offset and silently land on a different
        # version. Render in the session zone so the string names the
        # intended instant.
        tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
        ts = _dt.datetime.fromtimestamp(ts_ms / 1000, tz=tz)
        return (spark.read.format("delta")
                .option("timestampAsOf",
                        ts.strftime("%Y-%m-%d %H:%M:%S.%f"))
                .load(os.path.join(root, table)))
    from .delta_log import is_delta_table, read_delta_snapshot_at_timestamp
    from .registry import _normalize_ntz
    if is_delta_table(spark, os.path.join(root, table)):
        return _normalize_ntz(read_delta_snapshot_at_timestamp(
            spark, os.path.join(root, table), ts_ms))
    from .iceberg import is_iceberg_table, read_iceberg_snapshot_at_timestamp
    if is_iceberg_table(spark, os.path.join(root, table)):
        return _normalize_ntz(read_iceberg_snapshot_at_timestamp(
            spark, os.path.join(root, table), ts_ms))
    versions = list_versions(spark, os.path.join(root, table), "v=")
    if not versions:
        raise ChangelogNotFoundError(
            f"CHANGELOG_NOT_FOUND: no snapshots for {table} under {root}")
    sc = spark.sparkContext
    eligible = []
    for v in versions:
        p = sc._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
            _snapshot_dir(root, table, v))
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
        if int(fs.getFileStatus(p).getModificationTime()) <= ts_ms:
            eligible.append(v)
    if not eligible:
        raise ValueError(
            f"timestamp {ts_ms} is before the earliest snapshot of {table}")
    return read_snapshot(spark, root, table, max(eligible))


def read_changes(spark: SparkSession, root: str, table: str,
                 starting_version: int, ending_version: int,
                 merge_schema: bool = True) -> DataFrame:
    """Change rows for versions in ``(starting_version, ending_version]`` (S2).

    Keeps the three CDC metadata columns; downstream ``cdc.filter_data``
    consumes and drops them. The ``_commit_version`` range predicate prunes
    changelog partitions at the scan (changelog is written partitioned by
    ``_commit_version``).

    ``merge_schema`` (default on) makes the scan schema the UNION of all
    version partitions' schemas: a column added in a later table version
    reads as NULL for earlier versions' change rows instead of vanishing —
    Delta CDF's additive schema-evolution behavior, which a long-lived
    changelog WILL hit. The cost is a footer read per file at planning
    time, bounded by the version-range pruning that already limits which
    files are listed.
    """
    if _delta_available(spark):
        return (spark.read.format("delta")
                .option("readChangeFeed", "true")
                .option("startingVersion", starting_version + 1)
                .option("endingVersion", ending_version)
                .load(os.path.join(root, table)))
    from .iceberg import is_iceberg_table as _is_ice
    if _is_ice(spark, os.path.join(root, table)):
        # Iceberg change feed: synthesized from the live-file-set diff
        # between snapshot ordinals (sources/iceberg.py) — whole-file
        # inserts/deletes, the same fallback shape Delta commits without
        # cdc actions get. Expired snapshots / missing files raise the
        # signatures the E2/E3 retry ladder classifies, downgrading the
        # job to a latest-only export instead of failing it.
        from .iceberg import read_iceberg_changes
        from .registry import _normalize_ntz
        return _normalize_ntz(read_iceberg_changes(
            spark, os.path.join(root, table), starting_version,
            ending_version))
    from .delta_log import is_delta_table, read_delta_changes
    if is_delta_table(spark, os.path.join(root, table)):
        # real Delta table, jar-less: CDF through the pure-Python log
        # replay. Missing change files raise the
        # DELTA_CHANGE_DATA_FILE_NOT_FOUND signature, so the E2/E3 retry
        # ladder classifies them exactly like the jar-backed path.
        from .registry import _normalize_ntz
        return _normalize_ntz(read_delta_changes(
            spark, os.path.join(root, table),
            starting_version, ending_version))
    path = os.path.join(root, f"{table}_changes")
    if not _path_exists(spark, path):
        raise ChangelogNotFoundError(
            f"CHANGELOG_NOT_FOUND: no changelog for {table} at {path}")
    # A vacuumed changelog is emulated by deleted version partitions. A plain
    # parquet scan would just list no files for them and return a silently
    # PARTIAL result — no exception means the E2/E3 latest-only retry never
    # fires and missing change rows ship. So detect the vacuumed head
    # eagerly: VACUUM removes a prefix of versions, so if the oldest
    # partition still present is newer than the first requested version, the
    # range can't be served. Zero-change commits are NOT misread as vacuum:
    # commit_snapshot leaves an empty ``_commit_version=<v>`` marker dir for
    # every committed version, so the listing sees them (a changelog written
    # by some other tool without markers degrades to latest-only for ranges
    # starting at an empty leading diff — fail-safe, never partial data).
    # The listing is one driver-side FS call over partition dirs, not a
    # data read.
    available = _list_changelog_versions(spark, path)
    if available and min(available) > starting_version + 1:
        raise ChangelogNotFoundError(
            f"CHANGELOG_NOT_FOUND: changelog for {table} starts at version "
            f"{min(available)}; requested changes from {starting_version + 1} "
            f"(vacuumed?)")
    from .registry import _normalize_ntz
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    try:
        df = _normalize_ntz(reader.parquet(path))
    except AnalysisException as ex:
        if "UNABLE_TO_INFER_SCHEMA" not in str(ex):
            raise
        # The changelog exists but holds only empty marker dirs: every
        # commit so far was zero-change or layout-only (optimize_table).
        # That is a VALID empty diff, not an error — shape it as the
        # ending snapshot's schema plus the CDC meta columns, zero rows.
        # The snapshot read goes through the SAME mergeSchema option and
        # NTZ normalization as the non-empty path: a TIMESTAMP_NTZ column
        # must surface identically whether the diff is empty or not, or
        # the one query shape that works on data crashes on its absence.
        from pyspark.sql.types import LongType, StringType, StructField, TimestampType

        snap_reader = spark.read
        if merge_schema:
            snap_reader = snap_reader.option("mergeSchema", "true")
        snap_schema = _normalize_ntz(
            snap_reader.parquet(
                _snapshot_dir(root, table, ending_version))).schema
        fields = list(snap_schema.fields) + [
            StructField("_change_type", StringType()),
            StructField("_commit_version", LongType()),
            StructField("_commit_timestamp", TimestampType()),
        ]
        from pyspark.sql.types import StructType

        return local_frame(spark, [], StructType(fields))
    return df.filter(
        (F.col("_commit_version") > F.lit(starting_version))
        & (F.col("_commit_version") <= F.lit(ending_version)))


def fetch_data(spark: SparkSession, root: str, table: str,
               starting_version: int, ending_version: int) -> DataFrame:
    """S3 dispatcher: ``start == 0`` -> snapshot of ``end``; else changes.

    Reference parity: /root/reference/unload_databricks_data_to_s3.py:196-200.
    """
    if starting_version == 0:
        return read_snapshot(spark, root, table, ending_version)
    return read_changes(spark, root, table, starting_version, ending_version)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Check existence through Hadoop FS so s3a:// etc. work, not just local."""
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = hadoop_path.getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs.exists(hadoop_path)


def list_versions(spark: SparkSession, dir_str: str, prefix: str) -> list[int]:
    """Sorted numeric suffixes of ``<prefix><n>`` children of ``dir_str`` —
    the ONE version-listing helper for the convention (Hadoop FS, so
    s3a:// works); missing dir -> []."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(dir_str)  # noqa: SLF001
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(p):
        return []
    out: list[int] = []
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            out.append(int(name[len(prefix):]))
    return sorted(out)


def _list_changelog_versions(spark: SparkSession, path: str) -> list[int]:
    return list_versions(spark, path, "_commit_version=")
