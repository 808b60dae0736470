"""Sinks: overwrite-mode JSON / zstd-Parquet exports + JSON/text sidecars.

Reference operators W1-W4 (/root/reference/unload_databricks_data_to_s3.py:
399-403, 250-252, 518-524). Differences by design:

* Parquet writes are VOID-scrubbed first (reference parity, W2 applies P2;
  JSON is not scrubbed — JSON can carry nulls).
* Sidecars are written from the driver instead of by ``dbutils.fs.put``:
  local and ``file:`` paths with plain file I/O, hdfs:// or s3a:// through
  the Hadoop FileSystem API — no Databricks dependency, works on any
  cluster.
* zstd level 3 parquet compression, like the reference.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..operators.void_scrub import drop_void_fields
from ..sources.delta_log import _write_bytes

FORMATS = ("json", "parquet", "csv", "orc", "delta")


def write_export(df: DataFrame, path: str, fmt: str = "parquet",
                 max_records_per_file: int | None = None,
                 cluster_by: list[str] | None = None,
                 cluster_partitions: int | None = None,
                 partition_by: list[str] | None = None,
                 zorder_by: list[str] | None = None) -> None:
    """Overwrite-mode export write.

    ``json``/``parquet`` are reference parity (W1/W2); ``csv``/``orc``
    round out the delegated-surface sink formats (SURVEY.md §2b). Columnar
    formats are VOID-scrubbed first (neither Parquet nor ORC can store
    NullType); JSON is not (it can carry nulls). CSV is flat-only by the
    format's nature — nested columns raise Spark's own AnalysisException so
    the caller flattens deliberately rather than getting mangled output.

    ``max_records_per_file`` sets the per-WRITE ``maxRecordsPerFile``
    option: a job budget differing from the session-wide conf
    (session.py) must bind to this write, not to whatever the session
    default happens to be — this per-file cap is what lets the coalesce/
    none strategies skip the reference's count-then-repartition double
    execution entirely.

    ``cluster_by`` range-clusters the output on the given columns
    (``repartitionByRange`` + ``sortWithinPartitions``): each output file
    then covers a narrow, mostly-disjoint key range, so parquet/orc footer
    min/max stats let later scans with predicates on those columns skip
    whole files/row groups. At 100 TB this is the difference between a
    point-lookup reading one file and reading the dataset; it costs one
    range shuffle at write time (sampling pass included). For MULTI-
    dimension skipping use ``zorder_by`` instead.
    ``cluster_partitions`` pins the range-partition count (= file count
    before per-file caps); left None, AQE sizes the ranges by its advisory
    partition bytes — the right default at scale.

    ``partition_by`` writes a hive-style directory layout
    (``col=value/...``): the coarse-grained pruning axis — a downstream
    scan with an equality/range predicate on a partition column lists only
    the matching directories (PartitionFilters, zero data read for pruned
    values), where ``cluster_by`` is the fine-grained axis (file/row-group
    skipping WITHIN what's scanned via footer min/max). Compose them:
    partition on the low-cardinality filter column (day, lang), cluster on
    the high-cardinality one (user, timestamp). Keep partition columns
    low-cardinality — every distinct value is a directory and at least one
    file.

    ``zorder_by`` is the MULTI-dimension clustering axis (mutually
    exclusive with ``cluster_by``, which it generalizes): rows are range-
    clustered on a Morton key interleaving the quantized columns
    (operators.layout), so footer min/max bounds tighten on every listed
    column at once — predicates on ANY of them skip files, where linear
    clustering serves only its own column. Costs the same single range
    shuffle plus one min/max agg for quantization bounds.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {FORMATS}")
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive "
                         "(z-order IS the clustering)")
    out = df if fmt in ("json", "csv") else drop_void_fields(df)
    if zorder_by:
        from ..operators.layout import with_zorder_key

        out = with_zorder_key(out, zorder_by)
        if cluster_partitions is not None:
            out = out.repartitionByRange(cluster_partitions, "_zorder")
        else:
            out = out.repartitionByRange("_zorder")
        # the projection dropping the key is narrow: range partitioning and
        # within-partition order survive it
        out = out.sortWithinPartitions("_zorder").drop("_zorder")
    if cluster_by:
        if cluster_partitions is not None:
            out = out.repartitionByRange(cluster_partitions, *cluster_by)
        else:
            out = out.repartitionByRange(*cluster_by)
        out = out.sortWithinPartitions(*cluster_by)
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if fmt == "delta":
        # transactional lakehouse export (sinks/delta_writer.py): first
        # write CREATES the table (honoring partition_by), re-exports
        # OVERWRITE it in one atomic commit — readers never observe a
        # half-written state, and time travel keeps the previous exports.
        # Clustering/z-order above still shapes the staged files, and the
        # footer stats on every add action make that layout SKIPPABLE by
        # any Delta reader — the two compose. `w` (the plain builder) is
        # unused on this path; the commit protocol owns the write.
        from ..sources.delta_log import is_delta_table
        from .delta_writer import create_delta_table, overwrite_delta

        spark = out.sparkSession
        if is_delta_table(spark, path):
            overwrite_delta(spark, out, path,
                            max_records_per_file=max_records_per_file)
        else:
            create_delta_table(spark, out, path,
                               partition_by=partition_by or (),
                               max_records_per_file=max_records_per_file)
        return
    if fmt == "json":
        w.json(path)
    elif fmt == "csv":
        w.option("header", "true").csv(path)
    elif fmt == "orc":
        w.option("compression", "zstd").orc(path)
    else:
        (w.option("compression", "zstd")
         .option("parquet.compression.codec.zstd.level", "3")
         .parquet(path))


def write_text_sidecar(spark: SparkSession, path: str, content: str) -> None:
    """Small driver-side file (replaces dbutils.fs.put)."""
    _write_bytes(spark, path, content.encode("utf-8"))


def write_json_sidecar(spark: SparkSession, path: str, payload: Any) -> None:
    write_text_sidecar(spark, path, json.dumps(payload, default=str))


def write_meta_data(spark: SparkSession, s3_path: str, event_count: int,
                    partition_count: int, name: str = "meta") -> None:
    """``{event_count, partition_count}`` JSON at ``<path>/<name>`` (W3;
    delta exports pass ``_meta`` so the sidecar is invisible to Delta
    readers and vacuum)."""
    write_json_sidecar(
        spark, f"{s3_path.rstrip('/')}/{name}",
        {"event_count": event_count, "partition_count": partition_count})
