"""Jar-less Iceberg reader (sources/iceberg.py): snapshot reads + time
travel by snapshot id against a spec-conformant table directory (metadata
json + Avro manifest lists/manifests via the from-scratch avro_codec),
field-id column resolution (renames transparent), protocol rejections
(row-level delete manifests, non-parquet files, unsupported types), and
status semantics (DELETED entries drop out of the live set)."""

from __future__ import annotations

import json
import os
import re

import pytest

from databricks_import_pyspark_scripts_spark.sources.avro_codec import (
    read_container,
    write_container,
)
from databricks_import_pyspark_scripts_spark.sources.iceberg import (
    IcebergProtocolError,
    is_iceberg_table,
    iceberg_snapshot_ids,
    read_iceberg_snapshot,
    read_table_metadata,
    write_iceberg_table,
)


@pytest.fixture()
def ice(spark, tmp_path):
    t = str(tmp_path / "ice")
    a = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    b = spark.range(30, 40).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a, b], t)
    return t


def _ks(df):
    return sorted(r.k for r in df.select("k").collect())


def test_snapshot_read_and_time_travel(spark, ice):
    assert is_iceberg_table(spark, ice)
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))
    assert _ks(read_iceberg_snapshot(spark, ice, snapshot_id=1000)) == \
        list(range(30))
    snaps = iceberg_snapshot_ids(spark, ice)
    assert [s["snapshot_id"] for s in snaps] == [1000, 1001]


def test_rename_resolves_by_field_id(spark, ice):
    """Rename column v -> value in a NEW schema (same field ids): the data
    files keep the old parquet names, but field-id matching surfaces the
    new logical name with the same values — the rename-is-metadata-only
    contract Iceberg's id-based resolution exists for."""
    mdir = os.path.join(ice, "metadata")
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{cur}.metadata.json")))
    fields = meta["schemas"][0]["fields"]
    for f in fields:
        if f["name"] == "v":
            f["name"] = "value"
    meta["schemas"].append({"schema-id": 1, "type": "struct",
                            "fields": fields})
    meta["current-schema-id"] = 1
    with open(os.path.join(mdir, f"v{cur + 1}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(cur + 1))
    snap = read_iceberg_snapshot(spark, ice)
    assert snap.columns == ["k", "value"]
    assert snap.filter("k = 7").first().value == 7.0


def test_deleted_status_drops_files(spark, ice):
    """Rewrite the latest manifest marking snapshot-1000's files DELETED:
    the live set must shrink to the second commit's rows."""
    mdir = os.path.join(ice, "metadata")
    mpath = os.path.join(mdir, "manifest-000.avro")
    _, entries = read_container(open(mpath, "rb").read())
    for e in entries:
        e["status"] = 2  # DELETED
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
    )
    with open(mpath, "wb") as f:
        f.write(write_container(_MANIFEST_ENTRY_SCHEMA, entries))
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(30, 40))


def _append_delete_manifest(ice: str, content: int) -> None:
    """Splice a content=1 delete manifest whose single entry's data_file
    carries the given content code into the CURRENT snapshot's list."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
        _MANIFEST_FILE_SCHEMA,
    )

    mdir = os.path.join(ice, "metadata")
    del_manifest = os.path.join(mdir, "manifest-del.avro")
    with open(del_manifest, "wb") as f:
        f.write(write_container(_MANIFEST_ENTRY_SCHEMA, [{
            "status": 1, "snapshot_id": 1001,
            "data_file": {"content": content, "file_path": "x.parquet",
                          "file_format": "PARQUET", "record_count": 1,
                          "file_size_in_bytes": 1}}]))
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{cur}.metadata.json")))
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    mlpath = snap["manifest-list"]
    _, manifests = read_container(open(mlpath, "rb").read())
    manifests.append({"manifest_path": del_manifest, "manifest_length": 1,
                      "partition_spec_id": 0, "content": 1,
                      "added_snapshot_id": 1001})
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))


def test_change_feed_mor_position_delete_step(spark, tmp_path):
    """A position-delete snapshot's change feed is exactly the rows it
    killed, as _change_type='delete' at that ordinal — nothing else."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_changes,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "cdfpos")
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(2)], t)
    write_iceberg_position_deletes(spark, t, "k % 3 = 0")
    ch = read_iceberg_changes(spark, t, 0, 1).collect()
    assert sorted(r.k for r in ch) == [k for k in range(30) if k % 3 == 0]
    assert {r._change_type for r in ch} == {"delete"}
    assert {r._commit_version for r in ch} == {1}
    # the full range (-1, 1] = v0 inserts + v1 deletes
    both = read_iceberg_changes(spark, t, -1, 1)
    counts = {r["_change_type"]: r["n"] for r in both.groupBy(
        "_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"insert": 30, "delete": 10}


def test_change_feed_mor_resequenced_file_is_delete_plus_insert(spark,
                                                                 tmp_path):
    """A data file live on both sides of a merge-on-read step but under a
    different data sequence number (re-listed by a rewrite) is not diffed
    row by row: the deletes that apply to it depend on that number. The
    step emits the file's whole effective row set before as deletes and
    after as inserts — the whole-file over-approximation, exact once
    applied in order."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
        _MANIFEST_FILE_SCHEMA,
        read_iceberg_changes,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "cdfreseq")
    df = spark.range(0, 12).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)
    write_iceberg_position_deletes(spark, t, "k % 3 = 0")
    # snapshot 1 re-lists the data file as EXISTING at data sequence 2
    meta = read_table_metadata(spark, t)
    snap = max(meta["snapshots"], key=lambda s: s["timestamp-ms"])
    mlpath = snap["manifest-list"]
    _, manifests = read_container(open(mlpath, "rb").read())
    data_mf = next(m for m in manifests if int(m.get("content") or 0) == 0)
    _, entries = read_container(open(data_mf["manifest_path"], "rb").read())
    assert len(entries) == 1
    for e in entries:
        e["status"], e["sequence_number"] = 0, 2
    data_mf["manifest_path"] += ".reseq.avro"
    with open(data_mf["manifest_path"], "wb") as f:
        f.write(write_container(_MANIFEST_ENTRY_SCHEMA, entries))
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))

    ch = read_iceberg_changes(spark, t, 0, 1).collect()
    assert {r._commit_version for r in ch} == {1}
    assert sorted(r.k for r in ch if r._change_type == "delete") == \
        list(range(12))
    assert sorted(r.k for r in ch if r._change_type == "insert") == \
        [k for k in range(12) if k % 3]


def test_change_feed_mor_equality_reinsert_steps(spark, tmp_path):
    """Equality delete then re-insert: each step's change rows are the
    newly-dead and newly-live rows only — a row already dead at o-1 is
    never re-reported."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        read_iceberg_changes,
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "cdfeq")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"))
    write_iceberg_table(spark, [base], t)                       # ord 0
    write_iceberg_equality_deletes(
        spark, t, spark.createDataFrame([(1,)], "g long"), ["g"])  # ord 1
    reins = spark.range(100, 104).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("g"))
    append_iceberg(spark, reins, t)                             # ord 2
    step1 = read_iceberg_changes(spark, t, 0, 1).collect()
    assert sorted(r.k for r in step1) == [k for k in range(20) if k % 4 == 1]
    assert {r._change_type for r in step1} == {"delete"}
    step2 = read_iceberg_changes(spark, t, 1, 2).collect()
    assert sorted(r.k for r in step2) == list(range(100, 104))
    assert {r._change_type for r in step2} == {"insert"}
    # a second equality delete on the SAME key: only the re-inserted
    # (newer-seq) rows die now — the long-dead base rows not re-reported
    write_iceberg_equality_deletes(
        spark, t, spark.createDataFrame([(1,)], "g long"), ["g"])  # ord 3
    step3 = read_iceberg_changes(spark, t, 2, 3).collect()
    assert sorted(r.k for r in step3) == list(range(100, 104))
    assert {r._change_type for r in step3} == {"delete"}


def test_unsupported_data_format_rejected(spark, ice):
    """Avro data files stay a loud rejection (parquet and ORC are the
    dispatched formats since r10)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
    )

    mpath = os.path.join(ice, "metadata", "manifest-001.avro")
    _, entries = read_container(open(mpath, "rb").read())
    entries[0]["data_file"]["file_format"] = "AVRO"
    with open(mpath, "wb") as f:
        f.write(write_container(_MANIFEST_ENTRY_SCHEMA, entries))
    with pytest.raises(IcebergProtocolError, match="unsupported data file"):
        read_iceberg_snapshot(spark, ice)


def test_unsupported_type_rejected(spark, ice):
    """uuid/time became SUPPORTED logical types in r12
    (sources/iceberg.py `_spark_type`), so the loud-rejection contract
    now pins a genuinely unknown type string: the v3 `geometry` type we
    do not map must raise, never silently coerce."""
    mdir = os.path.join(ice, "metadata")
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    p = os.path.join(mdir, f"v{cur}.metadata.json")
    meta = json.load(open(p))
    meta["schemas"][0]["fields"][0]["type"] = "geometry"
    with open(p, "w") as f:
        json.dump(meta, f)
    with pytest.raises(IcebergProtocolError, match="geometry"):
        read_iceberg_snapshot(spark, ice)


def test_missing_snapshot_and_metadata_errors(spark, ice, tmp_path):
    with pytest.raises(FileNotFoundError, match="snapshot 9"):
        read_iceberg_snapshot(spark, ice, snapshot_id=9)
    with pytest.raises(FileNotFoundError):
        read_table_metadata(spark, str(tmp_path / "nope"))


def test_version_hint_fallback_to_highest_metadata(spark, ice):
    os.unlink(os.path.join(ice, "metadata", "version-hint.text"))
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))


def test_unload_pipeline_from_iceberg_source(spark, tmp_path):
    """The reference's job shape with an Iceberg SOURCE: snapshot unload
    (versions-map ordinal), and an incremental request downgrades to the
    latest-only export through the existing retry ladder (Iceberg serves
    no change feed)."""
    from databricks_import_pyspark_scripts_spark.plans.pipeline import (
        UnloadJob,
        run_unload,
    )

    root = str(tmp_path / "src")
    t = f"{root}/ev"
    a = spark.createDataFrame([(1, "signup", 10.0), (2, "click", 5.0)],
                              "id int, event_type string, value double")
    b = spark.createDataFrame([(3, "view", 1.0)],
                              "id int, event_type string, value double")
    c = spark.createDataFrame([(4, "purchase", 9.0)],
                              "id int, event_type string, value double")
    write_iceberg_table(spark, [a, b, c], t)

    out = str(tmp_path / "out")
    report = run_unload(spark, UnloadJob(
        source_root=root, table_versions={"ev": [0, 2]},
        sql="SELECT id, UPPER(event_type) AS et, value FROM ev",
        output_path=out, fmt="parquet"))
    assert report["rows"] == 4  # ordinal snapshot 2 = all three commits

    out0 = str(tmp_path / "out0")
    report0 = run_unload(spark, UnloadJob(
        source_root=root, table_versions={"ev": [0, 0]},
        sql="SELECT id FROM ev", output_path=out0, fmt="parquet"))
    assert report0["rows"] == 2  # ordinal snapshot 0 = first commit only

    # incremental request (start > 0 -> changes in (start, end]): served
    # from the synthesized change feed — exactly the third commit's rows
    out2 = str(tmp_path / "out2")
    report2 = run_unload(spark, UnloadJob(
        source_root=root, table_versions={"ev": [1, 2]},
        sql="SELECT id FROM ev", output_path=out2, fmt="parquet"))
    assert report2["rows"] == 1  # the appended row (id=4) only
    assert report2["table_results"]["ev"]["finalStartVersion"] == 1


def test_iceberg_change_feed_synthesis(spark, ice):
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_changes,
    )

    ch = read_iceberg_changes(spark, ice, 0, 1)
    assert sorted(r.k for r in ch.collect()) == list(range(30, 40))
    row = ch.first()
    assert row["_change_type"] == "insert"
    assert row["_commit_version"] == 1
    # full range from "before the table existed": everything is an insert
    ch_all = read_iceberg_changes(spark, ice, -1, 1)
    assert ch_all.count() == 40
    # empty range
    assert read_iceberg_changes(spark, ice, 1, 1).count() == 0
    import pytest as _pt
    with _pt.raises(FileNotFoundError, match="out of range"):
        read_iceberg_changes(spark, ice, 0, 9)


def test_iceberg_change_feed_deletes_on_file_removal(spark, ice):
    """Point the SECOND snapshot at a manifest copy whose first-commit
    entries are DELETED (the first snapshot keeps the original): the
    ordinal diff serves those files' rows as whole-file deletes."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
        _MANIFEST_FILE_SCHEMA,
        read_iceberg_changes,
    )

    mdir = os.path.join(ice, "metadata")
    _, entries = read_container(
        open(os.path.join(mdir, "manifest-000.avro"), "rb").read())
    for e in entries:
        e["status"] = 2
    dropped = os.path.join(mdir, "manifest-000-dropped.avro")
    with open(dropped, "wb") as f:
        f.write(write_container(_MANIFEST_ENTRY_SCHEMA, entries))
    mlpath = os.path.join(mdir, "snap-1001.avro")
    _, manifests = read_container(open(mlpath, "rb").read())
    for mf in manifests:
        if mf["manifest_path"].endswith("manifest-000.avro"):
            mf["manifest_path"] = dropped
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))
    ch = read_iceberg_changes(spark, ice, 0, 1)
    by_type = {r["_change_type"]: r["n"] for r in
               ch.groupBy("_change_type").count()
               .withColumnRenamed("count", "n").collect()}
    assert by_type == {"insert": 10, "delete": 30}


# ---------------------------------------------------------------------------
# identity-partition pruning

def test_partition_pruning_identity(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        live_data_files,
        read_table_metadata,
    )

    t = str(tmp_path / "pice")
    df = spark.range(0, 40).selectExpr(
        "id AS k", "CAST(id % 4 AS string) AS p", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t, partition_by=["p"])
    meta = read_table_metadata(spark, t)
    # manifest entries carry the r102 partition struct
    files = live_data_files(spark, t, meta)
    assert {f["partition"]["p"] for f in files} == {"0", "1", "2", "3"}
    # metadata-level pruning: only p=2's files survive planning
    pruned = read_iceberg_snapshot(
        spark, t, partition_filter=lambda pv: pv.get("p") == "2")
    assert sorted(r.k for r in pruned.collect()) == [
        k for k in range(40) if k % 4 == 2]
    # the partition column is IN the data files (no re-attachment needed)
    assert pruned.filter("p = '2'").count() == 10
    # zero files when nothing matches
    assert read_iceberg_snapshot(
        spark, t, partition_filter=lambda pv: False).count() == 0


def test_partition_filter_rejected_on_non_identity_spec(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_table_metadata,
    )

    t = str(tmp_path / "bice")
    df = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)
    mdir = os.path.join(t, "metadata")
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    p = os.path.join(mdir, f"v{cur}.metadata.json")
    meta = json.load(open(p))
    meta["partition-specs"] = [{"spec-id": 0, "fields": [
        {"name": "k_bucket", "transform": "bucket[16]", "source-id": 1,
         "field-id": 1000}]}]
    with open(p, "w") as f:
        json.dump(meta, f)
    with pytest.raises(IcebergProtocolError, match="non-identity"):
        read_iceberg_snapshot(spark, t, partition_filter=lambda pv: True)
    # WITHOUT a filter the table still reads (values ignored)
    assert read_iceberg_snapshot(spark, t).count() == 10


def test_iceberg_incremental_ingest_ticks(spark, tmp_path):
    """Resumable ordinal-HWM ingest: first tick pulls the full history,
    a no-new-data tick is a metadata-only no-op, a new snapshot pulls
    exactly its delta, and a crash-before-mark re-delivers the range."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_incremental_ingest,
    )

    t = str(tmp_path / "src")
    a = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    b = spark.range(20, 25).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a, b], t)
    mark = str(tmp_path / "mark")
    pulls = []

    def apply_fn(df, last, current):
        pulls.append((last, current, df.count()))

    hwm = iceberg_incremental_ingest(spark, t, mark, apply_fn)
    assert hwm == 1 and pulls == [(-1, 1, 25)]
    # nothing new: no pull, mark unchanged
    assert iceberg_incremental_ingest(spark, t, mark, apply_fn) == 1
    assert len(pulls) == 1
    # a third snapshot lands: regenerate the staged table IN PLACE with
    # one more commit (ordinals and earlier data files stay stable, so
    # the persisted mark remains valid — metadata paths are absolute,
    # which is why a directory move would not model table growth)
    c = spark.range(25, 28).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a, b, c], t)
    assert iceberg_incremental_ingest(spark, t, mark, apply_fn) == 2
    assert pulls[-1] == (1, 2, 3)
    # crash-before-mark: delete the mark, the next tick re-delivers all
    import os as _os
    _os.unlink(mark)
    assert iceberg_incremental_ingest(spark, t, mark, apply_fn) == 2
    assert pulls[-1] == (-1, 2, 28)


# ---------------------------------------------------------------------------
# stats-based file skipping (lower/upper bounds)

def test_bounds_roundtrip_and_stats_skipping(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        decoded_column_bounds,
        iceberg_column_range_filter,
        live_data_files,
        read_table_metadata,
    )

    t = str(tmp_path / "sice")
    # range-clustered: each staged file covers a narrow k band
    df = (spark.range(0, 400)
          .selectExpr("id AS k", "CAST(id AS double) AS v",
                      "CAST(id AS string) AS s")
          .repartitionByRange(8, "k").sortWithinPartitions("k"))
    write_iceberg_table(spark, [df], t)
    meta = read_table_metadata(spark, t)
    files = live_data_files(spark, t, meta)
    bounds = [decoded_column_bounds(meta, f) for f in files]
    assert all({"k", "v", "s"} <= set(b) for b in bounds)
    lo_min = min(b["k"][0] for b in bounds)
    hi_max = max(b["k"][1] for b in bounds)
    assert (lo_min, hi_max) == (0, 399)

    # skip: only files whose k-range can contain [100, 120] survive
    keep = iceberg_column_range_filter("k", 100, 120)
    kept = live_data_files(spark, t, meta, stats_filter=keep)
    assert 0 < len(kept) < len(files)
    snap = read_iceberg_snapshot(spark, t, stats_filter=keep)
    # the SCAN itself plans only the kept files — zero tasks for skipped
    assert len(snap.inputFiles()) == len(kept)
    got = snap.filter("k BETWEEN 100 AND 120")
    assert sorted(r.k for r in got.collect()) == list(range(100, 121))

    # superset safety: a file with NO bounds is always kept
    assert keep({}) is True
    # impossible range proves zero files
    none = live_data_files(spark, t, meta,
                           stats_filter=iceberg_column_range_filter(
                               "k", 10**9, 10**9 + 1))
    assert none == []


# ---------------------------------------------------------------------------
# model-based randomized reader check

@pytest.mark.parametrize("seed", [19, 53])
def test_iceberg_reader_random_histories_match_model(spark, tmp_path, seed):
    """Seeded random append histories (1-4 snapshots, random slice sizes)
    plus randomly doctored DELETED statuses, checked snapshot-by-snapshot
    against a plain-Python model of the live row set — the reader-side
    analogue of the Delta model test."""
    import random

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
        read_table_metadata,
    )

    rng = random.Random(seed)
    t = str(tmp_path / f"m{seed}")
    cuts = sorted(rng.sample(range(1, 100), rng.randint(1, 3)))
    ranges = list(zip([0, *cuts], [*cuts, 100]))
    commits = [spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id AS double) AS v") for lo, hi in ranges]
    write_iceberg_table(spark, commits, t)

    # model: per snapshot ordinal, the union of commit ranges so far
    model = []
    acc: set[int] = set()
    for lo, hi in ranges:
        acc = acc | set(range(lo, hi))
        model.append(set(acc))

    # doctor: mark a random earlier manifest's entries DELETED in the
    # LATEST snapshot only (copy-on-write so earlier snapshots keep it)
    if len(ranges) > 1 and rng.random() < 0.8:
        from databricks_import_pyspark_scripts_spark.sources.iceberg import (
            _MANIFEST_FILE_SCHEMA,
        )
        victim = rng.randrange(len(ranges) - 1)
        mdir = os.path.join(t, "metadata")
        mpath = os.path.join(mdir, f"manifest-{victim:03d}.avro")
        _, entries = read_container(open(mpath, "rb").read())
        for e in entries:
            e["status"] = 2
        dropped = os.path.join(mdir, f"manifest-{victim:03d}-x.avro")
        with open(dropped, "wb") as f:
            f.write(write_container(_MANIFEST_ENTRY_SCHEMA, entries))
        last_snap = 1000 + len(ranges) - 1
        mlpath = os.path.join(mdir, f"snap-{last_snap}.avro")
        _, manifests = read_container(open(mlpath, "rb").read())
        for mf in manifests:
            if mf["manifest_path"].endswith(f"manifest-{victim:03d}.avro"):
                mf["manifest_path"] = dropped
        with open(mlpath, "wb") as f:
            f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))
        lo, hi = ranges[victim]
        model[-1] = model[-1] - set(range(lo, hi))

    meta = read_table_metadata(spark, t)
    for ordinal, snap_meta in enumerate(
            sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])):
        got = {r.k for r in read_iceberg_snapshot(
            spark, t, snapshot_id=snap_meta["snapshot-id"]).collect()}
        assert got == model[ordinal], (seed, ordinal)


# ---------------------------------------------------------------------------
# merge-on-read: position delete application


def test_mor_position_deletes_applied(spark, tmp_path):
    """A position-delete snapshot kills exactly its (file_path, pos) rows;
    time travel to the pre-delete snapshot still sees them; stacked
    delete snapshots compose."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "mor")
    df = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(3)], t)
    write_iceberg_position_deletes(spark, t, "k % 4 = 1")
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(200) if k % 4 != 1]
    # pre-delete snapshot untouched
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=1000)) == \
        list(range(200))
    # stacked second delete snapshot composes
    write_iceberg_position_deletes(spark, t, "k % 4 = 2")
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in range(200) if k % 4 not in (1, 2)]
    # non-deleted columns/values survive intact
    row = read_iceberg_snapshot(spark, t).filter("k = 4").first()
    assert row.v == 4.0


def test_mor_shuffle_antijoin_above_threshold(spark, tmp_path, monkeypatch):
    """Above DV_ANTIJOIN_MAX_ROWS the delete side is not FORCE-broadcast
    (no hint in the analyzed plan — AQE stays free to pick the strategy
    from runtime sizes) and the rows still come out right; below the
    threshold the hint is pinned so the fact scan never shuffles."""
    from databricks_import_pyspark_scripts_spark.sources import delta_log
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "mor_big")
    df = spark.range(0, 500).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(2)], t)
    write_iceberg_position_deletes(spark, t, "k < 100")

    hinted = read_iceberg_snapshot(spark, t)
    assert "ResolvedHint" in hinted._jdf.queryExecution() \
        .logical().toString()
    monkeypatch.setattr(delta_log, "DV_ANTIJOIN_MAX_ROWS", 0)
    out = read_iceberg_snapshot(spark, t)
    assert "ResolvedHint" not in out._jdf.queryExecution() \
        .logical().toString()
    assert _ks(out) == list(range(100, 500))


def test_mor_deletes_compose_with_stats_pruning(spark, tmp_path):
    """Metadata-level file pruning + row-level position deletes compose:
    a delete row whose data file was pruned simply never matches."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_column_range_filter,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "mor_skip")
    df = spark.range(0, 400).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartitionByRange(4, "k")], t)
    write_iceberg_position_deletes(spark, t, "k % 2 = 0")
    out = read_iceberg_snapshot(
        spark, t, stats_filter=iceberg_column_range_filter("k", 100, 199))
    got = _ks(out.filter("k BETWEEN 100 AND 199"))
    assert got == [k for k in range(100, 200) if k % 2 == 1]


def test_mor_empty_delete_snapshot_is_noop(spark, tmp_path):
    """A delete predicate matching nothing still commits a valid (empty)
    delete file; the read returns every row."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "mor_empty")
    df = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)
    write_iceberg_position_deletes(spark, t, "k < 0")
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(50))


def test_mor_delete_file_field_ids(spark, tmp_path):
    """The staged delete parquet carries the spec-reserved field ids
    (2147483546 file_path / 2147483545 pos) so real engines can resolve
    it by id."""
    import pyarrow.parquet as pq

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "mor_fid")
    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)
    write_iceberg_position_deletes(spark, t, "k = 3")
    ddir = os.path.join(t, "data")
    dpath = [os.path.join(ddir, n) for n in os.listdir(ddir)
             if n.startswith("delete-")]
    assert len(dpath) == 1
    schema = pq.read_schema(dpath[0])
    fids = {f.name: f.metadata.get(b"PARQUET:field_id") for f in schema}
    assert fids == {"file_path": b"2147483546", "pos": b"2147483545"}


# ---------------------------------------------------------------------------
# non-identity partition transforms: spec math + metadata pruning


def test_transform_math_matches_spec_examples():
    """Values pinned to the Iceberg spec's published transform examples
    (Appendix B hash examples; day/month/year reference rows)."""
    import datetime as dt

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _murmur3_32,
        apply_transform,
    )
    import struct

    # spec Appendix B: hashLong(34) == hashInt(34) == 2017239379,
    # hash("iceberg") == 1210000089, hash(epoch-micros of 2017-11-16
    # 22:31:08) == -2047944441
    assert _murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert _murmur3_32(b"iceberg") == 1210000089
    micros = int(dt.datetime(2017, 11, 16, 22, 31, 8,
                             tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert _murmur3_32(struct.pack("<q", micros)) == -2047944441
    # transform outputs
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert apply_transform("days", ts, "timestamptz") == 17486
    assert apply_transform("months", ts, "timestamptz") == 574
    assert apply_transform("years", ts, "timestamptz") == 47
    assert apply_transform("hours", ts, "timestamptz") == 17486 * 24 + 22
    assert apply_transform("truncate[10]", 17, "int") == 10
    assert apply_transform("truncate[10]", -3, "int") == -10  # floor, not C
    assert apply_transform("truncate[3]", "iceberg", "string") == "ice"
    assert apply_transform("bucket[16]", 34, "int") == \
        (2017239379 & 0x7FFFFFFF) % 16
    assert apply_transform("identity", "x", "string") == "x"
    assert apply_transform("days", None, "timestamptz") is None


def test_days_partition_pruning_zero_tasks(spark, tmp_path):
    """days()-partitioned fixture: an out-of-range bound plans ZERO files
    (zero tasks), an in-range bound plans exactly the covering days, and
    pruning + the row predicate returns the same rows as the full scan."""
    import datetime as dt

    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_source_range_filter,
        live_data_files,
    )

    t = str(tmp_path / "days")
    df = spark.range(0, 96).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600)
        .alias("ts"))
    write_iceberg_table(spark, [df], t,
                        partition_transforms=[("ts_day", "days", "ts")])
    meta = read_table_metadata(spark, t)
    lo, hi = dt.datetime(2023, 11, 15), dt.datetime(2023, 11, 15, 23, 59)
    filt = iceberg_source_range_filter(meta, "ts", lo=lo, hi=hi)
    pruned = live_data_files(spark, t, meta, partition_filter=filt)
    assert {f["partition"]["ts_day"] for f in pruned} == {19676}
    # out-of-range: zero files -> empty DataFrame, no scan planned
    none = iceberg_source_range_filter(
        meta, "ts", lo=dt.datetime(2030, 1, 1), hi=dt.datetime(2030, 1, 2))
    assert live_data_files(spark, t, meta, partition_filter=none) == []
    assert read_iceberg_snapshot(spark, t, partition_filter=none).count() == 0
    # superset-safety: pruned + row predicate == full + row predicate
    pred = (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    got = read_iceberg_snapshot(spark, t, partition_filter=filt).filter(pred)
    want = read_iceberg_snapshot(spark, t).filter(pred)
    assert _ks(got) == _ks(want) and got.count() > 0


def test_bucket_equality_pruning_and_range_superset(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_source_range_filter,
        live_data_files,
    )

    t = str(tmp_path / "bkt")
    df = spark.range(0, 80).select(F.col("id").alias("k"),
                                   (F.col("id") % 8).alias("g"))
    write_iceberg_table(spark, [df], t,
                        partition_transforms=[("g_b", "bucket[4]", "g")])
    meta = read_table_metadata(spark, t)
    filt = iceberg_source_range_filter(meta, "g", eq=5)
    pruned = live_data_files(spark, t, meta, partition_filter=filt)
    assert 0 < len(pruned) < len(live_data_files(spark, t, meta))
    got = (read_iceberg_snapshot(spark, t, partition_filter=filt)
           .filter("g = 5"))
    assert _ks(got) == [k for k in range(80) if k % 8 == 5]
    # a RANGE over a bucket field degrades to "prune nothing on this
    # field" — superset-safe, never an error (r10: a user filtering a
    # range on a bucket-partitioned column shouldn't have to remove the
    # filter); the row-level predicate still yields exact rows
    rng = iceberg_source_range_filter(meta, "g", lo=1, hi=3)
    assert len(live_data_files(spark, t, meta, partition_filter=rng))         == len(live_data_files(spark, t, meta))
    got = (read_iceberg_snapshot(spark, t, partition_filter=rng)
           .filter("g BETWEEN 1 AND 3"))
    assert _ks(got) == [k for k in range(80) if 1 <= k % 8 <= 3]


def test_truncate_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_source_range_filter,
        live_data_files,
    )

    t = str(tmp_path / "trunc")
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    write_iceberg_table(
        spark, [df], t,
        partition_transforms=[("k_t", "truncate[25]", "k")])
    meta = read_table_metadata(spark, t)
    filt = iceberg_source_range_filter(meta, "k", lo=30, hi=40)
    pruned = live_data_files(spark, t, meta, partition_filter=filt)
    assert {f["partition"]["k_t"] for f in pruned} == {25}
    got = (read_iceberg_snapshot(spark, t, partition_filter=filt)
           .filter("k BETWEEN 30 AND 40"))
    assert _ks(got) == list(range(30, 41))


def test_transform_filter_ignores_other_columns_spec_fields(spark, tmp_path):
    """A filter on a column with NO spec field derived from it prunes
    nothing (superset-safe no-op)."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_source_range_filter,
        live_data_files,
    )

    t = str(tmp_path / "other")
    df = spark.range(0, 40).select(F.col("id").alias("k"),
                                   (F.col("id") % 4).alias("g"))
    write_iceberg_table(spark, [df], t,
                        partition_transforms=[("g_b", "bucket[2]", "g")])
    meta = read_table_metadata(spark, t)
    filt = iceberg_source_range_filter(meta, "k", lo=0, hi=5)
    assert len(live_data_files(spark, t, meta, partition_filter=filt)) == \
        len(live_data_files(spark, t, meta))


# ---------------------------------------------------------------------------
# executor-parallel manifest decode


def test_parallel_manifest_decode_matches_serial(spark, tmp_path,
                                                 monkeypatch):
    """Above the threshold, manifest decode + filter evaluation moves to
    executors; the resulting live set, pruning behavior, and MoR delete
    routing must be IDENTICAL to the serial driver path."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import iceberg

    t = str(tmp_path / "par")
    commits = [spark.range(i * 10, (i + 1) * 10)
               .select(F.col("id").alias("k"),
                       (F.col("id") % 3).alias("g"))
               for i in range(4)]
    write_iceberg_table(spark, commits, t)
    iceberg.write_iceberg_position_deletes(spark, t, "k % 7 = 0")
    meta = read_table_metadata(spark, t)

    def both(**kw):
        filt = iceberg.iceberg_column_range_filter("k", 5, 25)
        monkeypatch.setattr(iceberg,
                            "ICEBERG_PARALLEL_MANIFEST_THRESHOLD", 10**9)
        d1: list = []
        serial = iceberg.live_data_files(spark, t, meta, deletes_out=d1,
                                         stats_filter=filt, **kw)
        monkeypatch.setattr(iceberg,
                            "ICEBERG_PARALLEL_MANIFEST_THRESHOLD", 1)
        d2: list = []
        par = iceberg.live_data_files(spark, t, meta, deletes_out=d2,
                                      stats_filter=filt, **kw)
        return serial, d1, par, d2

    serial, d1, par, d2 = both()
    assert {f["file_path"] for f in serial} == {f["file_path"] for f in par}
    assert {f["file_path"] for f in d1} == {f["file_path"] for f in d2}
    assert d1 and serial
    # the MoR read end-to-end through the parallel path
    monkeypatch.setattr(iceberg, "ICEBERG_PARALLEL_MANIFEST_THRESHOLD", 1)
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(40) if k % 7 != 0]
    # protocol errors surface identically (ids-less equality delete)
    _append_delete_manifest(t, content=2)
    with pytest.raises(IcebergProtocolError, match="equality_ids"):
        read_iceberg_snapshot(spark, t)


def test_parallel_decode_bounds_driver_work_on_1000_manifests(
        spark, tmp_path, monkeypatch):
    """Synthesize a snapshot with 1000 manifests (2 entries each): the
    parallel path must plan the same live set while the DRIVER decodes
    only the manifest list — read_container runs once in this process;
    entry decode happens in the Python workers."""
    import json as _json

    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_ENTRY_SCHEMA,
        _MANIFEST_FILE_SCHEMA,
        live_data_files,
    )

    t = str(tmp_path / "many")
    mdir = os.path.join(t, "metadata")
    os.makedirs(mdir)
    manifests = []
    for i in range(1000):
        entries = [{"status": 1, "snapshot_id": 1000,
                    "data_file": {"content": 0,
                                  "file_path": f"data/f{i:04d}-{j}.parquet",
                                  "file_format": "PARQUET",
                                  "partition": {}, "record_count": 1,
                                  "file_size_in_bytes": 1}}
                   for j in range(2)]
        mpath = os.path.join(mdir, f"m{i:04d}.avro")
        blob = write_container(_MANIFEST_ENTRY_SCHEMA, entries)
        with open(mpath, "wb") as f:
            f.write(blob)
        manifests.append({"manifest_path": mpath,
                          "manifest_length": len(blob),
                          "partition_spec_id": 0, "content": 0,
                          "added_snapshot_id": 1000})
    mlpath = os.path.join(mdir, "snap-1000.avro")
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))
    meta = {"format-version": 2, "location": t,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": False,
                 "type": "long"}]}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0, "current-snapshot-id": 1000,
            "snapshots": [{"snapshot-id": 1000, "timestamp-ms": 1,
                           "manifest-list": mlpath}]}
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")

    calls = {"n": 0}
    real_rc = iceberg.read_container

    def counting_rc(blob):
        calls["n"] += 1
        return real_rc(blob)

    monkeypatch.setattr(iceberg, "read_container", counting_rc)
    md = read_table_metadata(spark, t)
    files = live_data_files(spark, t, md)
    assert len(files) == 2000
    assert calls["n"] == 1  # the manifest LIST only; entries on workers


# ---------------------------------------------------------------------------
# transactional append (CAS via metadata-file create)


def test_append_iceberg_roundtrip_and_time_travel(spark, ice):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
    )

    df = spark.range(40, 55).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    snap = append_iceberg(spark, df, ice, ts_ms=1700000009000)
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(55))
    # prior snapshots untouched
    assert _ks(read_iceberg_snapshot(spark, ice, snapshot_id=1001)) == \
        list(range(40))
    # appended snapshot addressable by its id
    assert _ks(read_iceberg_snapshot(spark, ice, snapshot_id=snap)) == \
        list(range(55))
    # metadata version advanced; hint follows
    mdir = os.path.join(ice, "metadata")
    assert int(open(os.path.join(mdir, "version-hint.text")).read()) == 3
    # change feed sees the append as inserts at the new ordinal
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_changes,
    )
    ch = read_iceberg_changes(spark, ice, 1, 2)
    assert sorted(r.k for r in ch.collect()) == list(range(40, 55))
    assert {r._change_type for r in ch.collect()} == {"insert"}


def test_append_iceberg_respects_partition_spec(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        iceberg_source_range_filter,
        live_data_files,
    )

    t = str(tmp_path / "ap")
    base = spark.range(0, 40).select(F.col("id").alias("k"),
                                     (F.col("id") % 4).alias("g"))
    write_iceberg_table(spark, [base], t,
                        partition_transforms=[("g_t", "truncate[2]", "g")])
    add = spark.range(40, 60).select(F.col("id").alias("k"),
                                     (F.col("id") % 4).alias("g"))
    append_iceberg(spark, add, t)
    meta = read_table_metadata(spark, t)
    # appended entries carry transform partition values -> pruning works
    filt = iceberg_source_range_filter(meta, "g", lo=2, hi=3)
    pruned = live_data_files(spark, t, meta, partition_filter=filt)
    assert pruned and all(f["partition"]["g_t"] == 2 for f in pruned)
    got = read_iceberg_snapshot(spark, t, partition_filter=filt) \
        .filter("g >= 2")
    assert _ks(got) == [k for k in range(60) if k % 4 >= 2]


def test_append_iceberg_schema_mismatch_and_race(spark, ice, monkeypatch):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        IcebergCommitConflict,
        append_iceberg,
    )

    bad = spark.range(5).select(F.col("id").alias("wrong"))
    with pytest.raises(ValueError, match="does not match table schema"):
        append_iceberg(spark, bad, ice)

    # concurrent-append race: a racer lands v3 between this append's
    # metadata read and its commit attempt — the rebase must retry at v4
    # and the committed snapshot must contain BOTH appends' rows
    df = spark.range(40, 50).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    racer = spark.range(100, 105).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    real_stage = iceberg._stage_commit
    fired = {"done": False}

    def stage_and_race(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            append_iceberg(spark, racer, ice, ts_ms=1700000010000)
        return out

    monkeypatch.setattr(iceberg, "_stage_commit", stage_and_race)
    append_iceberg(spark, df, ice, ts_ms=1700000011000)
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        list(range(50)) + list(range(100, 105))


def test_append_iceberg_race_aborts_on_spec_change(spark, ice, monkeypatch):
    """A racer that changes the partition spec forces a restage, not a
    silent commit of old-layout files."""
    import json as _json

    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        IcebergCommitConflict,
        append_iceberg,
    )

    mdir = os.path.join(ice, "metadata")

    real_stage = iceberg._stage_commit
    fired = {"done": False}

    def stage_and_respec(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            cur = int(open(os.path.join(mdir, "version-hint.text")).read())
            meta = _json.load(open(os.path.join(mdir,
                                                f"v{cur}.metadata.json")))
            meta["partition-specs"] = [{"spec-id": 0, "fields": [
                {"name": "k_b", "transform": "bucket[4]", "source-id": 1,
                 "field-id": 1000}]}]
            with open(os.path.join(mdir,
                                   f"v{cur + 1}.metadata.json"), "w") as f:
                _json.dump(meta, f)
        return out

    monkeypatch.setattr(iceberg, "_stage_commit", stage_and_respec)
    df = spark.range(40, 45).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    with pytest.raises(IcebergCommitConflict, match="partition spec"):
        append_iceberg(spark, df, ice)


# ---------------------------------------------------------------------------
# equality deletes (content=2) with sequence-number scoping


def test_equality_deletes_applied_with_sequence_scoping(spark, tmp_path):
    """CDC upsert shape: rows matching the equality key are deleted from
    files OLDER than the delete; a re-insert AFTER the delete survives
    (strictly-older rule on v2 sequence numbers)."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "eq")
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"))
    write_iceberg_table(spark, [base], t)            # seq 1
    dels = spark.createDataFrame([(1,), (3,)], "g long")
    write_iceberg_equality_deletes(spark, t, dels, ["g"])   # seq 2
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(40) if k % 4 in (0, 2)]
    # re-insert g=1 rows AFTER the delete: they must survive (seq 3 > 2)
    reins = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("g"))
    append_iceberg(spark, reins, t)
    got2 = _ks(read_iceberg_snapshot(spark, t))
    assert got2 == [k for k in range(40) if k % 4 in (0, 2)] + \
        list(range(100, 110))
    # time travel to the pre-delete snapshot: everything intact
    assert len(_ks(read_iceberg_snapshot(spark, t, snapshot_id=1000))) == 40


def test_equality_deletes_null_key_semantics(spark, tmp_path):
    """A delete row with a NULL key value matches NULL-keyed data rows
    (null-safe equality), never non-null ones."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "eqnull")
    base = spark.range(0, 12).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(F.col("id") % 3).cast("long").alias("g"))
    write_iceberg_table(spark, [base], t)
    dels = spark.createDataFrame([(None,)], "g long")
    write_iceberg_equality_deletes(spark, t, dels, ["g"])
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(12) if k % 3 != 0]


def test_equality_and_position_deletes_compose(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "both")
    base = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"))
    write_iceberg_table(spark, [base.repartition(3)], t)
    write_iceberg_position_deletes(spark, t, "k % 4 = 0")
    write_iceberg_equality_deletes(
        spark, t, spark.createDataFrame([(2,)], "g long"), ["g"])
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(60)
                   if k % 4 != 0 and k % 5 != 2]


def test_equality_delete_multi_column_key(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "eqmulti")
    base = spark.range(0, 24).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("a"),
        (F.col("id") % 2).alias("b"))
    write_iceberg_table(spark, [base], t)
    dels = spark.createDataFrame([(1, 0), (2, 1)], "a long, b long")
    write_iceberg_equality_deletes(spark, t, dels, ["a", "b"])
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(24)
                   if not ((k % 3, k % 2) in ((1, 0), (2, 1)))]


def test_equality_delete_without_ids_rejected(spark, ice):
    """A content=2 delete entry with no equality_ids cannot be matched —
    loud rejection, never a silent full-keep."""
    _append_delete_manifest(ice, content=2)
    with pytest.raises(IcebergProtocolError, match="equality_ids"):
        read_iceberg_snapshot(spark, ice)


# ---------------------------------------------------------------------------
# r9 review-fix regressions


def test_committed_but_unhinted_version_is_served(spark, ice):
    """The version hint is ADVISORY: a writer that crashed between its
    CAS metadata commit and the hint update must not make the committed
    version invisible (review finding: hint trusted unconditionally)."""
    import json as _json

    mdir = os.path.join(ice, "metadata")
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = _json.load(open(os.path.join(mdir, f"v{cur}.metadata.json")))
    # simulate a committed v(cur+1) whose hint write never happened:
    # current snapshot pinned back to the FIRST snapshot
    meta["current-snapshot-id"] = 1000
    with open(os.path.join(mdir, f"v{cur + 1}.metadata.json"), "w") as f:
        _json.dump(meta, f)
    # hint still says cur — the reader must serve cur+1
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(30))


def test_exact_micros_never_off_by_one():
    """int(dt.timestamp()*1e6) is off by 1µs for ~1.25% of values — a
    wrong microsecond flips the murmur3 bucket and silently prunes the
    covering file. The exact integer form must round-trip every value."""
    import datetime as dt
    import random

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _exact_micros,
        apply_transform,
    )

    rng = random.Random(9)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    for _ in range(20000):
        us = rng.randrange(0, 4102444800_000_000)
        d = epoch + dt.timedelta(microseconds=us)
        assert _exact_micros(d) == us
    # the empirically-found off-by-one value from the review
    d = dt.datetime(2038, 2, 27, 21, 18, 46, 981929,
                    tzinfo=dt.timezone.utc)
    want = (d - epoch) // dt.timedelta(microseconds=1)
    assert _exact_micros(d) == want
    assert int(d.timestamp() * 1_000_000) != want  # the bug being fixed
    # bucket transform consumes the exact form
    assert apply_transform("hours", d, "timestamptz") == \
        want // 3_600_000_000


def test_file_key_consistent_for_plus_named_files(spark, tmp_path):
    """Scan-side _file_key_expr and driver-side _file_key must agree for
    file names containing '+' (URLDecoder form-decodes '+' to space;
    the armored decode must not)."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _file_key,
        _file_key_expr,
    )

    d = tmp_path / "data"
    d.mkdir()
    spark.range(3).coalesce(1).write.parquet(str(tmp_path / "stage"))
    src = next((tmp_path / "stage").glob("*.parquet"))
    target = d / "part a+b%20c.parquet"
    os.replace(src, target)
    scan_key = (spark.read.parquet(str(target))
                .select(_file_key_expr(F.col("_metadata.file_path"))
                        .alias("k")).first().k)
    driver_key = _file_key(str(tmp_path), {"file_path": str(target)})
    assert scan_key == driver_key == "data/part a+b%20c.parquet"


def test_append_race_keeps_history_ordered(spark, ice, monkeypatch):
    """After a lost-then-rebased append race, the committed snapshot's
    timestamp must still order it LAST (review finding: stale default
    ts put the rebased snapshot below the racer's)."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        iceberg_snapshot_ids,
        read_table_metadata,
    )

    racer = spark.range(200, 203).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    real_stage = iceberg._stage_commit
    fired = {"done": False}

    def stage_and_race(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            append_iceberg(spark, racer, ice)  # default ts
        return out

    monkeypatch.setattr(iceberg, "_stage_commit", stage_and_race)
    df = spark.range(40, 45).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    append_iceberg(spark, df, ice)  # default ts; loses once, rebases
    meta = read_table_metadata(spark, ice)
    ids = iceberg_snapshot_ids(spark, ice)
    assert ids[-1]["snapshot_id"] == meta["current-snapshot-id"]
    ts_list = [s["timestamp_ms"] for s in ids]
    assert ts_list == sorted(ts_list)


# ---------------------------------------------------------------------------
# exactly-once streaming sink


def test_stream_iceberg_sink_exactly_once_across_restart(spark, tmp_path):
    """File-source stream into the Iceberg sink, then a SECOND run with
    a FRESH streaming checkpoint (batch ids restart at 0 — the worst
    redelivery case): the snapshot-summary watermark makes the rerun a
    no-op, so the table holds each row exactly once."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.streaming.pipeline import (
        stream_iceberg_sink,
    )

    src = str(tmp_path / "src")
    (spark.range(0, 40).select(F.col("id").alias("k"),
                               F.col("id").cast("double").alias("v"))
     .write.parquet(src))
    t = str(tmp_path / "sink")
    seed = spark.createDataFrame([], "k long, v double")
    write_iceberg_table(spark, [seed], t)

    def run(cp: str) -> None:
        stream = (spark.readStream.schema("k long, v double").parquet(src))
        q = stream_iceberg_sink(stream, t, "ingest-app",
                                str(tmp_path / cp),
                                scope_to_checkpoint=False)
        q.processAllAvailable()
        q.stop()

    run("cp1")
    assert read_iceberg_snapshot(spark, t).count() == 40
    run("cp2")  # fresh checkpoint: batch 0 redelivered -> no-op
    assert read_iceberg_snapshot(spark, t).count() == 40


def test_append_iceberg_txn_idempotent_and_race_dedup(spark, ice,
                                                      monkeypatch):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
    )

    df = spark.range(40, 50).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    append_iceberg(spark, df, ice, txn_app_id="app", txn_version=0)
    assert len(_ks(read_iceberg_snapshot(spark, ice))) == 50
    # replayed batch: no-op before staging
    append_iceberg(spark, df, ice, txn_app_id="app", txn_version=0)
    assert len(_ks(read_iceberg_snapshot(spark, ice))) == 50
    # next batch lands
    df2 = spark.range(50, 55).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    append_iceberg(spark, df2, ice, txn_app_id="app", txn_version=1)
    assert len(_ks(read_iceberg_snapshot(spark, ice))) == 55
    # racer IS this txn: our staged commit drops on rebase
    dup = spark.range(60, 65).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    real_stage = iceberg._stage_commit
    fired = {"done": False}

    def stage_and_race(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            append_iceberg(spark, dup, ice, txn_app_id="app",
                           txn_version=2)
        return out

    monkeypatch.setattr(iceberg, "_stage_commit", stage_and_race)
    append_iceberg(spark, dup, ice, txn_app_id="app", txn_version=2)
    assert len(_ks(read_iceberg_snapshot(spark, ice))) == 60  # once


# ---------------------------------------------------------------------------
# randomized writer model: append / DELETE WHERE (position / equality /
# deletion-vector layouts) sequences vs a plain-Python row model (the
# Delta writer model test's Iceberg twin)


@pytest.mark.parametrize("seed", [11, 23])
def test_iceberg_writer_random_histories_match_model(spark, tmp_path, seed):
    import random

    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        compact_iceberg_table,
        iceberg_delete_where,
        iceberg_merge_into,
        iceberg_snapshot_ids,
        iceberg_update_where,
    )

    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        merge_into_via_catalog,
    )

    rng = random.Random(seed)
    t = str(tmp_path / f"model{seed}")

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g"))

    # model: live rows as {k: g}; per-snapshot expected sets
    write_iceberg_table(spark, [frame(0, 30)], t)
    cat = FileRestCatalog(str(tmp_path / f"wh{seed}"))
    cat.register_table("db", "t", t)
    model = {k: k % 5 for k in range(30)}
    history = [dict(model)]
    next_k = 30
    last_sid = 1000
    for _ in range(6):
        op = rng.choice(["append", "posdel", "eqdel", "dvdel", "upd",
                         "merge", "cat_merge", "compact"])
        if op == "append":
            n = rng.randrange(5, 15)
            last_sid = append_iceberg(spark, frame(next_k, next_k + n), t)
            model.update({k: k % 5 for k in range(next_k, next_k + n)})
            next_k += n
        elif op in ("posdel", "dvdel"):
            m = rng.choice([3, 4, 7])
            r = rng.randrange(m)
            sid = iceberg_delete_where(
                spark, t, f"k % {m} = {r}",
                mode="position" if op == "posdel" else "dv")
            doomed = [k for k in model if k % m == r]
            if not doomed:
                assert sid == last_sid   # no match -> no commit
                continue
            last_sid = sid
            model = {k: g for k, g in model.items() if k % m != r}
        elif op == "compact":
            sid = compact_iceberg_table(spark, t)
            if sid is None:
                continue               # <=1 data manifest: no-op
            last_sid = sid
            # content unchanged; the replace snapshot is its own ordinal
        elif op in ("merge", "cat_merge"):
            # upsert: half existing keys (update g = s.g), half fresh;
            # cat_merge commits the SAME semantics via CommitTableRequest
            # (merge_into_via_catalog) instead of the local metadata CAS
            ex = rng.sample(sorted(model), min(len(model), 3))
            fresh = list(range(next_k, next_k + rng.randrange(0, 4)))
            next_k += len(fresh)
            rows = [(k, k % 7 + 50) for k in ex + fresh]
            if not rows:
                continue
            sdf = spark.createDataFrame(rows, "k long, g long")
            if op == "merge":
                sid = iceberg_merge_into(
                    spark, t, sdf, ["k"],
                    when_matched_update={"g": "s.g"},
                    when_not_matched_insert=True,
                    mode=rng.choice(["position", "dv"]))
            else:
                sid = merge_into_via_catalog(
                    spark, cat, "db", "t", sdf, ["k"],
                    when_matched_update={"g": "s.g"},
                    when_not_matched_insert=True,
                    mode=rng.choice(["position", "dv"]))
            last_sid = sid
            for k, g in rows:
                model[k] = g
        elif op == "upd":
            m = rng.choice([2, 3, 5])
            r = rng.randrange(m)
            inc = rng.randrange(1, 4) * 5
            sid = iceberg_update_where(spark, t, f"k % {m} = {r}",
                                       {"g": f"g + {inc}"},
                                       mode=rng.choice(["position",
                                                        "dv"]))
            hit = [k for k in model if k % m == r]
            if not hit:
                assert sid == last_sid
                continue
            last_sid = sid
            model = {k: (g + inc if k % m == r else g)
                     for k, g in model.items()}
        else:
            g = rng.randrange(5)
            sid = iceberg_delete_where(spark, t, f"g = {g}",
                                       mode="equality",
                                       equality_cols=["g"])
            # strictly-older rule: kills every row currently carrying g
            # (all live files predate this delete's sequence number)
            doomed = [k for k, gg in model.items() if gg == g]
            if not doomed:
                assert sid == last_sid
                continue
            last_sid = sid
            model = {k: gg for k, gg in model.items() if gg != g}
        history.append(dict(model))

    snaps = iceberg_snapshot_ids(spark, t)
    assert len(snaps) == len(history)
    # latest state matches the model ...
    got = {r.k: r.g for r in read_iceberg_snapshot(spark, t).collect()}
    assert got == history[-1], (seed, "latest")
    # ... and so does EVERY historical snapshot (time travel)
    for ordinal, sn in enumerate(snaps):
        got = {r.k: r.g for r in read_iceberg_snapshot(
            spark, t, snapshot_id=sn["snapshot_id"]).collect()}
        assert got == history[ordinal], (seed, ordinal)

    # CDC-RECONSTRUCTION invariant (the Iceberg twin of the Delta
    # writer model's r11 invariant): replaying every ordinal step's
    # synthesized change feed onto the prior state must reproduce the
    # snapshot exactly — over whatever mix of appends, position/
    # equality/DV deletes, UPDATEs, and MERGEs the seed produced.
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_changes,
    )

    state: dict[int, int] = {}
    for ordinal in range(len(snaps)):
        rows = read_iceberg_changes(spark, t, ordinal - 1,
                                    ordinal).collect()
        for r in rows:                       # deletes first, then inserts
            if r._change_type == "delete":
                assert state.pop(r.k, None) is not None,                     (seed, ordinal, "delete of a row not in state")
        for r in rows:
            if r._change_type == "insert":
                state[r.k] = r.g
        assert state == history[ordinal], (seed, ordinal, "cdc replay")


# ---------------------------------------------------------------------------
# r10 review fixes: hint atomicity/tolerance, stored-path decoding,
# sequence-number inheritance scope


def test_torn_or_garbage_version_hint_tolerated(spark, ice):
    """A racing reader may observe version-hint.text empty (mid-replace
    on a legacy writer) or with junk content; the hint is advisory — the
    v<N>.metadata.json listing recovers the head instead of int() blowing
    up in read_table_metadata."""
    hint = os.path.join(ice, "metadata", "version-hint.text")
    open(hint, "w").close()                       # torn/empty
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))
    with open(hint, "w") as f:
        f.write("not-a-number\n")
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))


def test_write_hint_atomic_and_clean(tmp_path):
    """_write_hint lands via temp-file + os.replace: correct content,
    no temp residue (a plain truncating open() had a torn window the
    CAS-append churn makes observable)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import _write_hint

    mdir = str(tmp_path)
    _write_hint(mdir, 7)
    with open(os.path.join(mdir, "version-hint.text")) as f:
        assert f.read() == "7"
    _write_hint(mdir, 8)
    with open(os.path.join(mdir, "version-hint.text")) as f:
        assert f.read() == "8"
    assert [n for n in os.listdir(mdir)
            if n.startswith(".version-hint.")] == []


def test_position_delete_stored_path_percent_literal(spark, tmp_path):
    """Delete files store data-file paths VERBATIM (not percent-encoded);
    a table path containing a literal %XX sequence must not be
    url-decoded on the delete side (double-decode desyncs the join key
    from the scan side and silently resurrects deleted rows)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "mor%41dir")
    df = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(2)], t)
    write_iceberg_position_deletes(spark, t, "k % 5 = 0")
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in range(50) if k % 5 != 0]


def test_sift_entries_inheritance_added_only():
    """v2 sequence-number inheritance is restricted to status=ADDED
    entries per spec; an EXISTING entry (manifest rewrite/compaction)
    with a null sequence_number rejects loudly — inheriting the
    rewritten manifest's newer number would inflate data sequence
    numbers and under-apply equality deletes. v1 has no sequence
    numbers at all, so EXISTING-with-null stays valid there."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        STATUS_ADDED,
        STATUS_EXISTING,
        _sift_entries,
    )

    dfile = {"file_path": "d/x.parquet", "file_format": "PARQUET"}
    meta2, meta1 = {"format-version": 2}, {"format-version": 1}

    added = {"status": STATUS_ADDED, "data_file": dict(dfile)}
    data, _, err = _sift_entries(0, [added], meta2, None, None, True,
                                 mf_seq=7)
    assert err is None and data[0]["_seq"] == 7    # ADDED inherits

    existing = {"status": STATUS_EXISTING, "data_file": dict(dfile)}
    _, _, err = _sift_entries(0, [existing], meta2, None, None, True,
                              mf_seq=7)
    assert err is not None and "ADDED-only" in err

    ex_seq = {"status": STATUS_EXISTING, "sequence_number": 3,
              "data_file": dict(dfile)}
    data, _, err = _sift_entries(0, [ex_seq], meta2, None, None, True,
                                 mf_seq=7)
    assert err is None and data[0]["_seq"] == 3    # explicit seq kept

    data, _, err = _sift_entries(0, [dict(existing)], meta1, None, None,
                                 True)
    assert err is None and data[0]["_seq"] == 0    # v1: no seqs exist


def test_direct_metadata_json_handle(spark, tmp_path):
    """Catalog-managed tables hand clients a *.metadata.json location,
    not a directory with a version-hint: the readers accept that file
    path as the table handle (root resolved from the metadata's own
    ``location``), serve snapshots/changes identically, and the writers
    reject it loudly (commits belong to the owning catalog)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        compact_iceberg_table,
        drop_iceberg_ref,
        evolve_iceberg_partition_spec,
        expire_iceberg_snapshots,
        iceberg_delete_where,
        iceberg_merge_into,
        iceberg_update_where,
        is_iceberg_table,
        read_iceberg_changes,
        rewrite_iceberg_manifests,
        set_iceberg_ref,
        write_iceberg_dv_deletes,
        write_iceberg_equality_deletes,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "cat")
    a = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    b = spark.range(30, 50).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a, b], t)
    write_iceberg_position_deletes(spark, t, "k % 10 = 0")
    # the catalog's pointer: the HIGHEST metadata file
    mdir = os.path.join(t, "metadata")
    handle = os.path.join(mdir, sorted(
        n for n in os.listdir(mdir) if n.endswith(".metadata.json"))[-1])
    os.unlink(os.path.join(mdir, "version-hint.text"))  # no hint at all
    before = sorted(os.listdir(mdir))
    assert is_iceberg_table(spark, handle)
    assert _ks(read_iceberg_snapshot(spark, handle)) == \
        [k for k in range(50) if k % 10 != 0]
    # time travel + changes work through the same handle
    assert _ks(read_iceberg_snapshot(spark, handle, snapshot_id=1000)) == \
        list(range(30))
    ch = read_iceberg_changes(spark, handle, 0, 1)
    assert {r.k for r in ch.collect()} == set(range(30, 50))
    keys = spark.createDataFrame([(1,)], "k long")
    for w in (lambda: append_iceberg(spark, a, handle),
              lambda: write_iceberg_position_deletes(spark, handle, "k=1"),
              lambda: set_iceberg_ref(spark, handle, "t1"),
              lambda: drop_iceberg_ref(spark, handle, "t1"),
              lambda: evolve_iceberg_partition_spec(spark, handle, ["k"]),
              lambda: rewrite_iceberg_manifests(spark, handle),
              lambda: expire_iceberg_snapshots(spark, handle, keep_last=1),
              lambda: compact_iceberg_table(spark, handle),
              lambda: write_iceberg_dv_deletes(spark, handle, "k=1"),
              lambda: write_iceberg_equality_deletes(spark, handle, keys,
                                                     ["k"]),
              lambda: iceberg_delete_where(spark, handle, "k=1"),
              lambda: iceberg_update_where(spark, handle, "k=1",
                                           {"v": "v + 1"}),
              lambda: iceberg_merge_into(spark, handle, a, ["k"])):
        with pytest.raises(NotImplementedError, match="READ-ONLY"):
            w()
    assert sorted(os.listdir(mdir)) == before    # nothing was written


def test_orc_data_files_snapshot_and_changes(spark, tmp_path):
    """ORC data files read through Spark's native ORC reader: snapshot,
    time travel, partition pruning, and the whole-file change feed all
    work; merge-on-read over ORC rejects loudly (no _metadata.row_index
    from the ORC reader); a mixed parquet+ORC table unions one scan per
    format."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_changes,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "orc")
    a = spark.range(0, 40).selectExpr(
        "id AS k", "CAST(id % 4 AS string) AS p", "CAST(id AS double) AS v")
    b = spark.range(40, 60).selectExpr(
        "id AS k", "CAST(id % 4 AS string) AS p", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a, b], t, partition_by=["p"],
                        file_format="orc")
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(60))
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=1000)) == \
        list(range(40))
    # metadata-level pruning still applies (partition struct, not footer)
    filt = lambda part: part.get("p") == "2"  # noqa: E731
    got = read_iceberg_snapshot(spark, t, partition_filter=filt) \
        .filter("p = '2'")
    assert _ks(got) == [k for k in range(60) if k % 4 == 2]
    ch = read_iceberg_changes(spark, t, 0, 1)
    assert {r.k for r in ch.collect()} == set(range(40, 60))
    # MoR over ORC: loud rejection at WRITE time (row positions need
    # _metadata.row_index, parquet-only), never silent resurrection
    with pytest.raises(IcebergProtocolError, match="ORC"):
        write_iceberg_position_deletes(spark, t, "k % 10 = 0")


def test_orc_and_parquet_mixed_table(spark, tmp_path):
    """ONE table, commit 0 parquet + commit 1 ORC: the snapshot read
    unions one scan per format and serves every row exactly once;
    time travel to the parquet-only snapshot sees no ORC rows; the
    change feed batches each format into its own scan."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_changes,
    )

    t = str(tmp_path / "mix")
    a = spark.range(0, 25).selectExpr("id AS k", "CAST(id AS double) AS v")
    b = spark.range(25, 45).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a, b], t, file_format=["parquet", "orc"])
    snap = read_iceberg_snapshot(spark, t)
    assert _ks(snap) == list(range(45))
    assert snap.count() == 45                       # each row ONCE
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=1000)) == \
        list(range(25))
    row = snap.filter("k = 30").first()             # ORC-side values
    assert row.v == 30.0
    ch = read_iceberg_changes(spark, t, 0, 1)       # the ORC commit
    assert {r.k for r in ch.collect()} == set(range(25, 45))


def test_equality_deletes_over_orc_reject_at_write(spark, tmp_path):
    """Equality-delete commits on an ORC table reject at WRITE time —
    committing one would brick every subsequent read (the MoR apply
    path is parquet-only)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "orceq")
    df = spark.range(0, 30).selectExpr("id AS k", "id % 5 AS g")
    write_iceberg_table(spark, [df], t, file_format="orc")
    with pytest.raises(IcebergProtocolError, match="ORC"):
        write_iceberg_equality_deletes(
            spark, t, spark.createDataFrame([(2,)], "g long"), ["g"])
    # table still readable — nothing was committed
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(30))


# ---------------------------------------------------------------------------
# compaction (RewriteFiles maintenance action, r10)


def test_compaction_merges_small_files_preserving_rows(spark, tmp_path):
    """Small live files merge per partition; rows and values unchanged;
    file count drops; time travel to pre-compaction snapshots intact;
    a second compaction is a no-op (None)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        live_data_files,
    )

    t = str(tmp_path / "cmp")
    commits = [spark.range(i * 20, (i + 1) * 20).selectExpr(
        "id AS k", "CAST(id % 3 AS string) AS p",
        "CAST(id AS double) AS v").repartition(2) for i in range(4)]
    write_iceberg_table(spark, commits, t, partition_by=["p"])
    meta = read_table_metadata(spark, t)
    before = len(live_data_files(spark, t, meta))
    snap = compact_iceberg_table(spark, t)
    assert snap is not None
    meta2 = read_table_metadata(spark, t)
    after = len(live_data_files(spark, t, meta2))
    assert after < before
    assert after <= 3                      # one merged file per partition
    got = read_iceberg_snapshot(spark, t)
    assert _ks(got) == list(range(80))
    assert got.filter("k = 41").first().v == 41.0
    assert got.filter("p = '2'").count() == \
        sum(1 for k in range(80) if k % 3 == 2)
    # pre-compaction snapshots still read their own file sets
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=1001)) == \
        list(range(40))
    # idempotent: everything is already one file per partition
    assert compact_iceberg_table(spark, t) is None


def test_compaction_preserves_equality_delete_scoping(spark, tmp_path):
    """THE sequence-number test: an equality delete committed AFTER
    compaction must still kill rows that now live in compacted files —
    the ADDED outputs carry the rewrite's STARTING sequence number
    explicitly, so delete.seq > data.seq holds. A fresh inherited
    number would resurrect them."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        read_table_metadata as _rtm,
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "cmpeq")
    commits = [spark.range(i * 15, (i + 1) * 15).selectExpr(
        "id AS k", "id % 5 AS g").repartition(2) for i in range(3)]
    write_iceberg_table(spark, commits, t)
    assert compact_iceberg_table(spark, t) is not None
    # manifest now has ADDED entries with explicit seq = starting seq
    write_iceberg_equality_deletes(
        spark, t, spark.createDataFrame([(2,)], "g long"), ["g"])
    got = {r.k for r in read_iceberg_snapshot(spark, t).collect()}
    assert got == {k for k in range(45) if k % 5 != 2}
    # and the EXISTING + explicit-seq shape survives a replay of the
    # history (inheritance never applied to the rewritten data)
    meta = _rtm(spark, t)
    assert int(meta["last-sequence-number"]) >= 2


def test_compaction_rejects_orc(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
    )

    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS double) AS v")
    t2 = str(tmp_path / "cmporc")
    write_iceberg_table(spark, [df.repartition(2), df.selectExpr(
        "k + 100 AS k", "v").repartition(2)], t2, file_format="orc")
    with pytest.raises(IcebergProtocolError, match="ORC"):
        compact_iceberg_table(spark, t2)


def test_compaction_folds_position_deletes(spark, tmp_path):
    """MoR compaction: outputs carry only EFFECTIVE rows (position
    deletes applied in the rewrite); the delete files disappear when
    every reference targeted a rewritten file; post-compaction reads
    need no delete application at all and match; history intact."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        live_data_files,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "cmpmor")
    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(2), df.selectExpr(
        "k + 100 AS k", "v").repartition(2)], t)
    write_iceberg_position_deletes(spark, t, "k % 10 = 0")
    expect = [k for k in list(range(40)) + list(range(100, 140))
              if k % 10 != 0]
    assert compact_iceberg_table(spark, t) is not None
    assert _ks(read_iceberg_snapshot(spark, t)) == expect
    meta = read_table_metadata(spark, t)
    dels: list = []
    files = live_data_files(spark, t, meta, None, deletes_out=dels)
    assert dels == []                 # deletes fully folded away
    total = sum(int(f["record_count"]) for f in files)
    assert total == len(expect)       # outputs are net of deletes
    # pre-compaction MoR snapshot still applies its delete files
    snaps = sorted(s["snapshot-id"] for s in meta["snapshots"])
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=snaps[-2])) \
        == expect


def test_compaction_rewrites_partial_delete_references(spark, tmp_path):
    """A delete file referencing BOTH rewritten and kept files is
    rewritten to keep only the kept-file references (same sequence
    number, explicit); kept big files still lose their deleted rows."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        live_data_files,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "cmppart")
    small = spark.range(0, 30).selectExpr(
        "id AS k", "CAST(id AS double) AS v").repartition(3)
    big = spark.range(100, 200).selectExpr(
        "id AS k", "CAST(id AS double) AS v").coalesce(1)
    write_iceberg_table(spark, [small, big], t)
    write_iceberg_position_deletes(spark, t, "k % 10 = 1")
    meta = read_table_metadata(spark, t)
    files = live_data_files(spark, t, meta, None, deletes_out=[])
    big_path = max(files, key=lambda f: int(f["record_count"]))
    # compact only the small files: threshold below the big file's size
    thr = int(big_path["file_size_in_bytes"])
    assert compact_iceberg_table(spark, t, small_file_bytes=thr) \
        is not None
    expect = [k for k in list(range(30)) + list(range(100, 200))
              if k % 10 != 1]
    assert _ks(read_iceberg_snapshot(spark, t)) == expect
    dels: list = []
    meta2 = read_table_metadata(spark, t)
    live_data_files(spark, t, meta2, None, deletes_out=dels)
    assert len(dels) == 1             # rewritten, not dropped
    # and a FRESH delete after compaction still lands on the outputs
    write_iceberg_position_deletes(spark, t, "k = 2")
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in expect if k != 2]


def test_expire_snapshots_drops_history_keeps_current(spark, tmp_path):
    """expireSnapshots: keep_last survivors + the current snapshot stay
    readable; expired ids raise loudly; files referenced ONLY by
    expired snapshots are deleted, shared files survive; dry_run
    commits nothing."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        expire_iceberg_snapshots,
        iceberg_snapshot_ids,
    )

    t = str(tmp_path / "exp")
    commits = [spark.range(i * 10, (i + 1) * 10).selectExpr(
        "id AS k", "CAST(id AS double) AS v") for i in range(4)]
    write_iceberg_table(spark, commits, t)           # snaps 1000..1003
    dry = expire_iceberg_snapshots(spark, t, keep_last=2, dry_run=True)
    assert dry["expired"] == [1000, 1001] and dry["deleted_files"]
    assert len(iceberg_snapshot_ids(spark, t)) == 4  # nothing committed
    rep = expire_iceberg_snapshots(spark, t, keep_last=2)
    assert rep["expired"] == [1000, 1001]
    assert [s["snapshot_id"] for s in iceberg_snapshot_ids(spark, t)] == \
        [1002, 1003]
    # current + survivor read fine; note: append snapshots SHARE data
    # files (each manifest list references all prior manifests), so the
    # only deletable files are the expired snapshots' manifest LISTS
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(40))
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=1002)) == \
        list(range(30))
    with pytest.raises(FileNotFoundError):
        read_iceberg_snapshot(spark, t, snapshot_id=1000)
    for p in rep["deleted_files"]:
        assert not os.path.exists(p)
    # second expire: nothing left to drop
    assert expire_iceberg_snapshots(spark, t, keep_last=2)["expired"] == []


def test_expire_after_compaction_reclaims_small_files(spark, tmp_path):
    """The compaction + expire pair: after compact_iceberg_table, the
    pre-compaction snapshots are the only reference to the small input
    files — expiring them deletes those files while the compacted
    outputs survive."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        expire_iceberg_snapshots,
        live_data_files,
    )

    t = str(tmp_path / "expc")
    commits = [spark.range(i * 10, (i + 1) * 10).selectExpr(
        "id AS k", "CAST(id AS double) AS v").repartition(2)
        for i in range(3)]
    write_iceberg_table(spark, commits, t)
    assert compact_iceberg_table(spark, t) is not None
    rep = expire_iceberg_snapshots(spark, t, keep_last=1)
    # the 6 small input files + old manifest lists/manifests are gone
    assert any(p.endswith(".parquet") and "/data/" in p
               for p in rep["deleted_files"])
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(30))
    meta = read_table_metadata(spark, t)
    for f in live_data_files(spark, t, meta):
        assert os.path.exists(f["file_path"])


# ---------------------------------------------------------------------------
# branch/tag refs

def test_refs_tag_branch_time_travel_and_main(spark, ice):
    """set_iceberg_ref + read by ref: a tag pins the first snapshot; the
    implicit 'main' branch tracks the head across an append (both before
    refs metadata exists — the spec fallback — and after, via
    _advance_head keeping refs.main in lockstep)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        set_iceberg_ref,
    )

    # main fallback on a table with NO refs metadata at all
    assert _ks(read_iceberg_snapshot(spark, ice, ref="main")) == \
        list(range(40))
    set_iceberg_ref(spark, ice, "v1", ref_type="tag", snapshot_id=1000)
    set_iceberg_ref(spark, ice, "main", ref_type="branch")  # pin explicit
    assert _ks(read_iceberg_snapshot(spark, ice, ref="v1")) == \
        list(range(30))
    c = spark.range(40, 45).selectExpr("id AS k", "CAST(id AS double) AS v")
    append_iceberg(spark, c, ice)
    # explicit main ref advanced with the commit; the tag did not move
    assert _ks(read_iceberg_snapshot(spark, ice, ref="main")) == \
        list(range(45))
    assert _ks(read_iceberg_snapshot(spark, ice, ref="v1")) == \
        list(range(30))
    with pytest.raises(ValueError, match="not both"):
        read_iceberg_snapshot(spark, ice, snapshot_id=1000, ref="v1")
    with pytest.raises(FileNotFoundError, match="nope"):
        read_iceberg_snapshot(spark, ice, ref="nope")


def test_refs_validation_and_drop(spark, ice):
    """Ref verbs validate their inputs: unknown snapshot, bad type, main
    as a tag, dropping main, dropping an unknown ref all refuse; a
    dropped tag stops resolving."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        drop_iceberg_ref,
        set_iceberg_ref,
    )

    with pytest.raises(FileNotFoundError):
        set_iceberg_ref(spark, ice, "ghost", snapshot_id=99999)
    with pytest.raises(ValueError, match="tag|branch"):
        set_iceberg_ref(spark, ice, "x", ref_type="label")
    with pytest.raises(ValueError, match="BRANCH"):
        set_iceberg_ref(spark, ice, "main", ref_type="tag")
    with pytest.raises(ValueError, match="default branch"):
        drop_iceberg_ref(spark, ice, "main")
    with pytest.raises(FileNotFoundError):
        drop_iceberg_ref(spark, ice, "absent")
    set_iceberg_ref(spark, ice, "keep", ref_type="tag", snapshot_id=1000)
    drop_iceberg_ref(spark, ice, "keep")
    with pytest.raises(FileNotFoundError):
        read_iceberg_snapshot(spark, ice, ref="keep")


def test_concurrent_metadata_commits_lose_no_update(spark, ice):
    """Stress the shared commit path: more threads than cores each add
    their own tags through ``set_iceberg_ref``, retrying on
    ``IcebergCommitConflict``. Every tag must survive (a commit built on
    a stale head would drop a racer's tag) and the metadata versions
    must be contiguous."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        IcebergCommitConflict,
        set_iceberg_ref,
    )

    def tagger(w: int) -> int:
        lost = 0
        for i in range(4):
            while True:
                try:
                    set_iceberg_ref(spark, ice, f"w{w}-{i}",
                                    snapshot_id=1000)
                    break
                except IcebergCommitConflict:
                    lost += 1
        return lost

    mdir = os.path.join(ice, "metadata")
    v0 = len([n for n in os.listdir(mdir) if n.endswith(".metadata.json")])
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futs = [ex.submit(tagger, w) for w in range(8)]
            for f in futs:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    refs = read_table_metadata(spark, ice)["refs"]
    assert {f"w{w}-{i}" for w in range(8) for i in range(4)} <= set(refs)
    versions = sorted(int(n[1:].split(".")[0]) for n in os.listdir(mdir)
                      if n.endswith(".metadata.json"))
    assert versions == list(range(1, v0 + 33))


def test_expire_retains_ref_pinned_snapshots(spark, tmp_path):
    """expireSnapshots keeps every snapshot a ref points at (spec: refs
    are retention roots), and dropping the ref makes it expirable."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        drop_iceberg_ref,
        expire_iceberg_snapshots,
        set_iceberg_ref,
    )

    t = str(tmp_path / "refexp")
    commits = [spark.range(i * 10, (i + 1) * 10).selectExpr(
        "id AS k", "CAST(id AS double) AS v") for i in range(3)]
    write_iceberg_table(spark, commits, t)           # snaps 1000..1002
    set_iceberg_ref(spark, t, "pin", ref_type="tag", snapshot_id=1000)
    rep = expire_iceberg_snapshots(spark, t, keep_last=1)
    assert rep["expired"] == [1001]                  # 1000 pinned, 1002 head
    assert _ks(read_iceberg_snapshot(spark, t, ref="pin")) == \
        list(range(10))
    drop_iceberg_ref(spark, t, "pin")
    rep2 = expire_iceberg_snapshots(spark, t, keep_last=1)
    assert rep2["expired"] == [1000]
    with pytest.raises(FileNotFoundError):
        read_iceberg_snapshot(spark, t, snapshot_id=1000)


def test_metadata_tables(spark, ice):
    """iceberg_metadata_table: snapshots/history/refs/files/manifests/
    partitions surface the table's metadata as DataFrames — counts and
    identities must agree with the layout the fixture staged (two append
    snapshots, 1000 then 1001), with zero data-file reads."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_metadata_table,
        set_iceberg_ref,
    )

    snaps = iceberg_metadata_table(spark, ice, "snapshots").collect()
    assert [s.snapshot_id for s in snaps] == [1000, 1001]
    assert [s.is_current for s in snaps] == [False, True]
    assert all(s.operation == "append" for s in snaps)

    hist = iceberg_metadata_table(spark, ice, "history").collect()
    assert [h.snapshot_id for h in hist] == [1000, 1001]

    # refs: implicit main before any ref commit, then an explicit tag
    refs = {r.name: r for r in
            iceberg_metadata_table(spark, ice, "refs").collect()}
    assert refs["main"].snapshot_id == 1001
    set_iceberg_ref(spark, ice, "v1", ref_type="tag", snapshot_id=1000)
    refs = {r.name: r for r in
            iceberg_metadata_table(spark, ice, "refs").collect()}
    assert refs["v1"].type == "tag" and refs["v1"].snapshot_id == 1000

    files = iceberg_metadata_table(spark, ice, "files").collect()
    assert sum(f.record_count for f in files) == 40
    files0 = iceberg_metadata_table(spark, ice, "files",
                                    snapshot_id=1000).collect()
    assert sum(f.record_count for f in files0) == 30
    assert all(f.file_format == "PARQUET" for f in files)

    mans = iceberg_metadata_table(spark, ice, "manifests").collect()
    assert len(mans) == 2 and all(m.content == 0 for m in mans)

    parts = iceberg_metadata_table(spark, ice, "partitions").collect()
    assert sum(p.record_count for p in parts) == 40
    assert sum(p.file_count for p in parts) == len(files)

    with pytest.raises(ValueError, match="unknown metadata table"):
        iceberg_metadata_table(spark, ice, "wat")


def test_partition_spec_evolution_mixed_scan_and_pruning(spark, tmp_path):
    """evolve_iceberg_partition_spec: appends after the evolution stage
    under the NEW spec while old files keep theirs; a mixed-spec scan
    serves every row; metadata pruning on the new field skips new-spec
    files but never the (field-less) old ones."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        evolve_iceberg_partition_spec,
        iceberg_source_range_filter,
        live_data_files,
    )

    t = str(tmp_path / "spev")
    a = spark.range(0, 30).selectExpr(
        "id AS k", "CAST(id % 3 AS int) AS cat", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [a], t)          # unpartitioned era
    sid = evolve_iceberg_partition_spec(spark, t, partition_by=["cat"])
    assert sid == 1
    meta = read_table_metadata(spark, t)
    assert meta["default-spec-id"] == 1
    assert len(meta["partition-specs"]) == 2
    b = spark.range(30, 60).selectExpr(
        "id AS k", "CAST(id % 3 AS int) AS cat", "CAST(id AS double) AS v")
    append_iceberg(spark, b, t)
    # every row of both eras
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(60))
    # pruning on cat = 1: new-spec files for cat 0/2 are skipped, the
    # old era's (spec-0, field-less) file is NOT — superset-safe
    meta = read_table_metadata(spark, t)
    filt = iceberg_source_range_filter(meta, "cat", eq=1)
    kept = live_data_files(spark, t, meta, partition_filter=filt)
    n_all = len(live_data_files(spark, t, meta))
    assert len(kept) < n_all
    got = read_iceberg_snapshot(spark, t, partition_filter=filt)
    assert _ks(got.filter("cat = 1")) == [k for k in range(60) if k % 3 == 1]
    # old files carry no 'cat' partition value: all spec-0 files kept
    specs0 = [f for f in kept if not (f.get("partition") or {})]
    assert specs0, "old-spec file wrongly pruned"


def test_partition_spec_evolution_validation(spark, ice):
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        evolve_iceberg_partition_spec,
    )

    with pytest.raises(ValueError, match="not a"):
        evolve_iceberg_partition_spec(spark, ice, partition_by=["ghost"])
    with pytest.raises(IcebergProtocolError, match="unknown partition"):
        evolve_iceberg_partition_spec(
            spark, ice, partition_transforms=[("x", "wat[3]", "k")])
    # field ids continue across specs (unique table-wide)
    evolve_iceberg_partition_spec(spark, ice, partition_by=["k"])
    evolve_iceberg_partition_spec(
        spark, ice, partition_transforms=[("k_bucket", "bucket[4]", "k")])
    meta = read_table_metadata(spark, ice)
    fids = [f["field-id"] for s in meta["partition-specs"]
            for f in s["fields"]]
    assert len(fids) == len(set(fids)) == 2 and fids == [1000, 1001]


# ---------------------------------------------------------------------------
# UniForm: Iceberg metadata over a Delta table

def test_uniform_sync_reads_delta_files_through_iceberg(spark, tmp_path):
    """uniform_sync_iceberg: one directory, two protocols — the Delta
    writer's files read back identically through the Iceberg stack
    (name-mapping resolution, partition values translated, record
    counts from Delta stats); a re-sync after a Delta append publishes
    the new state; same-version re-sync is a no-op."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        append_delta,
        create_delta_table,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot,
    )
    from databricks_import_pyspark_scripts_spark.sources.uniform import (
        uniform_sync_iceberg,
    )

    t = str(tmp_path / "uni")
    df = spark.range(0, 40).selectExpr(
        "id AS k", "CAST(id % 3 AS int) AS cat", "CAST(id AS double) AS v")
    create_delta_table(spark, df, t, partition_by=["cat"], ts_ms=1000)
    sid = uniform_sync_iceberg(spark, t)
    assert sid == 1000 and is_iceberg_table(spark, t)
    ice = read_iceberg_snapshot(spark, t)
    assert _ks(ice) == list(range(40))
    assert ice.filter("cat = 1").count() == \
        read_delta_snapshot(spark, t).filter("cat = 1").count()
    # metadata pruning through the synced identity spec
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_metadata_table,
        read_table_metadata,
    )
    meta = read_table_metadata(spark, t)
    files = iceberg_metadata_table(spark, t, "files").collect()
    assert sum(f.record_count for f in files) == 40
    assert {f.partition["cat"] for f in files} == {"0", "1", "2"}
    # no-op on unchanged table; new snapshot after a Delta append
    assert uniform_sync_iceberg(spark, t) == 1000
    append_delta(spark, spark.range(40, 50).selectExpr(
        "id AS k", "CAST(id % 3 AS int) AS cat",
        "CAST(id AS double) AS v"), t, ts_ms=2000)
    assert uniform_sync_iceberg(spark, t) == 1001
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(50))


def test_uniform_resync_publish_never_exposes_partial_head(
        spark, tmp_path, monkeypatch):
    """A head read made while a re-sync writes its metadata file sees the
    old head or the new one whole, never a partial file: the sync
    publishes through the shared commit path (temp file + atomic
    create), not by writing ``v<N+1>.metadata.json`` in place."""
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer
    from databricks_import_pyspark_scripts_spark.sources import (
        iceberg,
        uniform,
    )

    t = str(tmp_path / "uni")
    rows = "id AS k", "CAST(id AS double) AS v"
    delta_writer.create_delta_table(
        spark, spark.range(0, 20).selectExpr(*rows), t, ts_ms=1000)
    assert uniform.uniform_sync_iceberg(spark, t) == 1000
    delta_writer.append_delta(
        spark, spark.range(20, 30).selectExpr(*rows), t, ts_ms=2000)
    mdir = os.path.join(t, "metadata")
    seen = []

    class Probe:
        """Writes half of each chunk, reads the head, writes the rest."""

        def __init__(self, f):
            self.f = f

        def write(self, data):
            self.f.write(data[:len(data) // 2])
            self.f.flush()
            try:
                seen.append(iceberg._head(None, mdir)[1]
                            ["current-snapshot-id"])
            except Exception as e:  # noqa: BLE001 — a torn read
                seen.append(repr(e))
            return self.f.write(data[len(data) // 2:])

        def __getattr__(self, name):
            return getattr(self.f, name)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return self.f.__exit__(*exc)

    def probing_open(file, mode="r", *args, **kwargs):
        f = open(file, mode, *args, **kwargs)
        name = os.path.basename(str(file))
        if ("w" in mode and os.path.dirname(str(file)) == mdir
                and name.startswith("v") and ".metadata.json" in name):
            return Probe(f)
        return f

    for mod in (uniform, delta_writer):
        monkeypatch.setattr(mod, "open", probing_open, raising=False)
    assert uniform.uniform_sync_iceberg(spark, t) == 1001
    monkeypatch.undo()
    assert seen and set(seen) <= {1000, 1001}, seen
    assert _ks(read_iceberg_snapshot(spark, t)) == list(range(30))


def test_uniform_sync_translates_dvs_to_position_deletes(spark, tmp_path):
    """A DV-bearing Delta table (the DBR-14+ default) syncs: each live
    deletion vector decodes into rows of ONE position-delete parquet
    (spec field ids), referenced by a content=1 manifest — the Iceberg
    read must not resurrect the deleted rows (VERDICT r10 #2)."""
    import pyarrow.parquet as papq

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        create_delta_table,
        delete_where,
    )
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_table_metadata,
    )
    from databricks_import_pyspark_scripts_spark.sources.uniform import (
        uniform_sync_iceberg,
    )

    t = str(tmp_path / "unidv")
    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    create_delta_table(spark, df, t, ts_ms=1000)
    delete_where(spark, t, "k < 5", ts_ms=2000, use_dv=True)
    delete_where(spark, t, "k = 17", ts_ms=3000, use_dv=True)
    uniform_sync_iceberg(spark, t)
    got = _ks(read_iceberg_snapshot(spark, t))
    assert got == [k for k in range(20) if k >= 5 and k != 17]
    # the translation is a real spec-field-id position-delete parquet
    meta = read_table_metadata(spark, t)
    import glob as _glob
    (dpath,) = _glob.glob(os.path.join(t, "data", "uniform-delete-*"))
    sch = papq.read_schema(dpath)
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    assert papq.ParquetFile(dpath).metadata.num_rows == 6
    assert meta["format-version"] == 2


def test_uniform_sync_column_mapped_flat_table(spark, tmp_path):
    """A column-mapped (name-mode) FLAT Delta table syncs: the Iceberg
    schema keeps logical names while schema.name-mapping.default points
    each field id at the on-disk PHYSICAL name; the Iceberg read
    resolves the physical columns and serves logical names. Nested
    columns under mapping still reject loudly."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from databricks_import_pyspark_scripts_spark.sources.uniform import (
        uniform_sync_iceberg,
    )

    t = str(tmp_path / "unicm")
    os.makedirs(os.path.join(t, "_delta_log"))
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-p1"}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-p2"}}]})
    papq.write_table(
        pa.table({"col-p1": pa.array([1, 2, 3], pa.int64()),
                  "col-p2": pa.array([0.5, 1.5, 2.5], pa.float64())}),
        os.path.join(t, "f1.parquet"))
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "11111111-2222-3333-4444-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 1690000000000}},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": os.path.getsize(os.path.join(t, "f1.parquet")),
                 "dataChange": True, "modificationTime": 1}},
    ]
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    uniform_sync_iceberg(spark, t)
    got = read_iceberg_snapshot(spark, t)
    assert set(got.columns) == {"k", "v"}
    assert sorted((r.k, r.v) for r in got.collect()) == \
        [(1, 0.5), (2, 1.5), (3, 2.5)]
    # NESTED + mapping: the recursive name-mapping resolves struct
    # children under their physical names and the read casts back to
    # the logical shape (partitioned table: identity values re-attach
    # from manifest metadata)
    from delta_fixture import make_column_mapped_table
    t2 = str(tmp_path / "unicm_nested")
    make_column_mapped_table(t2)
    uniform_sync_iceberg(spark, t2)
    got2 = read_iceberg_snapshot(spark, t2)
    rows = {r.id: (r.info.score, r.info.tag, r.part)
            for r in got2.collect()}
    assert rows == {1: (0.5, "a", "p1"), 2: (1.5, "b", "p1"),
                    3: (2.5, "c", "p2")}


def test_rewrite_manifests_consolidates_without_moving_data(spark, tmp_path):
    """rewrite_iceberg_manifests: N append manifests collapse to one
    EXISTING-entry manifest with explicit sequence numbers; rows,
    time travel, and equality-delete scoping are unchanged; no data
    file moves; a second rewrite is a no-op."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_metadata_table,
        rewrite_iceberg_manifests,
        write_iceberg_equality_deletes,
    )

    t = str(tmp_path / "rwm")
    commits = [spark.range(i * 10, (i + 1) * 10).selectExpr(
        "id AS k", "CAST(id AS double) AS v") for i in range(4)]
    write_iceberg_table(spark, commits, t)           # 4 data manifests
    # an equality delete BEFORE the rewrite: strictly-older scoping must
    # still kill the (seq-preserved) rows afterwards
    dead = spark.createDataFrame([(5,), (15,)], "k long")
    write_iceberg_equality_deletes(spark, t, dead, ["k"])
    before = _ks(read_iceberg_snapshot(spark, t))
    data_files_before = {f.file_path for f in iceberg_metadata_table(
        spark, t, "files").collect()}
    sid = rewrite_iceberg_manifests(spark, t)
    assert sid is not None
    mans = iceberg_metadata_table(spark, t, "manifests").collect()
    assert sum(m.content == 0 for m in mans) == 1    # consolidated
    assert _ks(read_iceberg_snapshot(spark, t)) == before
    assert {f.file_path for f in iceberg_metadata_table(
        spark, t, "files").collect()} == data_files_before
    # time travel below the rewrite still works
    assert _ks(read_iceberg_snapshot(spark, t, snapshot_id=1001)) == \
        list(range(20))
    # a LATER equality delete must not re-apply to preserved entries
    # (their explicit seq numbers are old): it kills by strictly-older
    dead2 = spark.createDataFrame([(25,)], "k long")
    write_iceberg_equality_deletes(spark, t, dead2, ["k"])
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in range(40) if k not in (5, 15, 25)]


def test_wap_branch_append_and_publish(spark, ice):
    """Write-audit-publish: an append to a named BRANCH chains on the
    branch head and moves only the branch ref (main readers see
    nothing); auditing reads the branch by ref; publishing
    fast-forwards main (set_iceberg_ref) so ref-less readers see the
    audited state. Tags refuse appends; unknown branches refuse."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        set_iceberg_ref,
    )

    set_iceberg_ref(spark, ice, "audit", ref_type="branch")  # at head
    c = spark.range(40, 50).selectExpr("id AS k", "CAST(id AS double) AS v")
    sid = append_iceberg(spark, c, ice, branch="audit")
    # main (ref-less AND by-ref) unchanged; audit sees the new rows
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))
    assert _ks(read_iceberg_snapshot(spark, ice, ref="main")) == \
        list(range(40))
    assert _ks(read_iceberg_snapshot(spark, ice, ref="audit")) == \
        list(range(50))
    # a second branch append chains on the BRANCH head
    d = spark.range(50, 55).selectExpr("id AS k", "CAST(id AS double) AS v")
    append_iceberg(spark, d, ice, branch="audit")
    assert _ks(read_iceberg_snapshot(spark, ice, ref="audit")) == \
        list(range(55))
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))
    # publish: fast-forward main to the audited head
    meta = read_table_metadata(spark, ice)
    head = int(meta["refs"]["audit"]["snapshot-id"])
    set_iceberg_ref(spark, ice, "main", ref_type="branch",
                    snapshot_id=head)
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(55))
    assert _ks(read_iceberg_snapshot(spark, ice, ref="main")) == \
        list(range(55))
    # guards
    set_iceberg_ref(spark, ice, "pin", ref_type="tag", snapshot_id=sid)
    with pytest.raises(ValueError, match="tag"):
        append_iceberg(spark, d, ice, branch="pin")
    with pytest.raises(FileNotFoundError, match="ghost"):
        append_iceberg(spark, d, ice, branch="ghost")


def test_iceberg_timestamp_travel(spark, ice):
    """TIMESTAMP AS OF: latest snapshot at-or-before the timestamp;
    before-history errors loudly (expired history never silently serves
    a later state)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_snapshot_at_timestamp,
        read_table_metadata,
    )

    meta = read_table_metadata(spark, ice)
    t0, t1 = [int(s["timestamp-ms"]) for s in meta["snapshots"]]
    assert _ks(read_iceberg_snapshot_at_timestamp(spark, ice, t0)) == \
        list(range(30))
    assert _ks(read_iceberg_snapshot_at_timestamp(
        spark, ice, (t0 + t1) // 2)) == list(range(30))
    assert _ks(read_iceberg_snapshot_at_timestamp(spark, ice, t1 + 5)) == \
        list(range(40))
    with pytest.raises(ValueError, match="before the earliest"):
        read_iceberg_snapshot_at_timestamp(spark, ice, t0 - 1)


def test_uniform_sync_nested_schema(spark, tmp_path):
    """UniForm over a NESTED Delta schema (map + array + struct — the
    events-table shape): the Iceberg schema carries spec element/key/
    value ids and the name-mapped read returns the nested values
    intact."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        create_delta_table,
    )
    from databricks_import_pyspark_scripts_spark.sources.uniform import (
        uniform_sync_iceberg,
    )

    t = str(tmp_path / "uninest")
    df = spark.range(0, 20).selectExpr(
        "id AS k",
        "map('a', CAST(id AS string)) AS props",
        "array(id, id + 1) AS arr",
        "named_struct('x', id, 'y', CAST(id AS double)) AS st")
    create_delta_table(spark, df, t, ts_ms=1000)
    uniform_sync_iceberg(spark, t)
    got = read_iceberg_snapshot(spark, t)
    rows = {r.k: r for r in got.collect()}
    assert len(rows) == 20
    assert rows[3].props == {"a": "3"} and rows[3].arr == [3, 4]
    assert rows[3].st.x == 3 and rows[3].st.y == 3.0
    meta = read_table_metadata(spark, t)
    sch = meta["schemas"][0]
    # ids unique across the whole schema incl. nested allocations
    def _collect_ids(tp, acc):
        if isinstance(tp, dict):
            if tp["type"] == "struct":
                for f in tp["fields"]:
                    acc.append(f["id"])
                    _collect_ids(f["type"], acc)
            elif tp["type"] == "list":
                acc.append(tp["element-id"])
                _collect_ids(tp["element"], acc)
            elif tp["type"] == "map":
                acc.extend([tp["key-id"], tp["value-id"]])
                _collect_ids(tp["key"], acc)
                _collect_ids(tp["value"], acc)
    acc = []
    _collect_ids({"type": "struct", "fields": sch["fields"]}, acc)
    assert len(acc) == len(set(acc)) and meta["last-column-id"] == max(acc)


# ---------------------------------------------------------------------------
# format-version 3: puffin deletion vectors

def test_v3_puffin_dv_deletes_read_and_compose(spark, ice):
    """write_iceberg_dv_deletes: matching rows become puffin
    deletion-vector-v1 blobs (one bitmap per data file, v3 descriptor
    fields on content=1 entries); the read anti-joins the decoded
    positions; DV + parquet position deletes compose; time travel below
    the delete still serves every row; format-version bumps to 3."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_dv_deletes,
        write_iceberg_position_deletes,
    )

    write_iceberg_position_deletes(spark, ice, "k % 10 = 7")
    sid = write_iceberg_dv_deletes(spark, ice, "k % 5 = 2")
    meta = read_table_metadata(spark, ice)
    assert int(meta["format-version"]) == 3
    expect = [k for k in range(40) if k % 10 != 7 and k % 5 != 2]
    assert _ks(read_iceberg_snapshot(spark, ice)) == expect
    # puffin file exists with one blob per data file that had a match
    import glob

    from databricks_import_pyspark_scripts_spark.sources import puffin

    (ppath,) = glob.glob(os.path.join(ice, "data", "*.puffin"))
    ft = puffin.read_puffin_footer(open(ppath, "rb").read())
    assert all(b["type"] == "deletion-vector-v1" for b in ft["blobs"])
    assert len(ft["blobs"]) >= 2           # one bitmap per hit file
    # history below both delete snapshots intact
    assert _ks(read_iceberg_snapshot(spark, ice, snapshot_id=1001)) == \
        list(range(40))
    # a second DV delete composes without re-recording dead rows
    write_iceberg_dv_deletes(spark, ice, "k < 3")
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        [k for k in expect if k >= 3]
    assert sid == 1003


def test_puffin_dv_pairs_memo_hits_on_the_same_delete_set(spark, ice):
    """The per-feed memo keys on the delete set, also when it holds
    puffin DVs: the second lookup of the same set returns the first
    frame instead of decoding the bitmaps again."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _position_delete_pairs,
        live_data_files,
        write_iceberg_dv_deletes,
    )

    write_iceberg_dv_deletes(spark, ice, "k % 5 = 2")
    deletes: list[dict] = []
    live_data_files(spark, ice, read_table_metadata(spark, ice),
                    deletes_out=deletes)
    memo: dict = {}
    first = _position_delete_pairs(spark, ice, deletes, memo)
    assert first[0].count() == 8  # k % 5 = 2 over k in [0, 40)
    assert _position_delete_pairs(spark, ice, deletes, memo) is first
    assert len(memo) == 1


def test_v3_dv_replacement_keeps_one_dv_per_file(spark, ice):
    """v3 permits at most ONE deletion vector per data file: a second DV
    delete touching an already-DV'd file must union the old bitmap into
    the new vector and retire the superseded entry (ADVICE r10 #4) — an
    engine that applies only the NEWEST DV per file must never resurrect
    the first delete's rows."""
    from databricks_import_pyspark_scripts_spark.sources import (
        delta_dv, puffin,
    )
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        live_data_files,
        read_table_metadata,
        write_iceberg_dv_deletes,
    )

    write_iceberg_dv_deletes(spark, ice, "k IN (2, 7, 35)")
    write_iceberg_dv_deletes(spark, ice, "k IN (4, 7, 11)")
    expect = [k for k in range(40) if k not in (2, 4, 7, 11, 35)]
    assert _ks(read_iceberg_snapshot(spark, ice)) == expect
    meta = read_table_metadata(spark, ice)
    deletes: list[dict] = []
    live_data_files(spark, ice, meta, None, deletes_out=deletes)
    dvs = [d for d in deletes if d.get("content_offset") is not None]
    refs = [d["referenced_data_file"] for d in dvs]
    assert len(refs) == len(set(refs)), \
        f"multiple live DVs reference one data file: {refs}"
    # newest-DV-only semantics: with the superseded vectors retired, the
    # LIVE DVs alone must account for every deleted row — all 5 of
    # (2, 7, 35, 4, 11), the overlap row 7 counted once
    total = sum(int(d.get("record_count") or 0) for d in dvs)
    assert total == 5
    decoded = 0
    for d in dvs:
        blob = puffin.read_puffin_blob(
            open(os.path.join(
                ice, "data",
                os.path.basename(d["file_path"])), "rb").read(),
            int(d["content_offset"]), int(d["content_size_in_bytes"]))
        decoded += len(delta_dv.deserialize_bitmap_array(blob))
    assert decoded == 5


def test_iceberg_delete_where_modes_compose_and_survive_compaction(
        spark, tmp_path):
    """First-class DELETE WHERE (VERDICT r11 #2): the three physical
    layouts compose on one table, deleted rows never resurrect — not
    across further deletes, not across compaction — and a no-match
    delete commits nothing."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        iceberg_delete_where,
        iceberg_snapshot_ids,
        read_table_metadata,
    )

    t = str(tmp_path / "dml")
    df = spark.range(0, 60).selectExpr("id AS k", "id % 5 AS g",
                                       "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(3)], t)
    live = {k for k in range(60)}

    s1 = iceberg_delete_where(spark, t, "k % 7 = 0", mode="position")
    live -= {k for k in range(60) if k % 7 == 0}
    assert _ks(read_iceberg_snapshot(spark, t)) == sorted(live)

    s2 = iceberg_delete_where(spark, t, "g = 2", mode="equality",
                              equality_cols=["g"])
    live -= {k for k in live if k % 5 == 2}
    assert s2 > s1
    assert _ks(read_iceberg_snapshot(spark, t)) == sorted(live)

    s3 = iceberg_delete_where(spark, t, "k % 11 = 3", mode="dv")
    live -= {k for k in live if k % 11 == 3}
    assert s3 > s2
    assert _ks(read_iceberg_snapshot(spark, t)) == sorted(live)
    assert int(read_table_metadata(spark, t)["format-version"]) == 3

    # no match -> no commit, snapshot id unchanged
    n_before = len(iceberg_snapshot_ids(spark, t))
    assert iceberg_delete_where(spark, t, "k < 0") == s3
    assert iceberg_delete_where(spark, t, "g = 99", mode="equality",
                                equality_cols=["g"]) == s3
    assert len(iceberg_snapshot_ids(spark, t)) == n_before

    # equality mode refuses a predicate over non-key columns: it would
    # delete every row sharing the key, not just the matching rows
    with pytest.raises(ValueError, match="non-key"):
        iceberg_delete_where(spark, t, "v > 10", mode="equality",
                             equality_cols=["g"])
    with pytest.raises(ValueError, match="requires equality_cols"):
        iceberg_delete_where(spark, t, "g = 1", mode="equality")

    # compaction folds the deletes; nothing resurrects
    assert compact_iceberg_table(spark, t) is not None
    assert _ks(read_iceberg_snapshot(spark, t)) == sorted(live)


def test_iceberg_delete_where_rebases_on_commit_race(spark, tmp_path,
                                                     monkeypatch):
    """The DML verb is optimistic: a lost metadata CAS (someone claimed
    v<N+1> first) must reload, RE-DERIVE the matching rows, and retry —
    not surface the conflict. Injected by failing the atomic create
    once."""
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_delete_where,
    )

    t = str(tmp_path / "dmlrace")
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)

    real = delta_writer._atomic_create
    state = {"failed": False}

    def flaky(spark_, path, payload):
        if not state["failed"] and "metadata.json" in path:
            state["failed"] = True
            return False            # simulate losing the CAS
        return real(spark_, path, payload)

    monkeypatch.setattr(delta_writer, "_atomic_create", flaky)
    sid = iceberg_delete_where(spark, t, "k % 3 = 0", mode="position")
    assert state["failed"]          # the race really fired
    assert sid > 1000
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in range(30) if k % 3 != 0]


def test_delete_where_detects_scan_to_commit_head_drift(spark, tmp_path,
                                                        monkeypatch):
    """ADVICE r12 #1: the metadata CAS only covers _commit_delete_snapshot's
    own read-to-create window. A concurrent commit landing between the
    CALLER's position scan and the commit's metadata reload would make the
    staged (file, pos) pairs reference a retired head — the commit must
    raise IcebergCommitConflict (scanned_snapshot_id guard), and the DML
    verb's rebase loop must re-derive against the new head, deleting the
    racer's matching rows too."""
    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        IcebergCommitConflict,
        append_iceberg,
        iceberg_delete_where,
    )

    t = str(tmp_path / "driftrace")
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)

    racer = spark.range(100, 105).selectExpr("id AS k",
                                             "CAST(id AS double) AS v")
    state = {"raced": False, "conflicts": 0}
    real_stage = iceberg._position_delete_entries_distributed

    def race_then_stage(spark_, root, pos_df, tag, **kw):
        # positions are already derived at this point; land a racer
        # append BEFORE the commit reloads metadata
        entries = real_stage(spark_, root, pos_df, tag, **kw)
        if not state["raced"]:
            state["raced"] = True
            append_iceberg(spark, racer, t)
        return entries

    real_commit = iceberg._commit_delete_snapshot

    def counting_commit(*a, **k):
        try:
            return real_commit(*a, **k)
        except IcebergCommitConflict:
            state["conflicts"] += 1
            raise

    monkeypatch.setattr(iceberg, "_position_delete_entries_distributed",
                        race_then_stage)
    monkeypatch.setattr(iceberg, "_commit_delete_snapshot", counting_commit)

    iceberg_delete_where(spark, t, "k % 3 = 0", mode="position")
    assert state["raced"]
    assert state["conflicts"] >= 1   # the guard fired, not a silent commit
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in list(range(30)) + list(range(100, 105)) if k % 3 != 0]


def test_delete_commit_keeps_append_landing_after_its_head_read(
        spark, tmp_path, monkeypatch):
    """Lost-update regression: an append that commits right after the
    delete commit has read its head must survive. The delete either
    lands on top of it or raises IcebergCommitConflict; it never
    publishes a version built from the older head, which would drop the
    racer's rows and reuse its snapshot id."""
    from databricks_import_pyspark_scripts_spark.sources import iceberg
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        IcebergCommitConflict,
        append_iceberg,
        write_iceberg_position_deletes,
    )

    t = str(tmp_path / "lostupd")
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)
    racer = spark.range(100, 105).selectExpr("id AS k",
                                             "CAST(id AS double) AS v")
    state = {"in_commit": False, "raced": False}
    real_commit = iceberg._commit_delete_snapshot
    real_read = iceberg._read_bytes

    def commit(*a, **k):
        state["in_commit"] = True
        try:
            return real_commit(*a, **k)
        finally:
            state["in_commit"] = False

    def read_then_race(spark_, path):
        raw = real_read(spark_, path)
        # the first metadata read inside the delete commit is its head
        # read: land the racer right after it
        if state["in_commit"] and not state["raced"] and \
                path.endswith(".metadata.json"):
            state["raced"] = True
            append_iceberg(spark, racer, t)
        return raw

    monkeypatch.setattr(iceberg, "_commit_delete_snapshot", commit)
    monkeypatch.setattr(iceberg, "_read_bytes", read_then_race)
    try:
        write_iceberg_position_deletes(spark, t, "k % 3 = 0")
        landed = True
    except IcebergCommitConflict:
        landed = False
    assert state["raced"]
    got = _ks(read_iceberg_snapshot(spark, t))
    racer_rows = [k for k in range(100, 105)
                  if not landed or k % 3 != 0]
    assert set(racer_rows) <= set(got)
    expect_base = [k for k in range(30) if not landed or k % 3 != 0]
    assert got == sorted(expect_base + racer_rows)
    ids = [s["snapshot_id"] for s in iceberg_snapshot_ids(spark, t)]
    assert len(ids) == len(set(ids))


def test_failed_metadata_publish_leaves_table_at_old_head(spark, ice,
                                                          monkeypatch):
    """Fault injection: the metadata create fails AFTER the append has
    written its data files, manifest and manifest list. The table still
    reads at its old head with an unchanged snapshot list, and the next
    append commits normally."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sinks import delta_writer
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
    )

    mdir = os.path.join(ice, "metadata")
    snaps0 = iceberg_snapshot_ids(spark, ice)
    hint0 = open(os.path.join(mdir, "version-hint.text")).read()
    lists0 = {n for n in os.listdir(mdir) if n.startswith("snap-")}

    def failing_create(spark_, path, payload):
        raise OSError("injected: disk full")

    monkeypatch.setattr(delta_writer, "_atomic_create", failing_create)
    df = spark.range(40, 45).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    with pytest.raises(OSError, match="injected"):
        append_iceberg(spark, df, ice)
    # the fault hit after staging: a new manifest list is on disk
    assert {n for n in os.listdir(mdir) if n.startswith("snap-")} > lists0
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(40))
    assert iceberg_snapshot_ids(spark, ice) == snaps0
    assert open(os.path.join(mdir, "version-hint.text")).read() == hint0

    monkeypatch.undo()
    sid = append_iceberg(spark, df, ice)
    assert sid == snaps0[-1]["snapshot_id"] + 1
    assert _ks(read_iceberg_snapshot(spark, ice)) == list(range(45))


def test_v2_dml_stages_position_deletes_executor_side(spark, tmp_path,
                                                      monkeypatch):
    """VERDICT r12 #2: the v2 position-delete layout must never collect
    the matched (file, pos) pairs — or the equality key set — on the
    driver. Staging streams executor-side (sortWithinPartitions +
    task-side ParquetWriter); the driver receives only footer-stats
    summary rows. Pin it by banning toPandas outright and banning any
    UNBOUNDED collect of a provenance/position-shaped frame (bounded
    take(1) emptiness probes keep their Limit node and stay allowed)
    across DELETE, UPDATE, MERGE, and equality-delete in v2 mode."""
    from pyspark.sql import DataFrame

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _PROV_F,
        _PROV_P,
        iceberg_delete_where,
        iceberg_merge_into,
        iceberg_update_where,
    )

    t = str(tmp_path / "v2scale")
    df = spark.range(0, 60).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)

    real_collect = DataFrame.collect

    def _boom_pandas(self):
        raise AssertionError("driver toPandas during v2 DML staging")

    def guarded_collect(self):
        cols = set(self.columns)
        if {_PROV_F, _PROV_P} <= cols or {"file_path", "pos"} <= cols:
            plan = self._jdf.queryExecution().logical().toString()
            if "GlobalLimit" not in plan:
                raise AssertionError(
                    "unbounded driver collect of doomed positions: "
                    + plan.splitlines()[0])
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "toPandas", _boom_pandas)
    monkeypatch.setattr(DataFrame, "collect", guarded_collect)
    iceberg_delete_where(spark, t, "k % 10 = 3", mode="position")
    iceberg_update_where(spark, t, "k % 10 = 4", {"v": "v + 1000.0"},
                         mode="position")
    src = spark.range(0, 6).selectExpr("id * 10 AS k",
                                       "CAST(9999 AS double) AS v")
    iceberg_merge_into(spark, t, src, on=["k"],
                       when_matched_update={"v": "s.v"},
                       mode="position")
    iceberg_delete_where(spark, t, "k = 59", mode="equality",
                         equality_cols=["k"])
    monkeypatch.undo()

    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    assert sorted(got) == [k for k in range(60) if k % 10 != 3 and k != 59]
    assert got[14] == 1014.0 and got[44] == 1044.0   # UPDATE post-image
    assert got[20] == 9999.0 and got[50] == 9999.0   # MERGE update


def test_retired_dv_survivors_keep_original_snapshot_id(spark, ice):
    """When a DV replacement rewrites a carried delete manifest, the
    SURVIVING entries (DVs for files the new commit did not touch) are
    re-stamped EXISTING — and the spec requires EXISTING entries to
    retain the snapshot id of the snapshot that ADDED the file, not the
    superseding commit's id (ADVICE r11 #2): incremental readers
    attribute changes by snapshot_id."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        STATUS_EXISTING,
        _resolve_path,
        _snapshot,
        read_table_metadata,
        write_iceberg_dv_deletes,
    )

    # ice = file1 (k 0..29, snap 1000) + file2 (k 30..39, snap 1001)
    s1 = write_iceberg_dv_deletes(spark, ice, "k IN (2, 35)")  # both files
    s2 = write_iceberg_dv_deletes(spark, ice, "k = 5")         # file1 only
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        [k for k in range(40) if k not in (2, 5, 35)]
    meta = read_table_metadata(spark, ice)
    snap = _snapshot(meta, None)
    _, manifests = read_container(open(_resolve_path(
        ice, snap["manifest-list"]), "rb").read())
    existing = []
    for mf in manifests:
        if int(mf.get("content") or 0) != 1:
            continue
        _, ents = read_container(open(_resolve_path(
            ice, mf["manifest_path"]), "rb").read())
        existing.extend(e for e in ents
                        if int(e.get("status") or 0) == STATUS_EXISTING)
    # file2's DV from s1 survived the s2 supersede as EXISTING
    assert existing, "expected a surviving EXISTING DV entry"
    for e in existing:
        assert int(e["snapshot_id"]) == s1, \
            (f"EXISTING DV entry stamped {e['snapshot_id']}, must keep "
             f"adding snapshot {s1} (superseder was {s2})")


def test_first_row_id_inheritance_skips_non_added_entries():
    """v3 positional first-row-id inheritance assigns slots only to
    ADDED entries: a DELETED or EXISTING entry with null first_row_id
    must not consume record_count from the run, or every subsequent
    file's inherited id shifts (ADVICE r11 #3)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        STATUS_ADDED,
        STATUS_DELETED,
        STATUS_EXISTING,
        _sift_entries,
    )

    def ent(status, path, n, seq=None, frid=None):
        e = {"status": status, "sequence_number": 1,
             "data_file": {"file_path": path, "file_format": "PARQUET",
                           "record_count": n, "first_row_id": frid}}
        return e

    meta = {"format-version": 3}
    entries = [
        ent(STATUS_DELETED, "d/dead.parquet", 100),     # no slot
        ent(STATUS_ADDED, "d/a.parquet", 10),
        ent(STATUS_EXISTING, "d/old.parquet", 50, frid=999),  # explicit
        ent(STATUS_ADDED, "d/b.parquet", 7),
    ]
    data, _, err = _sift_entries(0, entries, meta, None, None, True,
                                 mf_seq=1, mf_first_row_id=1000)
    assert err is None
    by_path = {d["file_path"]: d for d in data}
    assert by_path["d/a.parquet"]["first_row_id"] == 1000
    # b inherits 1000 + 10 (a's records) — NOT +100 for the DELETED
    # entry, NOT +50 for the explicitly-assigned EXISTING entry
    assert by_path["d/b.parquet"]["first_row_id"] == 1010
    assert by_path["d/old.parquet"]["first_row_id"] == 999


def test_v3_dv_compaction_folds_and_keeps(spark, tmp_path):
    """Compaction over a v3 DV table: DVs whose data file is rewritten
    fold into the outputs; DVs referencing kept (large) files survive
    verbatim; the post-compaction read is unchanged."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        write_iceberg_dv_deletes,
    )

    t = str(tmp_path / "v3c")
    small = [spark.range(i * 10, (i + 1) * 10).selectExpr(
        "id AS k", "CAST(id AS double) AS v") for i in range(3)]
    write_iceberg_table(spark, small, t)
    write_iceberg_dv_deletes(spark, t, "k % 4 = 1")
    expect = [k for k in range(30) if k % 4 != 1]
    assert _ks(read_iceberg_snapshot(spark, t)) == expect
    assert compact_iceberg_table(spark, t) is not None
    assert _ks(read_iceberg_snapshot(spark, t)) == expect


def test_v3_default_values_two_era_read(spark, ice):
    """v3 column defaults (VERDICT r10 #7): a field added with
    ``initial-default`` reads as the default for every file written
    BEFORE the field existed (footer-absent), and as the stored values
    for files written after; an unsupported default TYPE still rejects
    loudly."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
    )

    mdir = os.path.join(ice, "metadata")
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{cur}.metadata.json")))
    meta["format-version"] = 3
    meta["schemas"][0]["fields"].append(
        {"id": 99, "name": "flag", "required": False, "type": "int",
         "initial-default": 7, "write-default": 7})
    meta["last-column-id"] = max(int(meta.get("last-column-id", 0)), 99)
    with open(os.path.join(mdir, f"v{cur + 1}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(cur + 1))
    # era 2: files written WITH the column carry real values
    era2 = spark.range(100, 105).selectExpr(
        "id AS k", "CAST(id AS double) AS v", "CAST(id AS int) AS flag")
    append_iceberg(spark, era2, ice)
    got = {r.k: r.flag for r in
           read_iceberg_snapshot(spark, ice).collect()}
    assert all(got[k] == 7 for k in range(40))             # era-1 default
    assert all(got[k] == k for k in range(100, 105))       # era-2 stored
    # write-default: an append NOT supplying the column gets the
    # declared default written (not NULL) — era-3 files carry 7
    era3 = spark.range(200, 203).selectExpr(
        "id AS k", "CAST(id AS double) AS v")
    append_iceberg(spark, era3, ice)
    got3 = {r.k: r.flag for r in
            read_iceberg_snapshot(spark, ice).collect()}
    assert all(got3[k] == 7 for k in range(200, 203))
    # unsupported default type still rejects
    meta2 = json.load(open(os.path.join(
        mdir, f"v{cur + 1}.metadata.json")))
    meta2["schemas"][0]["fields"].append(
        {"id": 100, "name": "blob", "required": False, "type": "binary",
         "initial-default": "AAAA"})
    v2 = cur + 2
    while os.path.exists(os.path.join(mdir, f"v{v2}.metadata.json")):
        v2 += 1
    with open(os.path.join(mdir, f"v{v2}.metadata.json"), "w") as f:
        json.dump(meta2, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(v2))
    with pytest.raises(IcebergProtocolError, match="initial-default"):
        read_iceberg_snapshot(spark, ice)


def test_v3_row_lineage_backfill_append_and_dv_stability(spark, ice):
    """enable_iceberg_row_lineage: the backfill snapshot stamps explicit
    first_row_id ranges on every live file and sets next-row-id; appends
    claim fresh ranges; _row_id is unique, and DV deletes keep every
    survivor's id exactly where it was."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        enable_iceberg_row_lineage,
        read_iceberg_snapshot_with_row_ids,
        write_iceberg_dv_deletes,
    )

    with pytest.raises(IcebergProtocolError, match="first_row_id"):
        read_iceberg_snapshot_with_row_ids(spark, ice)
    enable_iceberg_row_lineage(spark, ice)
    meta = read_table_metadata(spark, ice)
    assert int(meta["format-version"]) == 3
    assert int(meta["next-row-id"]) == 40
    got = read_iceberg_snapshot_with_row_ids(spark, ice)
    ids = {r.k: r._row_id for r in got.collect()}
    assert len(ids) == 40 and sorted(ids.values()) == list(range(40))
    # append claims a fresh range above the counter
    c = spark.range(40, 52).selectExpr("id AS k", "CAST(id AS double) AS v")
    append_iceberg(spark, c, ice)
    meta = read_table_metadata(spark, ice)
    assert int(meta["next-row-id"]) == 52
    ids2 = {r.k: r._row_id for r in
            read_iceberg_snapshot_with_row_ids(spark, ice).collect()}
    assert len(ids2) == 52 and len(set(ids2.values())) == 52
    assert all(ids2[k] == v for k, v in ids.items())   # old ids stable
    # puffin DV delete: survivors keep their ids exactly
    write_iceberg_dv_deletes(spark, ice, "k % 6 = 1")
    ids3 = {r.k: r._row_id for r in
            read_iceberg_snapshot_with_row_ids(spark, ice).collect()}
    assert set(ids3) == {k for k in range(52) if k % 6 != 1}
    assert all(ids3[k] == ids2[k] for k in ids3)


# ---------------------------------------------------------------------------
# filesystem-faked REST catalog (VERDICT r10 #6)

def test_rest_catalog_append_and_conflict_retry(spark, ice):
    """FileRestCatalog speaks the REST commit contract offline: load ->
    stage -> commit with assert-ref-snapshot-id; a concurrent head move
    409s the stale commit and the client rebases cleanly; requirement
    mismatches surface as RestCommitConflict without touching state."""
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        RestBadRequest,
        RestCommitConflict,
        append_iceberg_via_catalog,
    )

    wh = os.path.join(os.path.dirname(ice), "wh")
    cat = FileRestCatalog(wh)
    cat.register_table("db", "events", ice)
    loaded = cat.load_table("db", "events")
    assert loaded["metadata"]["current-snapshot-id"] == 1001
    assert loaded["metadata-location"].endswith(".metadata.json")

    # plain catalog append
    df = spark.range(100, 110).selectExpr("id AS k",
                                          "CAST(id AS double) AS v")
    sid = append_iceberg_via_catalog(spark, df, cat, "db", "events")
    assert sid == 1002
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        list(range(40)) + list(range(100, 110))

    # requirement mismatch -> 409, nothing applied
    head = cat.load_table("db", "events")["metadata"]
    with pytest.raises(RestCommitConflict, match="is at"):
        cat.commit_table(
            "db", "events",
            requirements=[{"type": "assert-ref-snapshot-id",
                           "ref": "main", "snapshot-id": 999999}],
            updates=[{"action": "set-properties",
                      "updates": {"x": "1"}}])
    assert cat.load_table("db", "events")["metadata"] == head

    # conflict retry: a racer MOVES THE MAIN REF between the client's
    # load and its commit (a property-only racer cannot 409 the append
    # because commit_table re-reads the head before its O_EXCL create
    # — ADVICE r11 #1). The racer's snapshot reuses the head's
    # manifest-list, so content is unchanged; only the ref moves. The
    # stale append must raise RestCommitConflict at least once, reload,
    # rebase, and win.
    real_commit = cat.commit_table
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
                            int(head.get("last-updated-ms") or 0) + 1,
                        "sequence-number":
                            int(head.get("last-sequence-number") or 0)
                            + 1,
                        "manifest-list": cur_snap["manifest-list"],
                        "summary": {"operation": "append"}}},
                    {"action": "set-snapshot-ref", "ref-name": "main",
                     "type": "branch", "snapshot-id": rid},
                    {"action": "set-properties",
                     "updates": {"owner": "racer"}}])
        try:
            return real_commit(ns, name, requirements=requirements,
                               updates=updates)
        except RestCommitConflict:
            state["conflicts"] += 1
            raise

    cat.commit_table = racing_commit
    df2 = spark.range(200, 205).selectExpr("id AS k",
                                           "CAST(id AS double) AS v")
    sid2 = append_iceberg_via_catalog(spark, df2, cat, "db", "events")
    cat.commit_table = real_commit
    assert state["raced"]
    assert state["conflicts"] >= 1   # the append really lost a round
    meta = cat.load_table("db", "events")["metadata"]
    assert meta["current-snapshot-id"] == sid2
    assert meta["properties"]["owner"] == "racer"   # racer's commit kept
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        list(range(40)) + list(range(100, 110)) + list(range(200, 205))

    # unsupported requirement type -> 400 class
    with pytest.raises(RestBadRequest):
        cat.commit_table("db", "events",
                         requirements=[{"type": "assert-nonsense"}],
                         updates=[])

    # duplicate snapshot-id (replayed/buggy client) -> 409 class,
    # nothing applied (ADVICE r11 #4): a duplicate would corrupt
    # max()-based id allocation and _snapshot lookups
    head = cat.load_table("db", "events")["metadata"]
    dup = dict(head["snapshots"][-1])
    with pytest.raises(RestCommitConflict, match="already"):
        cat.commit_table(
            "db", "events", requirements=[],
            updates=[{"action": "add-snapshot", "snapshot": dup}])
    assert cat.load_table("db", "events")["metadata"] == head


def test_rest_catalog_wap_publish_flow(spark, ice):
    """WAP through the catalog: stage to an audit branch ref via
    set-snapshot-ref, validate by ref, publish by fast-forwarding main
    with an assert-ref-snapshot-id guard on the audited snapshot."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg, set_iceberg_ref,
    )
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
    )

    wh = os.path.join(os.path.dirname(ice), "whwap")
    cat = FileRestCatalog(wh)
    cat.register_table("db", "t", ice)
    base = cat.load_table("db", "t")["metadata"]["current-snapshot-id"]
    # audit branch + branch append ride the existing writer verbs
    set_iceberg_ref(spark, ice, "audit", "branch")
    df = spark.range(300, 305).selectExpr("id AS k",
                                          "CAST(id AS double) AS v")
    sid = append_iceberg(spark, df, ice, branch="audit")
    meta = cat.load_table("db", "t")["metadata"]
    assert meta["current-snapshot-id"] == base      # main frozen
    # publish: catalog commit fast-forwards main iff it hasn't moved
    cat.commit_table(
        "db", "t",
        requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                       "snapshot-id": base}],
        updates=[{"action": "set-snapshot-ref", "ref-name": "main",
                  "type": "branch", "snapshot-id": sid}])
    meta = cat.load_table("db", "t")["metadata"]
    assert meta["current-snapshot-id"] == sid
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        list(range(40)) + list(range(300, 305))


def test_v3_row_lineage_inheritance_without_backfill(spark, ice):
    """v3 row lineage INHERITANCE (SURVEY gap 2): a table whose data
    entries carry NULL first_row_id but whose manifest-list entries
    carry the manifest-level assignment reads stable _row_id values by
    positional inheritance — no backfill commit required."""
    from databricks_import_pyspark_scripts_spark.sources.avro_codec import (
        read_container, write_container,
    )
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _MANIFEST_FILE_SCHEMA,
        read_iceberg_snapshot_with_row_ids,
        read_table_metadata,
    )

    # without any assignment, the read refuses loudly
    with pytest.raises(IcebergProtocolError, match="first_row_id"):
        read_iceberg_snapshot_with_row_ids(spark, ice)

    # assign manifest-level first_row_id in the CURRENT manifest list
    # (what a v3 writer stamps at commit time), entries stay null
    meta = read_table_metadata(spark, ice)
    snap = [s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]][0]
    mlpath = snap["manifest-list"]
    _, manifests = read_container(open(mlpath, "rb").read())
    nxt = 0
    out = []
    for mf in manifests:
        mf = dict(mf)
        mf["first_row_id"] = nxt
        _, entries = read_container(open(mf["manifest_path"], "rb").read())
        nxt += sum(int((e.get("data_file") or {}).get("record_count") or 0)
                   for e in entries
                   if (e.get("data_file") or {}).get("first_row_id")
                   is None)
        out.append(mf)
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, out))

    got = {r.k: r._row_id for r in
           read_iceberg_snapshot_with_row_ids(spark, ice).collect()}
    ids = sorted(got.values())
    assert len(got) == 40 and ids == list(range(40))
    # ids are positional per manifest: k and _row_id align per era
    assert {got[k] for k in range(30)} == set(range(30))
    assert {got[k] for k in range(30, 40)} == set(range(30, 40))


def test_rest_catalog_two_concurrent_appenders_both_land(spark, ice):
    """TWO appenders race through the catalog CAS concurrently (real
    threads, same staging dirs): exactly one loses each commit round,
    rebases, and retries — both snapshots land, no rows lost, metadata
    versions strictly sequential."""
    from concurrent.futures import ThreadPoolExecutor

    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        append_iceberg_via_catalog,
    )

    wh = os.path.join(os.path.dirname(ice), "whrace")
    cat = FileRestCatalog(wh)
    cat.register_table("db", "race", ice)

    def appender(lo: int) -> int:
        df = spark.range(lo, lo + 7).selectExpr(
            "id AS k", "CAST(id AS double) AS v")
        return append_iceberg_via_catalog(spark, df, cat, "db", "race")

    with ThreadPoolExecutor(max_workers=2) as ex:
        sids = sorted(ex.map(appender, [500, 600]))
    assert len(set(sids)) == 2
    got = _ks(read_iceberg_snapshot(spark, ice))
    assert got == (list(range(40)) + list(range(500, 507))
                   + list(range(600, 607)))
    meta = cat.load_table("db", "race")["metadata"]
    assert meta["current-snapshot-id"] == max(sids)
    assert len(meta["snapshots"]) == 4        # 2 staged + 2 raced


def test_rest_catalog_load_during_commit_reads_old_head(spark, ice,
                                                        monkeypatch):
    """A second client loading the table while a commit is in flight
    sees the old head intact, never a created-but-unwritten
    ``v<N+1>.metadata.json``."""
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
    )

    wh = os.path.join(os.path.dirname(ice), "whtorn")
    FileRestCatalog(wh).register_table("db", "torn", ice)
    writer, reader = FileRestCatalog(wh), FileRestCatalog(wh)
    old = reader.load_table("db", "torn")
    seen = []
    real_dumps = json.dumps

    def dumps_and_load(obj, *a, **k):
        out = real_dumps(obj, *a, **k)
        if isinstance(obj, dict) and "snapshots" in obj and not seen:
            seen.append(reader.load_table("db", "torn"))
        return out

    monkeypatch.setattr(json, "dumps", dumps_and_load)
    res = writer.commit_table(
        "db", "torn",
        requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                       "snapshot-id": 1001}],
        updates=[{"action": "set-properties", "updates": {"x": "1"}}])
    monkeypatch.undo()
    assert seen == [old]
    assert res["metadata"]["properties"] == {"x": "1"}
    assert reader.load_table("db", "torn")["metadata-location"] == \
        res["metadata-location"]


# ---------------------------------------------------------------------------
# uuid/time column types (VERDICT r11 #6): spec logical values instead of
# loud rejection; bounds-based skipping stays superset-safe


def test_uuid_and_time_columns_read_and_skip(spark, tmp_path):
    """A table whose schema declares uuid + time columns reads as the
    spec's logical values (canonical lowercase string; micros-from-
    midnight long); manifest bounds on BOTH types decode, so files prune
    — and a junk uuid bound leaves its file unskippable (superset-safe),
    never wrongly pruned."""
    import uuid as uuid_mod

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _bound_value,
        _encode_bound,
        iceberg_column_range_filter,
        live_data_files,
        read_table_metadata,
    )

    t = str(tmp_path / "uuidtime")
    rows = [(i,
             str(uuid_mod.UUID(int=i * 7)),       # canonical, ordered
             i * 1_000_000_000)                   # micros from midnight
            for i in range(40)]
    parts = [spark.createDataFrame(rows[:20],
                                   "k long, u string, tm long").coalesce(1),
             spark.createDataFrame(rows[20:],
                                   "k long, u string, tm long").coalesce(1)]
    write_iceberg_table(spark, parts, t)

    # retype the schema fields to the Iceberg types Spark lacks
    mdir = os.path.join(t, "metadata")
    cur = int(open(os.path.join(mdir, "version-hint.text")).read())
    mp = os.path.join(mdir, f"v{cur}.metadata.json")
    meta = json.load(open(mp))
    for f in meta["schemas"][0]["fields"]:
        if f["name"] == "u":
            f["type"] = "uuid"
        elif f["name"] == "tm":
            f["type"] = "time"
    json.dump(meta, open(mp, "w"))

    got = read_iceberg_snapshot(spark, t)
    assert dict(got.dtypes)["u"] == "string"
    assert dict(got.dtypes)["tm"] == "bigint"
    by_k = {r.k: (r.u, r.tm) for r in got.collect()}
    assert by_k[3] == (str(uuid_mod.UUID(int=21)), 3_000_000_000)
    assert len(by_k) == 40

    # single-value serialization round-trips for both types
    u = "0f0e0d0c-0b0a-0908-0706-050403020100"
    assert _bound_value(_encode_bound(u, "uuid"), "uuid") == u
    assert _bound_value(_encode_bound(12345, "time"), "time") == 12345
    assert _bound_value(b"short", "uuid") is None      # junk -> unskippable

    # bounds written from the long/string footers don't decode under the
    # RETYPED schema unless the codec handles uuid/time — verify skipping
    # still works on the time column and stays superset-safe on uuid
    meta2 = read_table_metadata(spark, t)
    all_files = live_data_files(spark, t, meta2)
    assert len(all_files) == 2
    # time bounds: file 1 covers tm [0, 19e9], file 2 [20e9, 39e9]
    kept = live_data_files(
        spark, t, meta2,
        stats_filter=iceberg_column_range_filter(
            "tm", 25_000_000_000, 30_000_000_000))
    assert len(kept) == 1
    # files 1-2 carry STRING-encoded uuid bounds (written before the
    # retype): undecodable as uuid -> unskippable, never wrongly pruned.
    # An append AFTER the retype encodes spec bounds (16-byte big-endian
    # from the canonical string), so ITS file prunes: canonical-hex
    # string order == byte order, and a <= uuid(int=133) range proves
    # the appended file (ints 280..413) dead while both legacy files
    # stay (superset-safe).
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
    )

    extra = spark.createDataFrame(
        [(i, str(uuid_mod.UUID(int=i * 7)), i * 1_000_000_000)
         for i in range(40, 60)], "k long, u string, tm long").coalesce(1)
    append_iceberg(spark, extra, t)
    assert read_iceberg_snapshot(spark, t).count() == 60
    rows_back = read_iceberg_snapshot(
        spark, t,
        stats_filter=iceberg_column_range_filter(
            "u", None, str(uuid_mod.UUID(int=133))))
    assert sorted(r.k for r in rows_back.collect()) == list(range(40))


# ---------------------------------------------------------------------------
# puffin golden bytes (VERDICT r11 #7, offline form): the reader checked
# against a HAND-ASSEMBLED spec-layout file (independent of the writer),
# and the writer pinned byte-for-byte against a frozen golden


def _hand_built_puffin_dv() -> bytes:
    """A puffin file assembled IN THE TEST from the published specs only
    — every framing byte packed from literals, no project code: one
    deletion-vector-v1 blob whose RoaringBitmapArray marks positions
    {1, 3} (portable 64-bit layout: magic 1681511377, one 32-bit bitmap,
    no-run cookie 12346, one array container with an offsets header)."""
    import struct as s

    rb = (s.pack("<iq", 1681511377, 1)         # array magic, n_bitmaps
          + s.pack("<II", 12346, 1)            # no-run cookie, n_keys
          + s.pack("<HH", 0, 1)                # key 0, cardinality-1
          + s.pack("<I", 16)                   # container offset
          + s.pack("<HH", 1, 3))               # array container {1, 3}
    footer = (b'{"blobs": [{"type": "deletion-vector-v1", "properties": '
              b'{"referenced-data-file": "data/f1.parquet", '
              b'"cardinality": "2"}, "fields": [], "offset": 4, '
              b'"length": 32}], "properties": {}}')
    return (b"PFA1" + rb                       # magic | blob
            + b"PFA1" + footer                 # magic | footer payload
            + s.pack("<i", len(footer))        # payload size (LE)
            + b"\x00\x00\x00\x00"              # flags: uncompressed
            + b"PFA1")                         # trailing magic


# frozen output of write_puffin_file + serialize_bitmap_array for the
# same blob — regenerate ONLY for a deliberate, documented layout change
_PUFFIN_GOLDEN_HEX = (
    "50464131d1d3396401000000000000003a3000000100000000000100100000000100"
    "0300504641317b22626c6f6273223a205b7b2274797065223a202264656c6574696f"
    "6e2d766563746f722d7631222c202270726f70657274696573223a207b2272656665"
    "72656e6365642d646174612d66696c65223a2022646174612f66312e706172717565"
    "74222c202263617264696e616c697479223a202232227d2c20226669656c6473223a"
    "205b5d2c20226f6666736574223a20342c20226c656e677468223a2033327d5d2c20"
    "2270726f70657274696573223a207b7d7db50000000000000050464131")


def test_puffin_reader_accepts_hand_assembled_spec_file():
    """The reader must decode a file built straight from the puffin +
    roaring specs with no project writer involved — the closest offline
    stand-in for a foreign-engine (Apache Iceberg) produced file."""
    from databricks_import_pyspark_scripts_spark.sources import delta_dv
    from databricks_import_pyspark_scripts_spark.sources.puffin import (
        read_puffin_blob,
        read_puffin_footer,
    )

    raw = _hand_built_puffin_dv()
    footer = read_puffin_footer(raw)
    (d,) = footer["blobs"]
    assert d["type"] == "deletion-vector-v1"
    assert d["properties"]["referenced-data-file"] == "data/f1.parquet"
    blob = read_puffin_blob(raw, d["offset"], d["length"])
    assert list(delta_dv.deserialize_bitmap_array(blob)) == [1, 3]


def test_puffin_writer_matches_frozen_golden_bytes(tmp_path):
    """Byte-for-byte regression pin: the writer's output for a fixed DV
    blob is frozen. A layout drift (framing, flags, footer shape, blob
    encoding) fails here before it can corrupt interop; the hand-built
    spec file above must ALSO decode identically, tying the golden to
    the spec rather than to the writer."""
    import os as _os

    from databricks_import_pyspark_scripts_spark.sources import delta_dv
    from databricks_import_pyspark_scripts_spark.sources.puffin import (
        write_puffin_file,
    )

    p = str(tmp_path / "g.puffin")
    write_puffin_file(p, [{
        "type": "deletion-vector-v1",
        "data": delta_dv.serialize_bitmap_array([1, 3]),
        "properties": {"referenced-data-file": "data/f1.parquet",
                       "cardinality": "2"}}])
    raw = open(p, "rb").read()
    assert raw.hex() == _PUFFIN_GOLDEN_HEX
    _os.remove(p)
    # the hand-assembled spec file and the writer agree on every byte
    # except JSON key order artifacts — here they are constructed to
    # agree EXACTLY, so the golden is spec-anchored
    assert _hand_built_puffin_dv().hex() == _PUFFIN_GOLDEN_HEX


# ---------------------------------------------------------------------------
# first-class UPDATE (iceberg_update_where): delete-old + add-new in ONE
# atomic snapshot


def test_iceberg_update_where_single_snapshot_and_semantics(spark,
                                                            tmp_path):
    """UPDATE SET v = v + 100 WHERE pred: exactly ONE new snapshot holds
    both the row deletes and the post-image rows; unmatched rows are
    byte-identical; time travel still serves the pre-update state; a
    self-referential predicate binds to PRE-update values; no match ->
    no commit."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_snapshot_ids,
        iceberg_update_where,
    )

    t = str(tmp_path / "upd")
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(2)], t)

    n0 = len(iceberg_snapshot_ids(spark, t))
    s1 = iceberg_update_where(spark, t, "k % 3 = 0", {"v": "v + 100"})
    assert len(iceberg_snapshot_ids(spark, t)) == n0 + 1   # atomic
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    assert got == {k: float(k) + (100 if k % 3 == 0 else 0)
                   for k in range(30)}

    # time travel: the pre-update snapshot is intact
    pre = {r.k: r.v for r in read_iceberg_snapshot(
        spark, t, snapshot_id=1000).collect()}
    assert pre == {k: float(k) for k in range(30)}

    # self-referential: v in both SET and WHERE binds to pre-update
    iceberg_update_where(spark, t, "v <= 4", {"v": "v + 1000"})
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    # pre-state: v(k) = k + (100 if k%3==0); v<=4 -> k in {1,2,4}
    expect = {}
    for k in range(30):
        v = float(k) + (100 if k % 3 == 0 else 0)
        expect[k] = v + 1000 if v <= 4 else v
    assert got == expect

    # no match -> no commit
    n1 = len(iceberg_snapshot_ids(spark, t))
    assert iceberg_update_where(spark, t, "k < 0", {"v": "0.0"}) > 0
    assert len(iceberg_snapshot_ids(spark, t)) == n1

    # bad SET column rejects loudly
    with pytest.raises(ValueError, match="absent"):
        iceberg_update_where(spark, t, "k = 1", {"nope": "1"})


def test_iceberg_update_where_dv_mode_and_one_dv_per_file(spark,
                                                          tmp_path):
    """mode='dv' upgrades to v3 and stores the update's row deletes as
    deletion vectors; a second update touching the same files UNIONS
    into one DV per file (the v3 invariant); compaction afterwards
    folds everything with no resurrection."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        compact_iceberg_table,
        iceberg_update_where,
        live_data_files,
        read_table_metadata,
    )

    t = str(tmp_path / "upddv")
    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)

    iceberg_update_where(spark, t, "k % 4 = 1", {"v": "v * 10"},
                         mode="dv")
    assert int(read_table_metadata(spark, t)["format-version"]) == 3
    iceberg_update_where(spark, t, "k % 4 = 2", {"v": "v * 100"},
                         mode="dv")

    def state():
        return {r.k: r.v for r in
                read_iceberg_snapshot(spark, t).collect()}

    expect = {k: float(k) * (10 if k % 4 == 1 else
                             100 if k % 4 == 2 else 1)
              for k in range(40)}
    assert state() == expect

    deletes: list[dict] = []
    live_data_files(spark, t, read_table_metadata(spark, t),
                    None, deletes_out=deletes)
    dv_refs = [d["referenced_data_file"] for d in deletes
               if d.get("content_offset") is not None]
    assert len(dv_refs) == len(set(dv_refs))   # one live DV per file

    assert compact_iceberg_table(spark, t) is not None
    assert state() == expect


def test_iceberg_update_where_partitioned_and_race(spark, tmp_path,
                                                   monkeypatch):
    """Post-image rows of a PARTITIONED table land in correct partition
    slices (manifest partition values match the rows), and a lost
    metadata CAS rebases: re-derive + retry, final state exact."""
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_update_where,
        live_data_files,
        read_table_metadata,
    )

    t = str(tmp_path / "updpart")
    df = spark.range(0, 30).selectExpr("id AS k", "id % 3 AS g",
                                       "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t, partition_by=["g"])

    real = delta_writer._atomic_create
    state = {"failed": False}

    def flaky(spark_, path, payload):
        if not state["failed"] and "metadata.json" in path:
            state["failed"] = True
            return False
        return real(spark_, path, payload)

    monkeypatch.setattr(delta_writer, "_atomic_create", flaky)
    iceberg_update_where(spark, t, "g = 1", {"v": "v + 0.5"})
    assert state["failed"]
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    assert got == {k: float(k) + (0.5 if k % 3 == 1 else 0)
                   for k in range(30)}
    # partition pruning still correct: only g=1 files carry updated rows
    meta = read_table_metadata(spark, t)
    g1 = read_iceberg_snapshot(
        spark, t, partition_filter=lambda part: part.get("g") == 1)
    assert sorted(r.k for r in g1.collect()) == \
        [k for k in range(30) if k % 3 == 1]


def test_iceberg_merge_into_three_clauses_one_commit(spark, tmp_path):
    """MERGE with all three clauses lands as ONE snapshot: matched-delete
    wins over update (clause order), updates bind t./s. sides, inserts
    carry source rows, untouched rows stay byte-identical, time travel
    serves the pre-merge state, and a duplicate-match source rejects."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_merge_into,
        iceberg_snapshot_ids,
    )

    t = str(tmp_path / "mrg")
    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(2)], t)

    src = spark.createDataFrame(
        [(5, 0.5), (10, 1.0), (15, 1.5), (20, 2.0), (25, 2.5)],
        "k long, v double")
    n0 = len(iceberg_snapshot_ids(spark, t))
    iceberg_merge_into(
        spark, t, src, ["k"],
        when_matched_update={"v": "t.v + s.v"},
        when_matched_delete="t.k = 10",
        when_not_matched_insert=True)
    assert len(iceberg_snapshot_ids(spark, t)) == n0 + 1   # atomic

    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    expect = {k: float(k) for k in range(20) if k != 10}
    expect[5] = 5.5
    expect[15] = 16.5
    expect[20] = 2.0
    expect[25] = 2.5
    assert got == expect

    pre = {r.k: r.v for r in read_iceberg_snapshot(
        spark, t, snapshot_id=1000).collect()}
    assert pre == {k: float(k) for k in range(20)}

    # duplicate source match -> loud rejection, nothing committed
    dup = spark.createDataFrame([(5, 1.0), (5, 2.0)], "k long, v double")
    n1 = len(iceberg_snapshot_ids(spark, t))
    with pytest.raises(ValueError, match="multiple source rows"):
        iceberg_merge_into(spark, t, dup, ["k"],
                           when_matched_update={"v": "s.v"})
    assert len(iceberg_snapshot_ids(spark, t)) == n1

    # nothing matched, nothing to insert -> no commit
    empty = spark.createDataFrame([], "k long, v double")
    iceberg_merge_into(spark, t, empty, ["k"],
                       when_matched_update={"v": "s.v"})
    assert len(iceberg_snapshot_ids(spark, t)) == n1


def test_iceberg_merge_into_pure_insert_and_dv_mode(spark, tmp_path):
    """A merge with no matches commits a data-only snapshot (no empty
    delete manifest); dv mode stores matched deletes as deletion vectors
    and upgrades to v3; compaction after the merge folds everything."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _snapshot,
        compact_iceberg_table,
        iceberg_merge_into,
        read_table_metadata,
    )

    t = str(tmp_path / "mrgdv")
    df = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df], t)

    # pure insert
    ins = spark.createDataFrame([(100, 1.0), (101, 2.0)],
                                "k long, v double")
    iceberg_merge_into(spark, t, ins, ["k"])
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        list(range(10)) + [100, 101]
    meta = read_table_metadata(spark, t)
    _, manifests = read_container(open(_snapshot(
        meta, None)["manifest-list"], "rb").read())
    assert all(int(m.get("content") or 0) == 0 for m in manifests), \
        "pure-insert merge must not write a delete manifest"

    # upsert in dv mode
    up = spark.createDataFrame([(3, 30.0), (100, 0.0), (200, 9.0)],
                               "k long, v double")
    iceberg_merge_into(spark, t, up, ["k"],
                       when_matched_update={"v": "s.v"}, mode="dv")
    assert int(read_table_metadata(spark, t)["format-version"]) == 3
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    expect = {k: float(k) for k in range(10)}
    expect[3], expect[100], expect[101], expect[200] = 30.0, 0.0, 2.0, 9.0
    assert got == expect

    assert compact_iceberg_table(spark, t) is not None
    assert {r.k: r.v for r in
            read_iceberg_snapshot(spark, t).collect()} == expect


def _merge_fixture(spark, t):
    """200 rows in 8 files, one key range per file, and a source that
    updates keys 0, 4 and 8 (all in the first file) and inserts 300 and
    301."""
    from databricks_import_pyspark_scripts_spark.session import local_frame

    df = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartitionByRange(8, "k")], t)
    return local_frame(
        spark, [(0, 100.0), (4, 100.0), (8, 100.0), (300, 1.0), (301, 2.0)],
        "k long, v double")


def test_iceberg_merge_job_budget(spark, tmp_path):
    """An update-plus-insert Iceberg merge runs one probe over the target
    and one join over the touched file, shared by the data write and the
    position-delete write. Measured on this fixture: the earlier merge
    (a duplicate probe, emptiness probes on the dead positions and the
    new rows, and a full-table anti-join for the inserts) ran 17 jobs;
    the two-pass merge runs 11."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_merge_into,
    )

    t = str(tmp_path / "budget")
    src = _merge_fixture(spark, t)
    sc = spark.sparkContext
    sc.setJobGroup("test-iceberg-merge-job-budget", "iceberg merge budget")
    try:
        iceberg_merge_into(spark, t, src, ["k"],
                           when_matched_update={"v": "t.v + s.v"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(
        "test-iceberg-merge-job-budget")
    assert 0 < len(jobs) <= 12
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    assert len(got) == 202
    assert (got[0], got[4], got[300]) == (100.0, 104.0, 1.0)


def test_iceberg_merge_inserts_scan_only_hit_files(spark, tmp_path,
                                                   monkeypatch):
    """The rows a merge stages (post-images and inserts) are planned over
    the one file a source key hits: no scan in their plan reads any of
    the other seven live files, so the inserts never anti-join the whole
    table."""
    from databricks_import_pyspark_scripts_spark.sources import iceberg

    t = str(tmp_path / "hit")
    src = _merge_fixture(spark, t)
    plans = []
    real = iceberg._stage_commit

    def spy(spark_, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(spark_, df, *args, **kwargs)

    monkeypatch.setattr(iceberg, "_stage_commit", spy)
    iceberg.iceberg_merge_into(spark, t, src, ["k"],
                               when_matched_update={"v": "t.v + s.v"})
    (plan,) = plans
    scanned = [int(n) for n in re.findall(r"InMemoryFileIndex\((\d+) paths",
                                          plan)]
    assert scanned and set(scanned) == {1}


def test_iceberg_merge_releases_cached_join(spark, tmp_path, monkeypatch):
    """The join an Iceberg merge stages from is persisted only for the
    attempt: nothing stays persisted after a commit, after a merge that
    raises once the join is cached, or after an attempt that loses the
    commit race and re-derives."""
    from databricks_import_pyspark_scripts_spark.operators.lineage import (
        persistent_rdd_ids,
    )
    from databricks_import_pyspark_scripts_spark.sources import iceberg

    t = str(tmp_path / "rel")
    src = _merge_fixture(spark, t)
    before = persistent_rdd_ids(spark)
    iceberg.iceberg_merge_into(spark, t, src, ["k"],
                               when_matched_update={"v": "t.v + s.v"})
    assert persistent_rdd_ids(spark) == before

    with pytest.raises(Exception, match="merge-staging-boom"):
        iceberg.iceberg_merge_into(
            spark, t, src, ["k"],
            when_matched_update={
                "v": "IF(s.v > 0, raise_error('merge-staging-boom'), t.v)"})
    assert persistent_rdd_ids(spark) == before

    real = iceberg._commit_delete_snapshot
    state = {"lost": 0}

    def lose_once(*args, **kwargs):
        if not state["lost"]:
            state["lost"] += 1
            raise iceberg.IcebergCommitConflict("lost the race")
        return real(*args, **kwargs)

    monkeypatch.setattr(iceberg, "_commit_delete_snapshot", lose_once)
    iceberg.iceberg_merge_into(spark, t, src, ["k"],
                               when_matched_update={"v": "t.v + s.v"})
    assert state["lost"] == 1
    assert persistent_rdd_ids(spark) == before
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, t).collect()}
    assert (got[0], got[4], got[300]) == (200.0, 204.0, 2.0)


def test_expire_after_dml_keeps_live_delete_files(spark, tmp_path):
    """Snapshot expiration over a DML history: the puffin DV and the
    update's post-image files are referenced by the CURRENT snapshot, so
    expiring every older snapshot must not delete them — the read after
    expire is unchanged and nothing resurrects."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        expire_iceberg_snapshots,
        iceberg_delete_where,
        iceberg_snapshot_ids,
        iceberg_update_where,
    )

    t = str(tmp_path / "expdml")
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)
    iceberg_delete_where(spark, t, "k % 5 = 0", mode="dv")
    iceberg_update_where(spark, t, "k % 7 = 1", {"v": "v + 100"})

    expect = {k: float(k) + (100 if k % 7 == 1 else 0)
              for k in range(30) if k % 5 != 0}
    assert {r.k: r.v for r in
            read_iceberg_snapshot(spark, t).collect()} == expect

    rep = expire_iceberg_snapshots(spark, t, keep_last=1)
    assert len(rep["expired"]) == 2
    assert len(iceberg_snapshot_ids(spark, t)) == 1
    # live DV puffin + post-image files survived; dead rows stay dead
    assert {r.k: r.v for r in
            read_iceberg_snapshot(spark, t).collect()} == expect
    ddir = os.path.join(t, "data")
    assert any(n.endswith(".puffin") for n in os.listdir(ddir)), \
        "live deletion vector was deleted by expire"


def test_rest_catalog_delete_where(spark, ice):
    """Row-level DELETE THROUGH the catalog protocol: position deletes
    commit via CommitTableRequest; a ref-moving racer forces a 409 and
    the delete re-derives and rebases; dv mode rides an
    upgrade-format-version update; no-match commits nothing."""
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        delete_where_via_catalog,
    )

    wh = os.path.join(os.path.dirname(ice), "whdel")
    cat = FileRestCatalog(wh)
    cat.register_table("db", "t", ice)

    sid = delete_where_via_catalog(spark, cat, "db", "t", "k % 4 = 0")
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        [k for k in range(40) if k % 4 != 0]
    assert cat.load_table("db", "t")["metadata"][
        "current-snapshot-id"] == sid

    # no match -> no commit
    assert delete_where_via_catalog(spark, cat, "db", "t",
                                    "k < 0") == sid

    # racer moves main between load and commit -> 409 -> re-derive
    real_commit = cat.commit_table
    state = {"raced": False, "conflicts": 0}

    def racing_commit(ns, name, requirements, updates):
        from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
            RestCommitConflict,
        )

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
                            int(head.get("last-updated-ms") or 0) + 1,
                        "sequence-number":
                            int(head.get("last-sequence-number") or 0)
                            + 1,
                        "manifest-list": cur_snap["manifest-list"],
                        "summary": {"operation": "append"}}},
                    {"action": "set-snapshot-ref", "ref-name": "main",
                     "type": "branch", "snapshot-id": rid}])
        try:
            return real_commit(ns, name, requirements=requirements,
                               updates=updates)
        except RestCommitConflict:
            state["conflicts"] += 1
            raise

    cat.commit_table = racing_commit
    delete_where_via_catalog(spark, cat, "db", "t", "k % 4 = 1",
                             mode="dv")
    cat.commit_table = real_commit
    assert state["raced"] and state["conflicts"] >= 1
    meta = cat.load_table("db", "t")["metadata"]
    assert int(meta["format-version"]) == 3    # dv rode the upgrade
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        [k for k in range(40) if k % 4 not in (0, 1)]

    # and once v3, a 'position' request auto-upgrades to DVs
    delete_where_via_catalog(spark, cat, "db", "t", "k % 4 = 2",
                             mode="position")
    assert _ks(read_iceberg_snapshot(spark, ice)) == \
        [k for k in range(40) if k % 4 == 3]


def test_rest_catalog_update_where(spark, ice):
    """UPDATE through the catalog protocol: one CommitTableRequest
    snapshot carries the matched rows' deletes AND post-images; SET
    binds to pre-update values; a second DV-mode update rides the v3
    upgrade; no match -> no commit."""
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        update_where_via_catalog,
    )

    wh = os.path.join(os.path.dirname(ice), "whupd")
    cat = FileRestCatalog(wh)
    cat.register_table("db", "t", ice)

    base = cat.load_table("db", "t")["metadata"]["current-snapshot-id"]
    sid = update_where_via_catalog(spark, cat, "db", "t", "k % 4 = 0",
                                   {"v": "v + 100"})
    meta = cat.load_table("db", "t")["metadata"]
    assert meta["current-snapshot-id"] == sid != base
    assert len(meta["snapshots"]) == 3          # 2 base + 1 update
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, ice).collect()}
    assert got == {k: float(k) + (100 if k % 4 == 0 else 0)
                   for k in range(40)}

    # DV mode: v3 upgrade rides the same commit
    update_where_via_catalog(spark, cat, "db", "t", "v <= 2",
                             {"v": "v + 1000"}, mode="dv")
    meta = cat.load_table("db", "t")["metadata"]
    assert int(meta["format-version"]) == 3
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, ice).collect()}
    expect = {}
    for k in range(40):
        v = float(k) + (100 if k % 4 == 0 else 0)
        expect[k] = v + 1000 if v <= 2 else v   # pre-update binding
    assert got == expect

    # no match -> no commit
    n = len(meta["snapshots"])
    update_where_via_catalog(spark, cat, "db", "t", "k < 0",
                             {"v": "0.0"})
    assert len(cat.load_table("db", "t")["metadata"]["snapshots"]) == n


def test_position_delete_staging_multi_file(spark, tmp_path):
    """_position_delete_entries_distributed with num_files > 1: several
    delete parquets, EACH internally sorted (file_path asc, pos asc —
    the v2 spec's required order), all rows covered exactly once, and a
    commit built from the multi-file entries reads correctly."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _PROV_F,
        _PROV_P,
        _commit_delete_snapshot,
        _position_delete_entries_distributed,
        _provenance_scan,
        read_table_metadata,
    )

    t = str(tmp_path / "multi")
    df = spark.range(0, 90).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.repartition(4)], t)
    meta = read_table_metadata(spark, t)
    cur, _, _ = _provenance_scan(spark, t, meta, "test")
    pos_df = cur.filter("k % 3 = 0").select(_PROV_F, _PROV_P)
    entries = _position_delete_entries_distributed(
        spark, t, pos_df, "mf", num_files=3)
    assert 1 <= len(entries) <= 3
    assert sum(e["data_file"]["record_count"] for e in entries) == 30
    for e in entries:
        tb = pq.read_table(e["data_file"]["file_path"])
        rows = list(zip(tb.column("file_path").to_pylist(),
                        tb.column("pos").to_pylist()))
        assert rows == sorted(rows)            # spec sort order per file
        assert e["data_file"]["file_size_in_bytes"] > 0
    _commit_delete_snapshot(
        spark, t, entries, "delete",
        scanned_snapshot_id=int(meta["current-snapshot-id"]))
    assert _ks(read_iceberg_snapshot(spark, t)) == \
        [k for k in range(90) if k % 3 != 0]


def test_rest_catalog_merge_into(spark, ice):
    """MERGE INTO through the catalog protocol (VERDICT r12 #5): all
    three clauses in ONE CommitTableRequest snapshot; matched-delete
    wins over update; a ref-moving racer forces a 409 and the merge
    RE-DERIVES against the new head; pure-insert merges commit no
    delete manifest; empty source -> no commit."""
    from databricks_import_pyspark_scripts_spark.sources.avro_codec import (
        read_container as _rc,
    )
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        RestCommitConflict,
        merge_into_via_catalog,
    )

    wh = os.path.join(os.path.dirname(ice), "whmrg")
    cat = FileRestCatalog(wh)
    cat.register_table("db", "t", ice)

    src = spark.createDataFrame(
        [(0, 1000.0), (4, 1004.0), (8, 1008.0), (100, 100.0),
         (101, 101.0)], "k long, v double")
    sid = merge_into_via_catalog(
        spark, cat, "db", "t", src, on=["k"],
        when_matched_update={"v": "s.v"},
        when_matched_delete="s.k = 8",
        when_not_matched_insert=True)
    meta = cat.load_table("db", "t")["metadata"]
    assert meta["current-snapshot-id"] == sid
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, ice).collect()}
    expect = {k: float(k) for k in range(40)}
    expect.update({0: 1000.0, 4: 1004.0, 100: 100.0, 101: 101.0})
    del expect[8]
    assert got == expect

    # racer moves main between load and commit -> 409 -> re-derive
    real_commit = cat.commit_table
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
                            int(head.get("last-updated-ms") or 0) + 1,
                        "sequence-number":
                            int(head.get("last-sequence-number") or 0)
                            + 1,
                        "manifest-list": cur_snap["manifest-list"],
                        "summary": {"operation": "append"}}},
                    {"action": "set-snapshot-ref", "ref-name": "main",
                     "type": "branch", "snapshot-id": rid}])
        try:
            return real_commit(ns, name, requirements=requirements,
                               updates=updates)
        except RestCommitConflict:
            state["conflicts"] += 1
            raise

    cat.commit_table = racing_commit
    src2 = spark.createDataFrame([(1, 2001.0), (3, 2003.0)],
                                 "k long, v double")
    merge_into_via_catalog(spark, cat, "db", "t", src2, on=["k"],
                           when_matched_update={"v": "s.v"},
                           when_not_matched_insert=False, mode="dv")
    cat.commit_table = real_commit
    assert state["raced"] and state["conflicts"] >= 1
    meta = cat.load_table("db", "t")["metadata"]
    assert int(meta["format-version"]) == 3     # dv rode the upgrade
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, ice).collect()}
    assert got[1] == 2001.0 and got[3] == 2003.0

    # pure-insert merge: no delete manifest in the committed snapshot
    n_before = len(meta["snapshots"])
    src3 = spark.createDataFrame([(200, 2.0), (201, 3.0)],
                                 "k long, v double")
    merge_into_via_catalog(spark, cat, "db", "t", src3, on=["k"],
                           when_matched_update={"v": "s.v"},
                           when_not_matched_insert=True)
    meta = cat.load_table("db", "t")["metadata"]
    assert len(meta["snapshots"]) == n_before + 1
    head_snap = next(s for s in meta["snapshots"]
                     if int(s["snapshot-id"])
                     == int(meta["current-snapshot-id"]))
    _, manifests = _rc(open(head_snap["manifest-list"], "rb").read())
    assert all(int(m.get("content") or 0) != 1
               or int(m["added_snapshot_id"])
               != int(meta["current-snapshot-id"])
               for m in manifests), "pure-insert merge wrote deletes"
    got = {r.k: r.v for r in read_iceberg_snapshot(spark, ice).collect()}
    assert got[200] == 2.0 and got[201] == 3.0

    # empty source -> no commit
    n = len(meta["snapshots"])
    empty = spark.createDataFrame([], "k long, v double")
    merge_into_via_catalog(spark, cat, "db", "t", empty, on=["k"],
                           when_matched_update={"v": "s.v"})
    assert len(cat.load_table("db", "t")["metadata"]["snapshots"]) == n


def test_dv_entries_distributed_builds_executor_side(spark, tmp_path):
    """The distributed DV builder: a doomed-position frame spread over
    many partitions reduces to ONE (path, blob, cardinality) row per
    affected file via grouped Arrow build — prior DVs union in, the
    superseded key set is exact, and the written puffin decodes to the
    precise position set."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import (
        delta_dv,
        puffin,
    )
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _PROV_F,
        _PROV_P,
        _dv_delete_entries_distributed,
        read_table_metadata,
        write_iceberg_dv_deletes,
    )

    t = str(tmp_path / "dvd")
    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)
    # a prior DV on the single data file (positions 0,1)
    write_iceberg_dv_deletes(spark, t, "k IN (0, 1)")
    meta = read_table_metadata(spark, t)
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        live_data_files,
    )

    deletes: list[dict] = []
    (fobj,) = live_data_files(spark, t, meta, None, deletes_out=deletes)
    fpath = fobj["file_path"]

    # doomed positions 5..14 of that file, deliberately spread over 50
    # partitions — the builder must still return ONE entry
    pos = (spark.range(5, 15)
           .select(F.lit("file:" + fpath).alias(_PROV_F),
                   F.col("id").alias(_PROV_P))
           .repartition(50))
    entries, superseded = _dv_delete_entries_distributed(
        spark, t, t, meta, pos, deletes, "t1")
    assert len(entries) == 1
    e = entries[0]["data_file"]
    assert e["record_count"] == 12        # {0,1} unioned with 5..14
    assert len(superseded) == 1           # the prior DV retires
    blob = puffin.read_puffin_blob(
        open(e["file_path"], "rb").read(),
        int(e["content_offset"]), int(e["content_size_in_bytes"]))
    assert list(delta_dv.deserialize_bitmap_array(blob)) == \
        [0, 1] + list(range(5, 15))


def test_catalog_dml_emits_spec_first_row_id(spark, tmp_path):
    """ADVICE r12 #5: catalog DML carries the v3 SPEC's wire shape —
    the snapshot's ``first-row-id`` plus summary ``added-records`` —
    and the SERVER computes next-row-id = first-row-id + added rows
    (a real REST catalog ignores any client-side next-row-id). The
    custom key remains only as a fallback for snapshots that predate
    first-row-id."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        enable_iceberg_row_lineage,
        read_table_metadata,
    )
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
        update_where_via_catalog,
    )

    t = str(tmp_path / "rlcat")
    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)
    enable_iceberg_row_lineage(spark, t)
    hwm = int(read_table_metadata(spark, t)["next-row-id"])

    cat = FileRestCatalog(str(tmp_path / "wh"))
    cat.register_table("db", "t", t)
    sid = update_where_via_catalog(spark, cat, "db", "t", "k % 4 = 2",
                                   {"v": "v + 100"})
    meta = cat.load_table("db", "t")["metadata"]
    head = next(s for s in meta["snapshots"]
                if int(s["snapshot-id"]) == sid)
    assert int(head["first-row-id"]) == hwm
    assert int(head["summary"]["added-records"]) == 5
    assert int(meta["next-row-id"]) == hwm + 5

    # server-side computation: a spec-pure client sending ONLY
    # first-row-id + added-records (no custom next-row-id) still
    # advances the table counter
    cur = meta["current-snapshot-id"]
    cur_snap = next(s for s in meta["snapshots"]
                    if int(s["snapshot-id"]) == int(cur))
    rid = max(int(s["snapshot-id"]) for s in meta["snapshots"]) + 1
    cat.commit_table(
        "db", "t",
        requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                       "snapshot-id": cur}],
        updates=[
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": rid,
                "timestamp-ms": int(meta["last-updated-ms"]) + 1,
                "sequence-number":
                    int(meta["last-sequence-number"]) + 1,
                "manifest-list": cur_snap["manifest-list"],
                "first-row-id": hwm + 5,
                "summary": {"operation": "append",
                            "added-records": "7"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": rid}])
    meta = cat.load_table("db", "t")["metadata"]
    assert int(meta["next-row-id"]) == hwm + 12

    # ADVICE r13 #4 (1): a first-row-id BELOW the table's next-row-id
    # would hand out overlapping row-lineage ranges — rejected
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        RestBadRequest,
    )

    cur = meta["current-snapshot-id"]
    with pytest.raises(RestBadRequest, match="below the table's"):
        cat.commit_table(
            "db", "t",
            requirements=[{"type": "assert-ref-snapshot-id",
                           "ref": "main", "snapshot-id": cur}],
            updates=[{"action": "add-snapshot", "snapshot": {
                "snapshot-id": rid + 1,
                "timestamp-ms": int(meta["last-updated-ms"]) + 1,
                "sequence-number":
                    int(meta["last-sequence-number"]) + 1,
                "manifest-list": cur_snap["manifest-list"],
                "first-row-id": hwm,          # < next-row-id hwm+12
                "summary": {"operation": "append",
                            "added-records": "3"}}}])

    # ADVICE r13 #4 (2): the server verifies against the snapshot's
    # ACTUAL manifest counts — the DML head's own manifest list sums
    # to its real added rows, not whatever the summary claims
    head_dml = next(s for s in meta["snapshots"]
                    if int(s["snapshot-id"]) == sid)
    assert cat._added_records_from_list(meta, head_dml) == 5

    # ...and a commit with NO added-records still lands, advanced by
    # the manifest-list truth (0 here: the reused list contributes no
    # manifests under the new snapshot id)
    cat.commit_table(
        "db", "t",
        requirements=[{"type": "assert-ref-snapshot-id",
                       "ref": "main", "snapshot-id": cur}],
        updates=[
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": rid + 2,
                "timestamp-ms": int(meta["last-updated-ms"]) + 1,
                "sequence-number":
                    int(meta["last-sequence-number"]) + 1,
                "manifest-list": cur_snap["manifest-list"],
                "first-row-id": hwm + 12,
                "summary": {"operation": "append"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": rid + 2}])
    assert int(cat.load_table("db", "t")["metadata"]
               ["next-row-id"]) == hwm + 12


def test_update_where_on_row_lineage_table_assigns_fresh_ids(spark,
                                                             tmp_path):
    """DML on a v3 row-lineage table: post-image files claim fresh
    first_row_id ranges in the same commit (next-row-id advances), so
    _with_row_ids reads stay well-defined — untouched rows keep their
    ids, updated rows get NEW ids above the old counter (this engine
    assigns rather than preserves through MoR updates, documented)."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        enable_iceberg_row_lineage,
        iceberg_update_where,
        read_iceberg_snapshot_with_row_ids,
        read_table_metadata,
    )

    t = str(tmp_path / "rlupd")
    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)
    enable_iceberg_row_lineage(spark, t)
    before = {r.k: r._row_id for r in
              read_iceberg_snapshot_with_row_ids(spark, t).collect()}
    hwm = int(read_table_metadata(spark, t)["next-row-id"])

    iceberg_update_where(spark, t, "k % 4 = 2", {"v": "v + 100"})
    got = {r.k: (r.v, r._row_id) for r in
           read_iceberg_snapshot_with_row_ids(spark, t).collect()}
    assert len(got) == 20
    for k in range(20):
        v, rid = got[k]
        if k % 4 == 2:
            assert v == k + 100 and rid >= hwm       # fresh id
        else:
            assert v == float(k) and rid == before[k]  # stable id
    assert int(read_table_metadata(spark, t)["next-row-id"]) == hwm + 5


def _lineage_table(spark, t, initial_default=False):
    """20 rows in one file with row lineage on (v3, next-row-id 20), then
    an optional int column ``flag`` added with write-default 7. Without
    ``initial_default`` the first file reads it as NULL; with it, as 7."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        _commit_metadata,
        enable_iceberg_row_lineage,
    )

    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    write_iceberg_table(spark, [df.coalesce(1)], t)
    enable_iceberg_row_lineage(spark, t)

    def add_flag(meta):
        schema = dict(meta["schemas"][0])
        schema["fields"] = schema["fields"] + [
            {"id": 3, "name": "flag", "required": False, "type": "int",
             "write-default": 7,
             **({"initial-default": 7} if initial_default else {})}]
        return {**meta, "schemas": [schema]}, None

    _commit_metadata(spark, t, "add column", add_flag)


def _run_write(spark, op, t, cat):
    """Run write verb ``op`` on table ``t``: on the file layout when
    ``cat`` is None, else through the catalog that registered ``t`` as
    ``db.t``."""
    from databricks_import_pyspark_scripts_spark.sources import (
        iceberg,
        rest_catalog,
    )

    new = spark.range(100, 105).selectExpr(
        "id AS k", "CAST(id AS double) AS v", "CAST(id AS int) AS flag")
    if op == "append_default":
        op, new = "append", new.drop("flag")
    if op == "append":
        if cat is None:
            return iceberg.append_iceberg(spark, new, t)
        return rest_catalog.append_iceberg_via_catalog(
            spark, new, cat, "db", "t")
    if op.startswith("delete_"):
        mode = op[len("delete_"):]
        if cat is None:
            return iceberg.iceberg_delete_where(spark, t, "k % 4 = 1",
                                                mode=mode)
        return rest_catalog.delete_where_via_catalog(
            spark, cat, "db", "t", "k % 4 = 1", mode=mode)
    if op == "update":
        if cat is None:
            return iceberg.iceberg_update_where(spark, t, "k % 4 = 2",
                                                {"v": "v + 100"})
        return rest_catalog.update_where_via_catalog(
            spark, cat, "db", "t", "k % 4 = 2", {"v": "v + 100"})
    src = spark.range(15, 25).selectExpr(
        "id AS k", "CAST(id * 10 AS double) AS v", "CAST(1 AS int) AS flag")
    if cat is None:
        return iceberg.iceberg_merge_into(spark, t, src, ["k"],
                                          when_matched_update={"v": "s.v"})
    return rest_catalog.merge_into_via_catalog(
        spark, cat, "db", "t", src, ["k"], when_matched_update={"v": "s.v"})


def _catalog_for(tmp_path, t, transport):
    from databricks_import_pyspark_scripts_spark.sources.rest_catalog import (
        FileRestCatalog,
    )

    if transport == "local":
        return None
    cat = FileRestCatalog(str(tmp_path / f"wh_{os.path.basename(t)}"))
    cat.register_table("db", "t", t)
    return cat


@pytest.mark.parametrize("op", ["append", "append_default",
                                "delete_position", "delete_dv", "update",
                                "merge", "update_initial_default",
                                "merge_initial_default"])
def test_local_and_catalog_writes_agree(spark, tmp_path, op):
    """Each write verb leaves the same table whether it commits to the
    file layout or through the REST catalog: same rows, same
    next-row-id, format-version and head operation, and unique row ids
    (every added file carries a first_row_id). The table has row lineage
    on and a write-default column, so an append that omits ``flag`` must
    write 7 on both transports. In the ``*_initial_default`` cases the
    column also has initial-default 7: the rows an UPDATE or MERGE
    rewrites keep the 7 they read, and the table stays readable."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_snapshot_with_row_ids,
    )

    initial = op.endswith("_initial_default")
    op = op.removesuffix("_initial_default")
    ends = {}
    for transport in ("local", "catalog"):
        t = str(tmp_path / f"{op}_{transport}")
        _lineage_table(spark, t, initial_default=initial)
        _run_write(spark, op, t, _catalog_for(tmp_path, t, transport))
        meta = read_table_metadata(spark, t)
        head = next(s for s in meta["snapshots"]
                    if s["snapshot-id"] == meta["current-snapshot-id"])
        rows = sorted(tuple(r) for r in read_iceberg_snapshot(spark, t)
                      .select("k", "v", "flag").collect())
        ids = [r._row_id for r in
               read_iceberg_snapshot_with_row_ids(spark, t).collect()]
        assert len(ids) == len(set(ids)) == len(rows), transport
        ends[transport] = (rows, int(meta["next-row-id"]),
                           int(meta["format-version"]),
                           head["summary"]["operation"])
    assert ends["local"][3] != "replace"      # the verb committed
    assert ends["local"] == ends["catalog"]
    if op.startswith("append"):
        assert ends["local"][1] == 25
        flags = {k: f for k, _, f in ends["local"][0]}
        assert [flags[k] for k in range(100, 105)] == (
            [7] * 5 if op == "append_default" else list(range(100, 105)))
    if initial:
        flags = {k: f for k, _, f in ends["local"][0]}
        # UPDATE rewrites k % 4 = 2, MERGE updates 15..19 and inserts
        # 20..24 with the source's flag 1
        assert flags == {k: 1 if k >= 20 else 7 for k in flags}
        assert sorted(flags) == (list(range(25)) if op == "merge"
                                 else list(range(20)))


def test_compaction_keeps_initial_default(spark, tmp_path):
    """Compaction reads through the snapshot read's scan: rows of a file
    written before an ``initial-default`` column keep the default in the
    compacted output instead of turning NULL."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        compact_iceberg_table,
    )

    t = str(tmp_path / "cmp_default")
    _lineage_table(spark, t, initial_default=True)
    append_iceberg(spark, spark.range(100, 102).selectExpr(
        "id AS k", "CAST(id AS double) AS v", "CAST(1 AS int) AS flag"), t)
    before = sorted(tuple(r) for r in read_iceberg_snapshot(spark, t)
                    .select("k", "v", "flag").collect())
    assert {r[2] for r in before} == {7, 1}
    assert compact_iceberg_table(spark, t) is not None
    assert sorted(tuple(r) for r in read_iceberg_snapshot(spark, t)
                  .select("k", "v", "flag").collect()) == before


def test_change_feed_applies_initial_default(spark, tmp_path):
    """The change feed reads through the snapshot read's scan: an
    UPDATE's delete row (merge-on-read step) and the whole-file insert
    rows of the first snapshot carry ``initial-default`` 7 for a file
    written before the column, like the snapshot read does."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_update_where,
        read_iceberg_changes,
    )

    t = str(tmp_path / "cdf_default")
    _lineage_table(spark, t, initial_default=True)
    iceberg_update_where(spark, t, "k = 1", {"v": "v + 100"})
    last = len(read_table_metadata(spark, t)["snapshots"]) - 1
    step = read_iceberg_changes(spark, t, last - 1, last)
    assert sorted((r.k, r._change_type, r.v, r.flag)
                  for r in step.collect()) == [
        (1, "delete", 1.0, 7), (1, "insert", 101.0, 7)]
    first = read_iceberg_changes(spark, t, -1, 0)
    assert {(r._change_type, r.flag) for r in first.collect()} == {
        ("insert", 7)}


@pytest.mark.parametrize("transport", ["local", "catalog"])
def test_dml_snapshot_timestamp_follows_the_head(spark, tmp_path,
                                                 transport):
    """A DML snapshot is stamped after everything the head records, on
    both transports: above the head's ``last-updated-ms`` even when a
    metadata-only commit moved it past the head snapshot, so the table
    history stays ordered and a time-travel read at the DML's own
    timestamp returns the post-commit rows."""
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        read_iceberg_snapshot_at_timestamp,
        set_iceberg_ref,
    )

    t = str(tmp_path / f"ts_{transport}")
    _lineage_table(spark, t)
    head_ts = max(int(s["timestamp-ms"])
                  for s in read_table_metadata(spark, t)["snapshots"])
    set_iceberg_ref(spark, t, "pin", ref_type="tag", ts_ms=head_ts + 5000)
    before = int(read_table_metadata(spark, t)["last-updated-ms"])
    _run_write(spark, "delete_dv", t, _catalog_for(tmp_path, t, transport))
    meta = read_table_metadata(spark, t)
    dml = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    assert int(dml["timestamp-ms"]) > before
    assert int(meta["last-updated-ms"]) >= int(dml["timestamp-ms"])
    expect = [k for k in range(20) if k % 4 != 1]
    assert _ks(read_iceberg_snapshot_at_timestamp(
        spark, t, int(dml["timestamp-ms"]))) == expect


def test_iceberg_snapshot_writers_share_one_builder():
    """One snapshot builder: the REST-catalog module stages no manifests
    of its own, and inside ``iceberg.py`` only the shared builder and the
    writers that create a table or replace the whole manifest list write
    a manifest list."""
    import ast
    import re

    from databricks_import_pyspark_scripts_spark.sources import (
        iceberg,
        rest_catalog,
    )

    with open(rest_catalog.__file__) as f:
        src = f.read()
    for name in ("_MANIFEST_FILE_SCHEMA", "_manifest_entry_schema",
                 "write_container"):
        assert not re.search(rf"\b{name}\b", src), name
    with open(iceberg.__file__) as f:
        tree = ast.parse(f.read())
    writers = set()
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and any(
                isinstance(n, ast.Name) and n.id == "_MANIFEST_FILE_SCHEMA"
                for n in ast.walk(fn)):
            writers.add(fn.name)
    assert writers == {"_snapshot_updates", "write_iceberg_table",
                       "rewrite_iceberg_manifests", "_compact"}
