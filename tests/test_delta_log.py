"""Pure-Python Delta log reader (sources/delta_log.py) against a
hand-authored protocol-conformant Delta table (tests/delta_fixture.py):
snapshot time travel, metadata-level partition pruning, CDF (explicit cdc
files AND synthesized whole-file inserts/deletes), checkpoint replay, log
truncation, protocol-feature gating, and the versioned-source /
run_unload dispatch — the reference's Delta read surface
(/root/reference/unload_databricks_data_to_s3.py:183-193) executed with no
Delta jars on the classpath."""

from __future__ import annotations

import json
import os

import pytest

from databricks_import_pyspark_scripts_spark.sources.delta_log import (
    DeltaProtocolError,
    is_delta_table,
    list_delta_versions,
    read_delta_changes,
    read_delta_snapshot,
    replay_log,
)
from databricks_import_pyspark_scripts_spark.sources.versioned import (
    extract_missing_cdf_error_signature,
    fetch_data,
    read_changes,
    read_snapshot,
)

from delta_fixture import V2_TS_MS, _commit, _meta, make_delta_table, write_checkpoint


@pytest.fixture()
def delta_table(tmp_path):
    return make_delta_table(str(tmp_path / "tbl"))


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


# --------------------------------------------------------------------- snapshot

def test_snapshot_time_travel(spark, delta_table):
    assert is_delta_table(spark, delta_table)
    assert list_delta_versions(spark, delta_table) == [0, 1, 2]
    assert _ids(read_delta_snapshot(spark, delta_table, 0)) == [1, 2, 3, 4, 5, 6]
    assert _ids(read_delta_snapshot(spark, delta_table, 1)) == [1, 2, 3, 6, 7, 8]
    latest = read_delta_snapshot(spark, delta_table)  # default: newest commit
    assert _ids(latest) == [1, 2, 3, 6, 7, 8]
    assert latest.filter("id = 1").collect()[0].val == 99.0  # v2 rewrite applied


def test_snapshot_schema_and_partition_values(spark, delta_table):
    df = read_delta_snapshot(spark, delta_table, 0)
    # column order and types come from metaData.schemaString (Spark
    # StructType JSON per the protocol), partition column re-attached
    assert [f.name for f in df.schema.fields] == ["id", "val", "part"]
    assert dict(df.dtypes)["part"] == "string"
    by_id = {r.id: r.part for r in df.collect()}
    assert by_id[1] == "a" and by_id[4] == "b"
    assert by_id[6] is None  # null partition value stays null


def test_metadata_partition_pruning(spark, delta_table):
    df = read_delta_snapshot(spark, delta_table, 1,
                             partition_filter=lambda pv: pv.get("part") == "a")
    assert _ids(df) == [1, 2, 3, 7, 8]
    # pruning is metadata-level: the pruned partitions' files are not in
    # the scan AT ALL (not filtered post-read)
    assert all("part=a" in f for f in df.inputFiles())


def test_snapshot_empty_when_filter_drops_everything(spark, delta_table):
    df = read_delta_snapshot(spark, delta_table, 0,
                             partition_filter=lambda pv: False)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "val", "part"]


# --------------------------------------------------------------------- CDF

def test_cdf_synthesized_file_ops(spark, delta_table):
    ch = read_delta_changes(spark, delta_table, 0, 1)  # (0, 1] — commit v1
    rows = {(r.id, r._change_type, r._commit_version) for r in ch.collect()}
    assert rows == {(7, "insert", 1), (8, "insert", 1),
                    (4, "delete", 1), (5, "delete", 1)}


def test_cdf_explicit_change_files(spark, delta_table):
    ch = read_delta_changes(spark, delta_table, 1, 2)  # (1, 2] — commit v2
    rows = sorted((r.id, r.val, r._change_type) for r in ch.collect())
    assert rows == [(1, 1.0, "update_preimage"), (1, 99.0, "update_postimage")]
    ts = ch.select("_commit_timestamp").distinct().collect()
    assert len(ts) == 1
    assert int(ts[0][0].timestamp() * 1000) == V2_TS_MS  # from commitInfo
    # the partition column rides along on change rows too
    assert {r.part for r in ch.collect()} == {"a"}


def test_cdf_full_range_batches_scans(spark, delta_table):
    ch = read_delta_changes(spark, delta_table, 0, 2)
    assert ch.count() == 6  # 2 inserts + 2 deletes + 2 update images
    assert {r._commit_version for r in ch.collect()} == {1, 2}


def test_cdf_requires_enablement(spark, tmp_path):
    t = make_delta_table(str(tmp_path / "nocdf"), cdf=False)
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        read_delta_changes(spark, t, 0, 1)


def test_cdf_vacuumed_file_raises_retryable_signature(spark, delta_table):
    os.remove(os.path.join(delta_table, "part=b", "f2.parquet"))
    with pytest.raises(FileNotFoundError) as ei:
        read_delta_changes(spark, delta_table, 0, 1).count()
    # the signature the reference's two-level retry ladder keys on
    assert extract_missing_cdf_error_signature(ei.value) \
        == "DELTA_CHANGE_DATA_FILE_NOT_FOUND"


def test_cdf_file_changed_at_several_versions_scans_once(spark, delta_table):
    """part=b/f2 is removed at v1, restored at v3 and removed again at v4:
    each of its rows is one delete per removing version, not one per
    occurrence times its versions."""
    log = os.path.join(delta_table, "_delta_log")
    _commit(log, 3, [
        {"commitInfo": {"timestamp": V2_TS_MS + 1000, "operation": "RESTORE"}},
        {"add": {"path": "part=b/f2.parquet", "partitionValues": {"part": "b"},
                 "size": 1, "dataChange": True, "modificationTime": 4}}])
    _commit(log, 4, [
        {"commitInfo": {"timestamp": V2_TS_MS + 2000, "operation": "DELETE"}},
        {"remove": {"path": "part=b/f2.parquet", "deletionTimestamp": 5,
                    "dataChange": True, "partitionValues": {"part": "b"}}}])
    ch = read_delta_changes(spark, delta_table, 0, 4)
    got = sorted((r._commit_version, r._change_type, r.id, r.part)
                 for r in ch.collect() if r.id in (4, 5))
    assert got == [(1, "delete", 4, "b"), (1, "delete", 5, "b"),
                   (3, "insert", 4, "b"), (3, "insert", 5, "b"),
                   (4, "delete", 4, "b"), (4, "delete", 5, "b")]
    # the unload path drops the tags; the fan-out must still hold
    from databricks_import_pyspark_scripts_spark.operators.cdc import (
        filter_data,
    )
    kept = filter_data(ch, "EVENT", mutability_mode=True)
    assert sorted(r.id for r in kept.collect() if r.id in (4, 5)) \
        == [4, 4, 4, 5, 5, 5]


def test_cdf_change_files_sharing_a_suffix_keep_their_versions(
        spark, delta_table):
    """Two change files sharing their last two path segments
    (``_change_data/cdc-0.parquet`` at the root and under ``x/``) are
    distinct files: each row keeps its own file's version."""
    from delta_fixture import _write_parquet

    log = os.path.join(delta_table, "_delta_log")
    _write_parquet(
        os.path.join(delta_table, "x", "_change_data", "cdc-0.parquet"),
        [6], [6.0], ["delete"])
    _commit(log, 3, [
        {"commitInfo": {"timestamp": V2_TS_MS + 1000, "operation": "DELETE"}},
        {"remove": {"path": "f3.parquet", "deletionTimestamp": 4,
                    "dataChange": True, "partitionValues": {"part": None}}},
        {"cdc": {"path": "x/_change_data/cdc-0.parquet",
                 "partitionValues": {"part": None}, "size": 1,
                 "dataChange": False}}])
    got = sorted((r._commit_version, r._change_type, r.id, r.val, r.part)
                 for r in read_delta_changes(spark, delta_table, 1, 3)
                 .collect())
    assert got == [(2, "update_postimage", 1, 99.0, "a"),
                   (2, "update_preimage", 1, 1.0, "a"),
                   (3, "delete", 6, 6.0, None)]


# --------------------------------------------------------------------- checkpoint

def _checkpoint_and_truncate(spark, table):
    """Checkpoint at v1 from the replayed state, then clean up (delete)
    the pre-checkpoint JSON commits — Delta's log-cleanup shape."""
    rep = replay_log(spark, table, 1)
    actions = [{"protocol": rep.protocol}, {"metaData": rep.metadata}]
    actions += [{"add": a} for a in rep.files.values()]
    write_checkpoint(spark, table, 1, actions)
    os.remove(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(table, "_delta_log", f"{1:020d}.json"))


def test_checkpoint_replay(spark, delta_table):
    _checkpoint_and_truncate(spark, delta_table)
    assert _ids(read_delta_snapshot(spark, delta_table, 2)) == [1, 2, 3, 6, 7, 8]
    assert _ids(read_delta_snapshot(spark, delta_table, 1)) == [1, 2, 3, 6, 7, 8]
    # CDF over (1, 2] still works: only post-checkpoint commits needed
    assert read_delta_changes(spark, delta_table, 1, 2).count() == 2


def test_truncated_log_raises_below_checkpoint(spark, delta_table):
    _checkpoint_and_truncate(spark, delta_table)
    with pytest.raises(FileNotFoundError) as ei:
        read_delta_snapshot(spark, delta_table, 0)
    assert extract_missing_cdf_error_signature(ei.value) is not None


def test_cdf_window_across_a_checkpoint(spark, tmp_path):
    """A change-feed window that crosses a checkpoint reads each of its
    commits from its JSON file, so every row keeps its own commit's
    version. Once the JSON of the window's commits below the checkpoint
    is gone, the read raises the missing-change-file signature instead
    of serving part of the window."""
    from delta_fixture import make_checkpointed_cdf_table

    t = make_checkpointed_cdf_table(spark, str(tmp_path / "cp"))

    def changes(start, end):
        return sorted((r._commit_version, r.id) for r in
                      read_delta_changes(spark, t, start, end)
                      .select("_commit_version", "id").collect())

    assert changes(0, 5) == [(v, i) for v in range(1, 6)
                             for i in range(10 * v, 10 * v + 10)]
    for v in range(3):
        os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    with pytest.raises(FileNotFoundError) as ei:
        read_delta_changes(spark, t, 0, 5)
    assert extract_missing_cdf_error_signature(ei.value) is not None
    # a window whose commits all survive still reads in full: the state
    # comes from the checkpoint, the window from the JSON files
    assert changes(2, 5) == [(v, i) for v in range(3, 6)
                             for i in range(10 * v, 10 * v + 10)]


# --------------------------------------------------------------------- protocol

def test_protocol_reader_features_gate(spark, tmp_path):
    t = make_delta_table(str(tmp_path / "tw"))
    _commit(os.path.join(t, "_delta_log"), 3, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["madeUpFeature"],
                      "writerFeatures": ["madeUpFeature"]}}])
    with pytest.raises(DeltaProtocolError, match="madeUpFeature"):
        read_delta_snapshot(spark, t)
    # the Python data source reads through the same gate
    from databricks_import_pyspark_scripts_spark.sources.delta_stream_datasource import (
        register_delta_stream_source,
    )

    register_delta_stream_source(spark)

    def jarless(**opts):
        r = spark.read.format("delta_jarless").option("path", t)
        for key, val in opts.items():
            r = r.option(key, val)
        return r.load()

    with pytest.raises(Exception, match="madeUpFeature"):
        jarless().collect()
    # every feature this reader implements is accepted together
    _commit(os.path.join(t, "_delta_log"), 4, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz", "deletionVectors",
                                         "columnMapping", "v2Checkpoint",
                                         "typeWidening"],
                      "writerFeatures": ["timestampNtz"]}}])
    assert _ids(read_delta_snapshot(spark, t, 4)) == [1, 2, 3, 6, 7, 8]
    assert _ids(jarless(versionAsOf="4")) == [1, 2, 3, 6, 7, 8]


def test_v2_checkpoint_replay_with_sidecar(spark, delta_table):
    """V2 uuid-named checkpoint (json top-level + parquet sidecar): replay
    must source the file set from the sidecar and keep serving snapshots
    and CDF after the pre-checkpoint commits are cleaned up."""
    from delta_fixture import write_v2_checkpoint

    rep = replay_log(spark, delta_table, 1)
    actions = [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                             "readerFeatures": ["v2Checkpoint"],
                             "writerFeatures": ["v2Checkpoint"]}},
               {"metaData": rep.metadata}]
    actions += [{"add": a} for a in rep.files.values()]
    write_v2_checkpoint(delta_table, 1, actions)
    os.remove(os.path.join(delta_table, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(delta_table, "_delta_log", f"{1:020d}.json"))
    assert _ids(read_delta_snapshot(spark, delta_table, 2)) == [1, 2, 3, 6,
                                                                7, 8]
    assert _ids(read_delta_snapshot(spark, delta_table, 1)) == [1, 2, 3, 6,
                                                                7, 8]
    assert read_delta_changes(spark, delta_table, 1, 2).count() == 2
    with pytest.raises(FileNotFoundError):
        read_delta_snapshot(spark, delta_table, 0)


def test_id_mode_without_field_ids_in_metadata_rejected(spark, tmp_path):
    """id mode on a table whose schemaString carries no
    delta.columnMapping.id annotations is malformed — reject loudly
    instead of matching by name and silently reading the wrong columns."""
    t = make_delta_table(str(tmp_path / "cmid"))
    _commit(os.path.join(t, "_delta_log"), 3, [
        {"metaData": _meta(configuration={
            "delta.columnMapping.mode": "id"})}])
    with pytest.raises(DeltaProtocolError, match="column mapping"):
        read_delta_snapshot(spark, t).collect()


# --------------------------------------------------------------- deletion vectors

@pytest.fixture()
def dv_table(tmp_path):
    from delta_fixture import make_dv_delta_table
    return make_dv_delta_table(str(tmp_path / "dvtbl"))


def test_dv_snapshot_applies_deletes(spark, dv_table):
    assert _ids(read_delta_snapshot(spark, dv_table, 0)) == list(range(1, 11))
    assert _ids(read_delta_snapshot(spark, dv_table, 1)) == [1, 3, 5, 6, 7,
                                                             8, 9, 10]
    assert _ids(read_delta_snapshot(spark, dv_table)) == [1, 3, 5, 6, 7,
                                                          9, 10]


def test_dv_snapshot_keeps_partition_and_values(spark, dv_table):
    rows = {(r.id, r.val, r.part)
            for r in read_delta_snapshot(spark, dv_table).collect()}
    assert (1, 1.0, "a") in rows and (9, 9.0, "b") in rows
    assert not any(r[0] in (2, 4, 8) for r in rows)


def test_dv_arrow_filter_path_matches_antijoin(spark, dv_table, monkeypatch):
    """The two DV strategies must be bit-identical: force the Arrow path by
    dropping the anti-join threshold to zero."""
    from databricks_import_pyspark_scripts_spark.sources import delta_log
    expected = _ids(read_delta_snapshot(spark, dv_table))
    monkeypatch.setattr(delta_log, "DV_ANTIJOIN_MAX_ROWS", -1)
    assert _ids(read_delta_snapshot(spark, dv_table)) == expected


def test_dv_cdf_reads_cdc_deletes(spark, dv_table):
    ch = read_delta_changes(spark, dv_table, 0, 2)
    rows = sorted((r.id, r._change_type, r._commit_version)
                  for r in ch.collect())
    assert rows == [(2, "delete", 1), (4, "delete", 1), (8, "delete", 2)]


def test_dv_update_without_cdc_rejected(spark, dv_table):
    """A DV rewrite commit stripped of its cdc action cannot be synthesized
    whole-file — the reader must refuse rather than double-count."""
    log = os.path.join(dv_table, "_delta_log")
    path = os.path.join(log, "00000000000000000002.json")
    acts = [json.loads(line) for line in open(path)]
    with open(path, "w") as f:
        for a in acts:
            if "cdc" not in a:
                f.write(json.dumps(a) + "\n")
    with pytest.raises(DeltaProtocolError, match="deletion vector"):
        read_delta_changes(spark, dv_table, 0, 2).collect()


def test_dv_whole_file_delete_of_dv_file(spark, dv_table):
    """Removing a DV-carrying file in a cdc-less commit synthesizes deletes
    of its SURVIVING rows only (the remove action's DV is applied)."""
    rep_files = read_delta_snapshot(spark, dv_table, 1)
    assert _ids(rep_files) == [1, 3, 5, 6, 7, 8, 9, 10]
    log = os.path.join(dv_table, "_delta_log")
    import uuid as _uuid
    from databricks_import_pyspark_scripts_spark.sources.delta_dv import (
        make_uuid_path_or_inline, serialize_bitmap_array, write_dv_file)
    u = _uuid.UUID("11111111-2222-3333-4444-555555556666")
    (offset, size), = write_dv_file(
        os.path.join(dv_table, f"deletion_vector_{u}.bin"),
        [serialize_bitmap_array([1, 3])])
    _commit(log, 3, [
        {"commitInfo": {"timestamp": V2_TS_MS + 1000, "operation": "DELETE"}},
        {"remove": {"path": "part=a/f1.parquet", "deletionTimestamp": 9,
                    "dataChange": True, "partitionValues": {"part": "a"},
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": make_uuid_path_or_inline(u),
                        "offset": offset, "sizeInBytes": size,
                        "cardinality": 2}}}])
    ch = read_delta_changes(spark, dv_table, 2, 3)
    rows = sorted((r.id, r._change_type) for r in ch.collect())
    assert rows == [(1, "delete"), (3, "delete"), (5, "delete"),
                    (6, "delete")]


def test_v2_checkpoint_only_log_still_readable(spark, delta_table):
    """Metadata cleanup can retire EVERY json commit, leaving a
    checkpoint-only log; the latest state must still resolve and read."""
    from delta_fixture import write_v2_checkpoint

    rep = replay_log(spark, delta_table, 2)
    actions = [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                             "readerFeatures": ["v2Checkpoint"],
                             "writerFeatures": ["v2Checkpoint"]}},
               {"metaData": rep.metadata}]
    actions += [{"add": a} for a in rep.files.values()]
    write_v2_checkpoint(delta_table, 2, actions)
    for v in (0, 1, 2):
        os.remove(os.path.join(delta_table, "_delta_log", f"{v:020d}.json"))
    assert _ids(read_delta_snapshot(spark, delta_table)) == [1, 2, 3, 6,
                                                             7, 8]


def test_staging_writer_stats_skip_non_json_types(spark, tmp_path):
    """write_delta_table on a timestamp/date/decimal-bearing frame must not
    crash: non-JSON-native stats are omitted (file stays unskippable on
    those columns), numeric/string stats still present."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        replay_log,
        write_delta_table,
    )
    df = spark.range(10).selectExpr(
        "id", "timestamp_millis(1700000000000 + id) AS ts",
        "CAST(id AS DECIMAL(10,2)) AS money",
        "date_from_unix_date(CAST(id AS INT)) AS d", "id % 2 = 0 AS b")
    t = str(tmp_path / "tstats")
    write_delta_table(spark, [df], t, enable_cdf=False)
    rep = replay_log(spark, t)
    import json as _json
    stats = [_json.loads(a["stats"]) for a in rep.files.values()]
    assert all("id" in s["minValues"] for s in stats)
    assert all("ts" not in s["minValues"] for s in stats)
    assert all(s["numRecords"] > 0 for s in stats)


# ----------------------------------------------------------- incremental ingest

def test_delta_incremental_ingest_resumes_and_is_atomic(spark, delta_table,
                                                        tmp_path):
    """Tick 1 ingests the full history as CDF rows and persists the mark;
    a new commit makes tick 2 pull ONLY the delta; tick 3 is a no-op; a
    crash-before-mark (mark file rolled back) re-delivers the same range."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        delta_incremental_ingest,
    )
    state = str(tmp_path / "state" / "hwm")
    seen: list[tuple[int, int, int]] = []

    def apply_fn(df, last, current):
        seen.append((last, current, df.count()))

    assert delta_incremental_ingest(spark, delta_table, state, apply_fn) == 2
    assert seen[-1][:2] == (-1, 2) and seen[-1][2] > 0
    # no new commits -> no-op, apply_fn not called
    assert delta_incremental_ingest(spark, delta_table, state, apply_fn) == 2
    assert len(seen) == 1
    # new commit: whole-file delete of f4 (v3)
    _commit(os.path.join(delta_table, "_delta_log"), 3, [
        {"commitInfo": {"timestamp": V2_TS_MS + 1000, "operation": "DELETE"}},
        {"remove": {"path": "part=a/f4.parquet", "deletionTimestamp": 9,
                    "dataChange": True, "partitionValues": {"part": "a"}}}])
    assert delta_incremental_ingest(spark, delta_table, state, apply_fn) == 3
    assert seen[-1] == (2, 3, 2)  # ids 7, 8 deleted
    # crash-before-mark: roll the mark back and re-tick -> same range again
    with open(state, "w") as f:
        f.write("2")
    assert delta_incremental_ingest(spark, delta_table, state, apply_fn) == 3
    assert seen[-1] == (2, 3, 2)


# --------------------------------------------------------------- data skipping

def test_data_skipping_prunes_files_and_keeps_rows(spark, tmp_path):
    """Range-partitioned staged table: a stats filter must cut the planned
    file set at metadata level while the row predicate keeps results
    exact; a file without stats must never be pruned (superset safety)."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        column_range_filter,
        read_delta_snapshot,
        replay_log,
        write_delta_table,
    )
    t = str(tmp_path / "skip")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v") \
        .repartitionByRange(5, "id")
    write_delta_table(spark, [df], t, enable_cdf=False)
    rep = replay_log(spark, t)
    assert all(a.get("stats") for a in rep.files.values())
    full = read_delta_snapshot(spark, t)
    pruned = read_delta_snapshot(
        spark, t, stats_filter=column_range_filter("id", 100, 150))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(r.id for r in
                 pruned.filter("id BETWEEN 100 AND 150").collect())
    assert got == list(range(100, 151))
    # stats-less add actions survive any stats filter
    import json as _json
    log_path = os.path.join(t, "_delta_log", f"{0:020d}.json")
    acts = [_json.loads(line) for line in open(log_path)]
    for a in acts:
        if "add" in a:
            a["add"].pop("stats", None)
    with open(log_path, "w") as f:
        for a in acts:
            f.write(_json.dumps(a) + "\n")
    unskippable = read_delta_snapshot(
        spark, t, stats_filter=column_range_filter("id", 100, 150))
    assert len(unskippable.inputFiles()) == len(full.inputFiles())


# --------------------------------------------------------------- timestamp travel

def test_timestamp_as_of_resolution(spark, delta_table):
    """Fixture commit timestamps (commitInfo): v0 = V2_TS_MS - 2000,
    v1 = V2_TS_MS - 1000, v2 = V2_TS_MS."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_at_timestamp,
        resolve_version_at_timestamp,
    )
    assert resolve_version_at_timestamp(
        spark, delta_table, V2_TS_MS - 1000) == 1
    assert resolve_version_at_timestamp(
        spark, delta_table, V2_TS_MS - 500) == 1
    assert resolve_version_at_timestamp(spark, delta_table, V2_TS_MS) == 2
    assert _ids(read_delta_snapshot_at_timestamp(
        spark, delta_table, V2_TS_MS - 500)) == [1, 2, 3, 6, 7, 8]
    with pytest.raises(ValueError, match="after the latest"):
        resolve_version_at_timestamp(spark, delta_table, V2_TS_MS + 10_000)


def test_timestamp_resolution_monotonic_adjustment(spark, tmp_path):
    """A commit whose wall clock REGRESSED must still resolve after its
    predecessor (Delta's +1 ms adjustment), not shadow it."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        _commit_timestamps_ms,
    )
    t = make_delta_table(str(tmp_path / "mono"))
    log = os.path.join(t, "_delta_log")
    # v3: commitInfo timestamp EARLIER than v2's
    _commit(log, 3, [
        {"commitInfo": {"timestamp": V2_TS_MS - 5000, "operation": "WRITE"}}])
    hist = dict(_commit_timestamps_ms(spark, t))
    assert hist[3] == hist[2] + 1


def test_cdf_starting_timestamp(spark, delta_table):
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_changes_from_timestamp,
    )
    # at/after v2's timestamp -> only v2's update feed
    ch = read_delta_changes_from_timestamp(spark, delta_table, V2_TS_MS)
    rows = sorted((r.id, r._change_type) for r in ch.collect())
    assert rows == [(1, "update_postimage"), (1, "update_preimage")]
    with pytest.raises(ValueError, match="after the latest"):
        read_delta_changes_from_timestamp(spark, delta_table,
                                          V2_TS_MS + 10_000)
    # endingTimestamp bounds the range: (v0, v1] only
    ch = read_delta_changes_from_timestamp(
        spark, delta_table, V2_TS_MS - 1000, end_ts_ms=V2_TS_MS - 1)
    assert sorted((r.id, r._change_type) for r in ch.collect()) == [
        (4, "delete"), (5, "delete"), (7, "insert"), (8, "insert")]
    with pytest.raises(ValueError, match="inverted range"):
        read_delta_changes_from_timestamp(
            spark, delta_table, V2_TS_MS, end_ts_ms=V2_TS_MS - 1000)


def test_versioned_snapshot_at_timestamp_dispatch(spark, tmp_path,
                                                  delta_table):
    """Dispatcher: Delta dirs resolve via commit timestamps, Iceberg
    roots via their snapshot log; the v=N parquet convention resolves via
    directory mtimes."""
    from databricks_import_pyspark_scripts_spark.sources.versioned import (
        read_snapshot_at_timestamp,
    )
    root = os.path.dirname(delta_table)
    tbl = os.path.basename(delta_table)
    df = read_snapshot_at_timestamp(spark, root, tbl, V2_TS_MS - 1)
    assert _ids(df) == [1, 2, 3, 6, 7, 8]
    # v=N convention: two snapshot dirs, the query timestamp between mtimes
    import time
    vroot = str(tmp_path / "conv")
    spark.range(3).write.parquet(os.path.join(vroot, "t", "v=1"))
    time.sleep(0.05)
    cut_ms = int(time.time() * 1000)
    time.sleep(0.05)
    spark.range(5).write.parquet(os.path.join(vroot, "t", "v=2"))
    got = read_snapshot_at_timestamp(spark, vroot, "t", cut_ms)
    assert got.count() == 3
    # an Iceberg root resolves through its snapshot log
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        write_iceberg_table,
    )
    write_iceberg_table(spark, [spark.range(2), spark.range(2, 5)],
                        os.path.join(vroot, "ice"), base_ts_ms=V2_TS_MS)
    assert sorted(r.id for r in read_snapshot_at_timestamp(
        spark, vroot, "ice", V2_TS_MS + 999).collect()) == [0, 1]
    assert sorted(r.id for r in read_snapshot_at_timestamp(
        spark, vroot, "ice", V2_TS_MS + 1000).collect()) == [0, 1, 2, 3, 4]


# --------------------------------------------------------------- column mapping

@pytest.fixture()
def cm_table(tmp_path):
    from delta_fixture import make_column_mapped_table
    return make_column_mapped_table(str(tmp_path / "cmtbl"))


def test_column_mapped_snapshot_logical_names(spark, cm_table):
    df = read_delta_snapshot(spark, cm_table)
    assert df.columns == ["id", "info", "part"]
    assert df.schema["info"].dataType.fieldNames() == ["score", "tag"]
    rows = sorted((r.id, r.info.score, r.info.tag, r.part)
                  for r in df.collect())
    assert rows == [(1, 0.5, "a", "p1"), (2, 1.5, "b", "p1"),
                    (3, 2.5, "c", "p2")]


def test_column_mapped_partition_pruning_logical_keys(spark, cm_table):
    df = read_delta_snapshot(
        spark, cm_table, partition_filter=lambda pv: pv.get("part") == "p2")
    assert [r.id for r in df.collect()] == [3]


def test_column_mapped_time_travel(spark, cm_table):
    assert _ids(read_delta_snapshot(spark, cm_table, 0)) == [1, 2]


@pytest.fixture()
def idm_table(tmp_path):
    from delta_fixture import make_id_mapped_table
    return make_id_mapped_table(str(tmp_path / "idmtbl"))


def test_id_mapped_snapshot_matches_by_field_id_not_name(spark, idm_table):
    """The fixture's data files name their columns after the WRONG logical
    columns; only parquet field-id matching yields these values."""
    df = read_delta_snapshot(spark, idm_table)
    assert df.columns == ["id", "info", "part"]
    assert df.schema["info"].dataType.fieldNames() == ["score", "tag"]
    rows = sorted((r.id, r.info.score, r.info.tag, r.part)
                  for r in df.collect())
    assert rows == [(1, 0.5, "a", "p1"), (2, 1.5, "b", "p1"),
                    (3, 2.5, "c", "p2")]


def test_id_mapped_partition_pruning_logical_keys(spark, idm_table):
    df = read_delta_snapshot(
        spark, idm_table, partition_filter=lambda pv: pv.get("part") == "p2")
    assert [r.id for r in df.collect()] == [3]


def test_id_mapped_time_travel(spark, idm_table):
    assert _ids(read_delta_snapshot(spark, idm_table, 0)) == [1, 2]


def test_id_mapped_files_without_ids_fail_loudly(spark, idm_table):
    """A data file with NO parquet field ids cannot be resolved in id mode;
    the scan must error, not fill the columns with nulls."""
    from delta_fixture import _write_cm_parquet
    _write_cm_parquet(os.path.join(idm_table, "x=3", "g3.parquet"),
                      [9], [9.5], ["z"])
    _commit(os.path.join(idm_table, "_delta_log"), 2, [
        {"commitInfo": {"timestamp": V2_TS_MS + 1000, "operation": "WRITE"}},
        {"add": {"path": "x=3/g3.parquet",
                 "partitionValues": {"col-aaa5": "p3"}, "size": 1,
                 "dataChange": True, "modificationTime": 3}}])
    with pytest.raises(Exception, match="[Ff]ield [Ii]d"):
        read_delta_snapshot(spark, idm_table).collect()


def test_url_encoded_paths(spark, tmp_path):
    from delta_fixture import _write_parquet

    t = str(tmp_path / "enc")
    _write_parquet(os.path.join(t, "part=a", "f 1.parquet"), [1], [1.0])
    _commit(os.path.join(t, "_delta_log"), 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": _meta()},
        {"add": {"path": "part=a/f%201.parquet",
                 "partitionValues": {"part": "a"}, "size": 1,
                 "dataChange": True}}])
    # a URI path keeps "+" literal: the file must still match its action
    _write_parquet(os.path.join(t, "part=b", "f+2.parquet"), [2], [2.0])
    _commit(os.path.join(t, "_delta_log"), 1, [
        {"add": {"path": "part=b/f+2.parquet",
                 "partitionValues": {"part": "b"}, "size": 1,
                 "dataChange": True}}])
    df = read_delta_snapshot(spark, t)
    assert sorted((r.id, r.part) for r in df.collect()) == [(1, "a"), (2, "b")]
    ch = read_delta_changes(spark, t, 0, 1)
    assert [(r.id, r.part, r._commit_version) for r in ch.collect()] \
        == [(2, "b", 1)]


def test_basename_collision_falls_back_to_grouped_scans(spark, tmp_path):
    from delta_fixture import _write_parquet

    t = str(tmp_path / "coll")
    _write_parquet(os.path.join(t, "part=a", "f.parquet"), [1], [1.0])
    _write_parquet(os.path.join(t, "part=b", "f.parquet"), [2], [2.0])
    _commit(os.path.join(t, "_delta_log"), 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": _meta()},
        {"add": {"path": "part=a/f.parquet",
                 "partitionValues": {"part": "a"}, "size": 1,
                 "dataChange": True}},
        {"add": {"path": "part=b/f.parquet",
                 "partitionValues": {"part": "b"}, "size": 1,
                 "dataChange": True}}])
    df = read_delta_snapshot(spark, t)
    assert sorted((r.id, r.part) for r in df.collect()) \
        == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("form", ["relative", "absolute", "file:",
                                  "file://", "file:///"])
def test_table_root_forms(spark, tmp_path, monkeypatch, form):
    """Rows find their files' log and manifest entries (partition values,
    versions, deletion vectors, position deletes, merge targets) whatever
    form the table root takes: relative, absolute, or behind a ``file:``
    prefix with one, three or four slashes. The root's directory name
    holds a space, a '+', a literal '%41' and a non-ASCII letter."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        create_delta_table,
        delete_where,
        merge_into,
    )
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_delete_where,
        read_iceberg_changes,
        read_iceberg_snapshot,
        write_iceberg_table,
    )

    base = tmp_path / "r a+b%41\u00e9"
    base.mkdir()
    if form == "relative":
        # Spark resolves a relative path against the directory its JVM
        # started in: run from there, so both sides read the same file
        monkeypatch.chdir(
            spark._jvm.java.lang.System.getProperty("user.dir"))  # noqa: SLF001
        root = os.path.relpath(base)
    else:
        root = ("" if form == "absolute" else form) + str(base)

    # Delta, partitioned, CDF on: snapshot, DV DELETE, MERGE, change feed
    t = f"{root}/delta"
    df = spark.range(0, 20).selectExpr(
        "id AS k", "CAST(id AS double) AS v",
        "IF(id % 2 = 0, 'p q', 'r+s') AS part")
    create_delta_table(spark, df.repartition(2), t, partition_by=["part"],
                       cdf=True, ts_ms=1000)

    def part(k):
        return "p q" if k % 2 == 0 else "r+s"

    snap = read_delta_snapshot(spark, t).collect()
    assert sorted((r.k, r.part) for r in snap) == \
        [(k, part(k)) for k in range(20)]
    delete_where(spark, t, "k < 4", ts_ms=2000, use_dv=True)
    src = spark.range(18, 22).selectExpr(
        "id AS k", "CAST(id AS double) + 0.5 AS v", "'p q' AS part")
    merge_into(spark, t, src, on=["k"], when_matched_update={"v": "s.v"},
               ts_ms=3000)
    snap = read_delta_snapshot(spark, t).collect()
    assert sorted((r.k, r.v, r.part) for r in snap) == sorted(
        [(k, float(k), part(k)) for k in range(4, 18)]
        + [(k, k + 0.5, part(k)) for k in (18, 19)]
        + [(k, k + 0.5, "p q") for k in (20, 21)])
    ch = read_delta_changes(spark, t, 0, 2).collect()
    assert sorted((r._commit_version, r._change_type, r.k, r.part)
                  for r in ch) == sorted(
        [(1, "delete", k, part(k)) for k in range(4)]
        + [(2, c, k, part(k)) for k in (18, 19)
           for c in ("update_preimage", "update_postimage")]
        + [(2, "insert", k, "p q") for k in (20, 21)])

    # Iceberg: merge-on-read after a position-delete DELETE and after a
    # DV DELETE, then the change feed over both
    t = f"{root}/ice"
    write_iceberg_table(spark, [df.select("k", "v").repartition(2)], t)
    iceberg_delete_where(spark, t, "k % 5 = 0", mode="position")
    assert sorted(r.k for r in read_iceberg_snapshot(spark, t).collect()) \
        == [k for k in range(20) if k % 5]
    iceberg_delete_where(spark, t, "k % 7 = 1", mode="dv")
    assert sorted(r.k for r in read_iceberg_snapshot(spark, t).collect()) \
        == [k for k in range(20) if k % 5 and k % 7 != 1]
    ch = read_iceberg_changes(spark, t, 0, 2).collect()
    assert sorted((r._commit_version, r._change_type, r.k) for r in ch) \
        == [(1, "delete", k) for k in (0, 5, 10, 15)] \
        + [(2, "delete", k) for k in (1, 8)]


def test_file_key_forms(spark, monkeypatch):
    """The driver side of the file key for each path form, and the
    stored-form column agreeing with it: a local path becomes its
    absolute ``file:`` URI, a scheme path keeps its authority, and an
    empty authority takes the file system's own, as Spark's scan
    reports it."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources import delta_log

    class _Fs:  # a java.net.URI and the FileSystem returning it
        def getUri(self):
            return self

        def toString(self):
            return "hdfs://nn:8020"

    monkeypatch.setattr(delta_log, "_hadoop_fs",
                        lambda spark, path: (_Fs(), path))
    delta_log._fs_uri.cache_clear()
    try:
        key = delta_log._file_key
        assert key(None, "/t/a b/f.parquet") == "file:/t/a b/f.parquet"
        assert key(None, "file:///t/f") == key(None, "file:/t/f") \
            == key(None, "file:////t/f") == "file:/t/f"
        assert key(None, "rel/f") == "file:" + os.path.abspath("rel/f")
        assert key(None, "s3a://b/k/f") == "s3a://b/k/f"
        assert key(spark, "hdfs:///w/t/f") == "hdfs://nn:8020/w/t/f"
        stored = ["hdfs:///w/t/d/f", "d/f", "hdfs://other/w/t/d/f"]
        got = [r.k for r in spark.createDataFrame(
            [(s,) for s in stored], "p string").select(
            delta_log._stored_file_key_col(spark, "hdfs:///w/t", F.col("p"))
            .alias("k")).collect()]
        assert got == [delta_log._stored_file_key(spark, "hdfs:///w/t", s)
                       for s in stored] == [
            "hdfs://nn:8020/w/t/d/f", "hdfs://nn:8020/w/t/d/f",
            "hdfs://other/w/t/d/f"]
    finally:
        delta_log._fs_uri.cache_clear()


def test_file_key_has_one_definition():
    """Readers and writers key rows to files through the shared file key
    in ``delta_log`` alone: no module under sources/, sinks/ or
    operators/ keys on a path suffix or defines a key of its own."""
    import pathlib
    import re

    pkg = (pathlib.Path(__file__).resolve().parents[1]
           / "databricks_import_pyspark_scripts_spark")
    suffix = re.compile(r'\[-2:\]|"/",\s*-2\s*\)|element_at\(\w+,\s*-2\)')
    defs: dict[str, list[str]] = {}
    for sub in ("sources", "sinks", "operators"):
        for f in sorted((pkg / sub).glob("*.py")):
            text = f.read_text()
            assert not suffix.search(text), f"path-suffix key in {f.name}"
            for name in re.findall(r"^def (_\w*file_key\w*)\(", text,
                                   re.MULTILINE):
                defs.setdefault(name, []).append(f.name)
    assert defs == {name: ["delta_log.py"] for name in (
        "_file_key_col", "_file_key", "_stored_file_key",
        "_stored_file_key_col")}


def test_delta_log_has_one_reader():
    """The Delta log is read by ``delta_log`` alone: no other module
    names commit or checkpoint files, no other Delta module defines a
    checkpoint function that does not write one, and the Iceberg data
    source plans through ``sources/iceberg.py`` instead of decoding
    manifests itself."""
    import pathlib
    import re

    pkg = (pathlib.Path(__file__).resolve().parents[1]
           / "databricks_import_pyspark_scripts_spark")
    for f in sorted(pkg.rglob("*.py")):
        if f.name != "delta_log.py":
            assert r"\d{20}" not in f.read_text(), f"log file names in {f}"
    for f in [*(pkg / "sources").glob("*.py"), *(pkg / "sinks").glob("*.py"),
              pkg / "delta.py"]:
        if f.name != "delta_log.py":
            for name in re.findall(r"^\s*def (\w*checkpoint\w*)\(",
                                   f.read_text(), re.MULTILINE):
                assert "write" in name or name.startswith("checkpoint"), \
                    f"checkpoint selection {name} in {f.name}"
    ice = (pkg / "sources" / "iceberg_stream_datasource.py").read_text()
    assert "read_container" not in ice


# ----------------------------------------------------- versioned-source dispatch

def test_versioned_source_dispatches_to_delta(spark, tmp_path):
    root = str(tmp_path)
    make_delta_table(os.path.join(root, "events_delta"))
    snap = read_snapshot(spark, root, "events_delta", 1)
    assert _ids(snap) == [1, 2, 3, 6, 7, 8]
    ch = read_changes(spark, root, "events_delta", 1, 2)
    assert ch.count() == 2
    assert {c for c in ch.columns} >= {"_change_type", "_commit_version",
                                       "_commit_timestamp"}
    # S3 dispatcher: start==0 -> snapshot of end, same as the reference
    assert _ids(fetch_data(spark, root, "events_delta", 0, 2)) \
        == [1, 2, 3, 6, 7, 8]


def test_repeated_fetch_converts_no_py4j_exception(spark, tmp_path,
                                                   monkeypatch):
    """Whether Delta's jars are on the classpath is asked once per JVM.
    Without them the lookup raises in the JVM, and PySpark's conversion
    of that exception cost every read about 25 ms."""
    from pyspark.errors.exceptions import captured

    root = str(tmp_path)
    make_delta_table(os.path.join(root, "t"))
    fetch_data(spark, root, "t", 1, 2)
    converted = []
    real = captured.convert_exception
    monkeypatch.setattr(captured, "convert_exception",
                        lambda e: converted.append(e) or real(e))
    assert fetch_data(spark, root, "t", 1, 2).count() == 2
    assert converted == []


def test_run_unload_end_to_end_from_delta_table(spark, tmp_path):
    """The reference's whole job shape — versioned read -> CDC filter ->
    SQL -> sized sink + sidecars — driven from a REAL Delta table dir with
    no Delta jars, through the normal dispatch (no test seams)."""
    from databricks_import_pyspark_scripts_spark.plans.pipeline import (
        UnloadJob,
        run_unload,
    )

    root = str(tmp_path / "src")
    make_delta_table(os.path.join(root, "tbl"))
    out = str(tmp_path / "out")
    job = UnloadJob(
        source_root=root, table_versions={"tbl": [0, 2]},
        sql="SELECT id, val, part FROM tbl WHERE id <= 7",
        output_path=out, data_type="EVENT", fmt="parquet",
        partitioning_strategy="none")
    run_unload(spark, job)
    got = spark.read.parquet(f"{out}/part-*")
    assert _ids(got) == [1, 2, 3, 6, 7]
    meta = json.loads(spark.read.text(f"{out}/meta").collect()[0].value)
    assert meta["event_count"] == 5


def test_delta_tail_incremental_pulls(spark, delta_table):
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        delta_tail,
    )
    from delta_fixture import _commit, _write_parquet

    # first pull from scratch: all three commits' changes (v1 + v2; v0 is
    # the base snapshot — (0, 2] excludes it, reference dispatcher S3)
    df, hwm = delta_tail(spark, delta_table, 0)
    assert hwm == 2 and df.count() == 6
    # caught up: no work, no version movement
    df, hwm = delta_tail(spark, delta_table, hwm)
    assert df is None and hwm == 2
    # a new append commit arrives -> exactly its rows, new high-water mark
    _write_parquet(os.path.join(delta_table, "part=c", "f5.parquet"),
                   [9], [9.0])
    _commit(os.path.join(delta_table, "_delta_log"), 3, [
        {"commitInfo": {"timestamp": V2_TS_MS + 1000, "operation": "WRITE"}},
        {"add": {"path": "part=c/f5.parquet",
                 "partitionValues": {"part": "c"}, "size": 1,
                 "dataChange": True}}])
    df, hwm = delta_tail(spark, delta_table, hwm)
    assert hwm == 3
    rows = [(r.id, r.part, r._change_type, r._commit_version)
            for r in df.collect()]
    assert rows == [(9, "c", "insert", 3)]


def test_multipart_checkpoint_replay(spark, delta_table):
    """Multi-part classic checkpoints (%020d.checkpoint.%010d.%010d.parquet)
    replay identically to single-part ones."""
    import glob
    import shutil

    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        replay_log,
    )
    from delta_fixture import write_checkpoint

    rep = replay_log(spark, delta_table, 1)
    adds = list(rep.files.values())
    # part 1: protocol+metaData+first add; part 2: the remaining adds
    log = os.path.join(delta_table, "_delta_log")
    write_checkpoint(spark, delta_table, 1,
                     [{"protocol": rep.protocol}, {"metaData": rep.metadata},
                      {"add": adds[0]}])
    single = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    shutil.move(single,
                os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    write_checkpoint(spark, delta_table, 1,
                     [{"add": a} for a in adds[1:]])
    shutil.move(single,
                os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": len(adds) + 2, "parts": 2}, f)
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    assert glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    assert _ids(read_delta_snapshot(spark, delta_table, 2)) \
        == [1, 2, 3, 6, 7, 8]

    # a newer checkpoint with one of its two parts missing is no
    # checkpoint: with no _last_checkpoint pointer, replay starts from the
    # complete one at v1 and applies v2 from its JSON file
    rep = replay_log(spark, delta_table, 2)
    write_checkpoint(spark, delta_table, 2,
                     [{"protocol": rep.protocol}, {"metaData": rep.metadata},
                      {"add": next(iter(rep.files.values()))}])
    shutil.move(os.path.join(log, f"{2:020d}.checkpoint.parquet"),
                os.path.join(log, f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    os.remove(os.path.join(log, "_last_checkpoint"))
    assert _ids(read_delta_snapshot(spark, delta_table)) == [1, 2, 3, 6, 7, 8]
    from databricks_import_pyspark_scripts_spark.sources.delta_stream_datasource import (
        register_delta_stream_source,
    )

    register_delta_stream_source(spark)
    assert _ids(spark.read.format("delta_jarless")
                .option("path", delta_table).load()) == [1, 2, 3, 6, 7, 8]


# ---------------------------------------------------------------------------
# type widening (reader feature typeWidening)


def test_type_widened_snapshot_reads_both_physical_types(spark, tmp_path):
    """Files written before the widen (int32/float32) and after it
    (int64/float64) are served together under the CURRENT widened schema
    — Spark's vectorized parquet reader up-casts the narrow files per
    file; values from both eras must be exact."""
    from delta_fixture import make_type_widened_table

    t = make_type_widened_table(str(tmp_path / "widened"))
    df = read_delta_snapshot(spark, t)
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
        ["bigint", "double"]
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: 1.5, 2: 2.5, 3: 3.5, 4: 4.5, 5: 5.5}


def test_type_widened_time_travel_reads_narrow_schema(spark, tmp_path):
    """At v0 the table's own schema is still (int, float): time travel
    serves exactly that schema, no cast involved."""
    from delta_fixture import make_type_widened_table

    t = make_type_widened_table(str(tmp_path / "widened"))
    df = read_delta_snapshot(spark, t, 0)
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
        ["int", "float"]
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]


def test_type_widening_preview_feature_name_accepted(spark, tmp_path):
    """DBR's preview tables advertise `typeWidening-preview`; both names
    must pass the protocol check."""
    from delta_fixture import make_type_widened_table

    t = make_type_widened_table(str(tmp_path / "widened"))
    log = os.path.join(t, "_delta_log")
    p = os.path.join(log, f"{0:020d}.json")
    lines = [json.loads(l) for l in open(p)]
    for a in lines:
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = ["typeWidening-preview"]
    with open(p, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")
    assert sorted(r.id for r in read_delta_snapshot(spark, t).collect()) \
        == [1, 2, 3, 4, 5]


def test_unknown_reader_feature_still_rejected(spark, tmp_path):
    """Widening support must not loosen the general gate: an unknown
    reader feature still rejects loudly before any scan."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        DeltaProtocolError,
    )
    from delta_fixture import make_type_widened_table

    t = make_type_widened_table(str(tmp_path / "widened"))
    log = os.path.join(t, "_delta_log")
    p = os.path.join(log, f"{0:020d}.json")
    lines = [json.loads(l) for l in open(p)]
    for a in lines:
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = ["typeWidening", "futureStuff"]
    with open(p, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(DeltaProtocolError, match="futureStuff"):
        read_delta_snapshot(spark, t).collect()
