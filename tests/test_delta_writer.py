"""Transactional jar-less Delta writer (sinks/delta_writer.py): commit
atomicity / OCC races, blind-append rebase, partitioned staging (null
partition values included), footer stats on adds, DELETE/UPDATE rewrite
scope + explicit cdc files, protocol write-gating, classic checkpoints
read back by the replay reader, and vacuum. Every read goes through
sources/delta_log.py — writer and reader attest each other."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
    ConcurrentWriteError,
    append_delta,
    create_delta_table,
    delete_where,
    latest_delta_version,
    merge_into,
    overwrite_delta,
    replace_where,
    update_where,
    vacuum_delta,
    write_classic_checkpoint,
)
from databricks_import_pyspark_scripts_spark.sources.delta_log import (
    DeltaProtocolError,
    read_delta_changes,
    read_delta_snapshot,
    replay_log,
)

def _frame(spark, lo: int, hi: int, null_p_below: int | None = None):
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 2.0).alias("v"))
    if null_p_below is not None:
        df = df.withColumn(
            "p", F.when(F.col("k") < null_p_below, F.lit(None))
            .otherwise(F.col("p")))
    return df


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    create_delta_table(spark, _frame(spark, 0, 100, null_p_below=10), t,
                       partition_by=["p"], cdf=True, ts_ms=1000)
    return t


def _ks(df):
    return sorted(r.k for r in df.select("k").collect())


# ---------------------------------------------------------------------------
# create / append / read-back

def test_create_and_snapshot_roundtrip(spark, table):
    snap = read_delta_snapshot(spark, table)
    assert _ks(snap) == list(range(100))
    # partition column re-attached with its value, including the nulls
    assert snap.filter("p IS NULL").count() == 10
    assert snap.filter("p = '2'").count() == 23  # 10..99, id%4==2


def test_append_accumulates_and_time_travel_excludes(spark, table):
    v = append_delta(spark, _frame(spark, 100, 120), table, ts_ms=2000)
    assert v == 1
    assert _ks(read_delta_snapshot(spark, table)) == list(range(120))
    assert _ks(read_delta_snapshot(spark, table, version=0)) == list(range(100))


def test_partition_values_not_duplicated_in_data_files(spark, table):
    import urllib.parse

    import pyarrow.parquet as pq
    rep = replay_log(spark, table)
    for path in rep.files:
        cols = pq.ParquetFile(os.path.join(
            table, urllib.parse.unquote(path))).schema_arrow.names
        assert "p" not in cols  # carried by partitionValues only


def test_adds_carry_footer_stats_for_data_skipping(spark, table):
    rep = replay_log(spark, table)
    stats = [json.loads(a["stats"]) for a in rep.files.values()]
    assert all("numRecords" in s for s in stats)
    ks = [s["minValues"].get("k") for s in stats if s["minValues"]]
    assert ks and all(isinstance(k, int) for k in ks)


def test_append_schema_mismatch_fails_before_commit(spark, table):
    bad = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="does not match table schema"):
        append_delta(spark, bad, table)
    assert latest_delta_version(spark, table) == 0


def test_empty_append_commits_no_files(spark, table):
    v = append_delta(spark, _frame(spark, 0, 0), table, ts_ms=2000)
    assert v == 1
    assert read_delta_snapshot(spark, table).count() == 100


def test_overwrite_replaces_everything(spark, table):
    v = overwrite_delta(spark, _frame(spark, 500, 510), table, ts_ms=2000)
    assert v == 1
    assert _ks(read_delta_snapshot(spark, table)) == list(range(500, 510))
    assert _ks(read_delta_snapshot(spark, table, version=0)) == list(range(100))
    # CDF synthesis from the file ops: every old row deleted, new inserted
    ch = read_delta_changes(spark, table, 0, 1)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"delete": 100, "insert": 10}


# ---------------------------------------------------------------------------
# OCC: the commit primitive under races

def test_append_rebases_over_a_lost_race(spark, table):
    # someone else takes version 1 between our replay and our commit:
    # pre-create it so the first attempt loses, forcing the rebase path
    os.makedirs(os.path.join(table, "_delta_log"), exist_ok=True)
    with open(os.path.join(table, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1500,
                                           "operation": "WRITE"}}) + "\n")
    v = append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000)
    assert v == 2
    assert _ks(read_delta_snapshot(spark, table)) == list(range(110))


def test_read_dependent_ops_abort_on_any_intervening_commit(
        spark, table, monkeypatch):
    # emulate a writer that lands a commit AFTER this op's snapshot read
    # but BEFORE its commit attempt: steal the next version during staging
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer

    real_stage = delta_writer._stage_files
    state = {"next": 1}

    def stage_and_steal(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        v = state["next"]
        state["next"] += 1
        with open(os.path.join(table, "_delta_log", f"{v:020d}.json"),
                  "w") as f:
            f.write(json.dumps({"commitInfo": {"timestamp": 1600,
                                               "operation": "WRITE"}}) + "\n")
        return out

    monkeypatch.setattr(delta_writer, "_stage_files", stage_and_steal)
    with pytest.raises(ConcurrentWriteError):
        delete_where(spark, table, "k < 5", ts_ms=3000)
    with pytest.raises(ConcurrentWriteError):
        overwrite_delta(spark, _frame(spark, 0, 5), table, ts_ms=3000)
    with pytest.raises(ConcurrentWriteError):
        update_where(spark, table, "k < 5", {"v": "v + 1"}, ts_ms=3000)


def test_create_refuses_existing_table(spark, table):
    with pytest.raises(FileExistsError):
        create_delta_table(spark, _frame(spark, 0, 5), table)


# ---------------------------------------------------------------------------
# DELETE / UPDATE: rewrite scope + cdc

def test_delete_where_removes_matches_and_keeps_null_pred_rows(spark, table):
    v = delete_where(spark, table, "k % 10 = 3", ts_ms=3000)
    assert v == 1
    snap = read_delta_snapshot(spark, table)
    assert snap.filter("k % 10 = 3").count() == 0
    assert snap.count() == 90
    # NULL-predicate rows are kept (SQL DELETE semantics)
    v2 = delete_where(spark, table, "CASE WHEN k < 50 THEN NULL ELSE k >= 98 END",
                      ts_ms=4000)
    assert v2 == 2
    assert read_delta_snapshot(spark, table).count() == 88  # only 98, 99 go


def test_delete_where_touches_only_matching_files(spark, table):
    import urllib.parse
    before = set(replay_log(spark, table).files)
    delete_where(spark, table, "p = '1' AND k < 30", ts_ms=3000)
    after = set(replay_log(spark, table).files)
    survivors = before & after
    # every file of untouched partitions survived the rewrite verbatim
    untouched = {p for p in before
                 if "/p=1/" not in f"/{urllib.parse.unquote(p)}"}
    assert untouched <= survivors


def test_delete_where_no_match_commits_nothing(spark, table):
    v = delete_where(spark, table, "k > 10000", ts_ms=3000)
    assert v == 0
    assert latest_delta_version(spark, table) == 0


def test_delete_writes_explicit_cdc_delete_rows(spark, table):
    delete_where(spark, table, "k % 10 = 3", ts_ms=3000)
    ch = read_delta_changes(spark, table, 0, 1)
    assert {r["_change_type"] for r in ch.select("_change_type")
            .distinct().collect()} == {"delete"}
    assert sorted(r.k for r in ch.select("k").collect()) == \
        [k for k in range(100) if k % 10 == 3]
    # cdc actions present in the log (not synthesized from file ops)
    acts = replay_log(spark, table, collect_from=1).commit_actions[1]
    assert any("cdc" in a for a in acts)


def test_update_where_rewrites_values_and_cdc_images(spark, table):
    v = update_where(spark, table, "k < 5", {"v": "v + 1000"}, ts_ms=3000)
    assert v == 1
    snap = read_delta_snapshot(spark, table)
    got = {r.k: r.v for r in snap.filter("k < 6").collect()}
    assert got == {0: 1000.0, 1: 1002.0, 2: 1004.0, 3: 1006.0, 4: 1008.0,
                   5: 10.0}
    ch = read_delta_changes(spark, table, 0, 1)
    pre = {r.k: r.v for r in ch.filter("_change_type = 'update_preimage'")
           .collect()}
    post = {r.k: r.v for r in ch.filter("_change_type = 'update_postimage'")
            .collect()}
    assert pre == {0: 0.0, 1: 2.0, 2: 4.0, 3: 6.0, 4: 8.0}
    assert post == {0: 1000.0, 1: 1002.0, 2: 1004.0, 3: 1006.0, 4: 1008.0}


def test_update_unknown_column_fails(spark, table):
    with pytest.raises(ValueError, match="not table columns"):
        update_where(spark, table, "k < 5", {"nope": "1"})


# ---------------------------------------------------------------------------
# protocol write-gating

def _set_config(table, extra_conf=None, schema_extra=None,
                writer_features=None):
    """Rewrite commit 0's metaData/protocol with hostile settings."""
    log = os.path.join(table, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(x) for x in open(log) if x.strip()]
    for a in lines:
        if "metaData" in a:
            if extra_conf:
                a["metaData"]["configuration"].update(extra_conf)
            if schema_extra:
                sch = json.loads(a["metaData"]["schemaString"])
                sch["fields"][0].setdefault("metadata", {}).update(schema_extra)
                a["metaData"]["schemaString"] = json.dumps(sch)
        if "protocol" in a and writer_features is not None:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 7,
                             "writerFeatures": writer_features}
    with open(log, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")


def test_append_only_table_refuses_destructive_ops(spark, table):
    _set_config(table, extra_conf={"delta.appendOnly": "true"})
    with pytest.raises(DeltaProtocolError, match="append-only"):
        delete_where(spark, table, "k < 5")
    with pytest.raises(DeltaProtocolError, match="append-only"):
        overwrite_delta(spark, _frame(spark, 0, 5), table)
    # appends still fine
    append_delta(spark, _frame(spark, 100, 105), table, ts_ms=2000)


def test_unknown_writer_feature_refused(spark, table):
    _set_config(table, writer_features=["changeDataFeed", "icebergCompatV2"])
    with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
        append_delta(spark, _frame(spark, 100, 105), table)


def test_declared_invariants_now_enforced(spark, table):
    """r10: invariants are ENFORCED, not refused — a conforming append
    lands, a violating one raises before any commit."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
    )
    _set_config(table, schema_extra={
        "delta.invariants": '{"expression":{"expression":"k < 200"}}'})
    append_delta(spark, _frame(spark, 100, 105), table, ts_ms=2000)
    with pytest.raises(DeltaConstraintViolation, match="invariant"):
        append_delta(spark, _frame(spark, 300, 305), table, ts_ms=3000)


def test_check_constraints_now_enforced_on_rewrite(spark, table):
    """r10: a rewrite-DELETE on a constraint-declaring table stages only
    rows that already satisfy the rule — it proceeds; an UPDATE that
    would break the rule raises."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
    )
    _set_config(table, extra_conf={"delta.constraints.c1": "k >= 0"})
    delete_where(spark, table, "k < 5", ts_ms=2000)
    assert _ks(read_delta_snapshot(spark, table)) == list(range(5, 100))
    with pytest.raises(DeltaConstraintViolation, match="c1"):
        update_where(spark, table, "k = 7", {"k": "-1"}, ts_ms=3000)


def test_column_mapped_name_mode_delete_now_works(spark, tmp_path):
    """r10: name-mode tables are writable (physical staging); the
    rewrite-DELETE lands and the logical read reflects it. (id mode
    keeps refusing — pinned in test_column_mapped_name_mode_write_ops.)"""
    from delta_fixture import make_column_mapped_table
    t = make_column_mapped_table(str(tmp_path / "cm"))
    delete_where(spark, t, "id = 1", ts_ms=5000)
    assert sorted(r.id for r in read_delta_snapshot(spark, t)
                  .collect()) == [2, 3]


# ---------------------------------------------------------------------------
# checkpoint + vacuum + dv interplay

def test_checkpoint_lets_replay_skip_retired_json_prefix(spark, table):
    append_delta(spark, _frame(spark, 100, 120), table, ts_ms=2000)
    delete_where(spark, table, "k % 10 = 3", ts_ms=3000)
    cp = write_classic_checkpoint(spark, table)
    assert cp == 2
    for v in range(cp):
        os.unlink(os.path.join(table, "_delta_log", f"{v:020d}.json"))
    snap = read_delta_snapshot(spark, table)
    assert snap.count() == 108
    assert snap.filter("p IS NULL").count() == 9  # k=3 deleted from nulls
    # stats survive the checkpoint round-trip (data skipping after replay)
    rep = replay_log(spark, table)
    assert all(a.get("stats") for a in rep.files.values())


def test_checkpoint_refused_on_v2_checkpoint_tables(spark, table):
    _set_config(table, writer_features=["v2Checkpoint"])
    with pytest.raises(DeltaProtocolError, match="v2"):
        write_classic_checkpoint(spark, table)


def test_vacuum_drops_tombstoned_files_keeps_live(spark, table):
    delete_where(spark, table, "p = '1'", ts_ms=3000)
    live_before = read_delta_snapshot(spark, table).count()
    doomed = vacuum_delta(spark, table, retention_ms=0, now_ms=10**15)
    assert doomed  # the rewritten p=1 originals
    assert read_delta_snapshot(spark, table).count() == live_before
    # time travel to v0 now fails loudly (files vacuumed), Delta parity
    with pytest.raises(Exception):
        read_delta_snapshot(spark, table, version=0).count()


def test_vacuum_respects_retention(spark, table):
    delete_where(spark, table, "p = '1'", ts_ms=3000)
    assert vacuum_delta(spark, table, retention_ms=10**15) == []


def test_vacuum_dry_run_deletes_nothing(spark, table):
    delete_where(spark, table, "p = '1'", ts_ms=3000)
    doomed = vacuum_delta(spark, table, retention_ms=0, now_ms=10**15,
                          dry_run=True)
    assert doomed
    assert all(os.path.exists(p) for p in doomed)


def test_delete_on_dv_table_folds_dv_into_rewrite(spark, tmp_path):
    """DELETE on a deletion-vector table: the scan already drops DV'd rows,
    so the rewrite compacts the DV away and never resurrects those rows."""
    from delta_fixture import make_dv_delta_table
    t = make_dv_delta_table(str(tmp_path / "dv"))
    paths_before = set(replay_log(spark, t).files)
    before = read_delta_snapshot(spark, t)
    dv_hidden = before.count()
    some_id = before.agg(F.min("id")).first()[0]
    delete_where(spark, t, f"id = {some_id}", ts_ms=10**12)
    after = read_delta_snapshot(spark, t)
    assert after.count() == dv_hidden - 1
    assert after.filter(f"id = {some_id}").count() == 0
    # rewritten files carry no deletionVector anymore
    rep = replay_log(spark, t)
    rewritten = [a for p, a in rep.files.items() if p not in paths_before]
    assert rewritten and all(not a.get("deletionVector") for a in rewritten)


# ---------------------------------------------------------------------------
# delta as an EXPORT format (sinks/writers.py + plans/pipeline.py)

def test_write_export_delta_create_then_overwrite(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sinks.writers import (
        write_export,
    )

    out = str(tmp_path / "exp")
    df1 = _frame(spark, 0, 20)
    write_export(df1, out, "delta", partition_by=["p"])
    assert _ks(read_delta_snapshot(spark, out)) == list(range(20))
    # re-export = one atomic overwrite commit; old state stays time-travelable
    write_export(_frame(spark, 100, 105), out, "delta")
    assert _ks(read_delta_snapshot(spark, out)) == list(range(100, 105))
    assert _ks(read_delta_snapshot(spark, out, version=0)) == list(range(20))
    # partition layout survived from the create
    rep = replay_log(spark, out, 0)
    assert rep.partition_columns == ["p"]


def test_unload_pipeline_delta_format_e2e(spark, tmp_path):
    """The reference's job shape with a Delta DESTINATION: versioned read ->
    SQL -> transactional delta write; sidecars go under underscore names
    (invisible to Delta readers and vacuum), and the export is readable
    back through the log-replay reader."""
    import json as _json

    from databricks_import_pyspark_scripts_spark.plans.pipeline import (
        UnloadJob,
        run_unload,
    )
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        vacuum_delta,
    )

    root = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "signup", 10.0), (2, "click", 5.0), (3, "view", 1.0)],
        "id int, event_type string, value double",
    ).write.parquet(f"{root}/ev/v=1")
    out = str(tmp_path / "delta_out")
    report = run_unload(spark, UnloadJob(
        source_root=root, table_versions={"ev": [0, 1]},
        sql="SELECT id, UPPER(event_type) AS et, value * 2 AS v2 FROM ev",
        output_path=out, fmt="delta"))
    assert report["rows"] == 3
    snap = read_delta_snapshot(spark, out)
    assert sorted(r.et for r in snap.collect()) == ["CLICK", "SIGNUP", "VIEW"]
    # read directly: Spark's file source treats underscore-prefixed files
    # as hidden — exactly why delta sidecars use that prefix
    with open(os.path.join(out, "_meta")) as f:
        meta = _json.load(f)
    assert meta["event_count"] == 3
    assert os.path.exists(os.path.join(out, "_logs"))
    # vacuum must not eat the sidecars (underscore convention)
    vacuum_delta(spark, out, retention_ms=0, now_ms=10**15)
    assert os.path.exists(os.path.join(out, "_meta"))
    assert read_delta_snapshot(spark, out).count() == 3


def test_export_observe_count_single_execution(spark, tmp_path):
    """The delta branch must execute the plan exactly once (the observe
    row count is collected during the staging write, like the
    parquet/json paths — no count-then-write double execution)."""
    from pyspark.sql import Observation

    from databricks_import_pyspark_scripts_spark.sinks.writers import (
        write_export,
    )

    out = str(tmp_path / "obs")
    obs = Observation("delta_export_obs")
    df = _frame(spark, 0, 50).observe(obs, F.count(F.lit(1)).alias("rows"))
    write_export(df, out, "delta")
    assert int(obs.get["rows"]) == 50
    assert read_delta_snapshot(spark, out).count() == 50


# ---------------------------------------------------------------------------
# txn actions: the exactly-once streaming handshake

def test_txn_append_is_idempotent(spark, table):
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        last_txn_version,
    )

    v1 = append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000,
                      txn_app_id="app", txn_version=0)
    assert v1 == 1
    # redelivery of the same batch: no commit, no duplicate rows
    v2 = append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2500,
                      txn_app_id="app", txn_version=0)
    assert v2 == 1
    assert latest_delta_version(spark, table) == 1
    assert read_delta_snapshot(spark, table).count() == 110
    # a LOWER version replays idempotently too; the next one commits
    v3 = append_delta(spark, _frame(spark, 110, 115), table, ts_ms=3000,
                      txn_app_id="app", txn_version=1)
    assert v3 == 2
    assert last_txn_version(spark, table, "app") == 1
    assert last_txn_version(spark, table, "other") is None


def test_txn_rebase_detects_racing_duplicate(spark, table, monkeypatch):
    """If the commit race is lost to the SAME txn (another instance of this
    writer), the rebase must drop our copy instead of double-appending."""
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer

    real_stage = delta_writer._stage_files

    def stage_and_steal(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        payload = (json.dumps({"commitInfo": {"timestamp": 1600,
                                              "operation": "WRITE"}}) + "\n"
                   + json.dumps({"txn": {"appId": "app", "version": 7}})
                   + "\n")
        p = os.path.join(table, "_delta_log", f"{1:020d}.json")
        if not os.path.exists(p):
            with open(p, "w") as f:
                f.write(payload)
        return out

    monkeypatch.setattr(delta_writer, "_stage_files", stage_and_steal)
    v = append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000,
                     txn_app_id="app", txn_version=7)
    assert v == 1  # the racer's commit IS this txn; ours was dropped
    assert read_delta_snapshot(spark, table).count() == 100


def test_txn_watermark_survives_checkpoint(spark, table):
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        last_txn_version,
    )

    append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000,
                 txn_app_id="app", txn_version=3)
    cp = write_classic_checkpoint(spark, table)
    for v in range(cp):
        os.unlink(os.path.join(table, "_delta_log", f"{v:020d}.json"))
    assert last_txn_version(spark, table, "app") == 3
    # idempotence still holds across the retired-json boundary
    v = append_delta(spark, _frame(spark, 100, 110), table, ts_ms=3000,
                     txn_app_id="app", txn_version=3)
    assert v == cp
    assert read_delta_snapshot(spark, table).count() == 110


def test_stream_delta_sink_exactly_once_across_restart(spark, tmp_path):
    """availableNow file-source stream into the delta sink, then a SECOND
    run with a FRESH streaming checkpoint (batch ids restart at 0 — the
    worst redelivery case): the txn handshake makes the rerun a no-op, so
    the table holds each row exactly once."""
    from databricks_import_pyspark_scripts_spark.streaming.pipeline import (
        stream_delta_sink,
    )

    src = str(tmp_path / "src")
    _frame(spark, 0, 40).write.parquet(src)
    t = str(tmp_path / "sink")
    create_delta_table(
        spark, spark.createDataFrame([], "k long, p string, v double"), t,
        ts_ms=1000)

    # bounded source + processAllAvailable = availableNow semantics.
    # scope_to_checkpoint=False: this source is deterministically
    # re-emitted, so CROSS-checkpoint dedup is exactly what we want here
    stream = (spark.readStream.schema("k long, p string, v double")
              .parquet(src))
    q = stream_delta_sink(stream, t, "ingest-app", str(tmp_path / "cp1"),
                          scope_to_checkpoint=False)
    q.processAllAvailable()
    q.stop()
    first = read_delta_snapshot(spark, t).count()
    assert first == 40

    # rerun with a FRESH checkpoint: batch 0 is re-emitted with the same
    # data; the table's txn watermark makes it a no-op
    stream2 = (spark.readStream.schema("k long, p string, v double")
               .parquet(src))
    q2 = stream_delta_sink(stream2, t, "ingest-app", str(tmp_path / "cp2"),
                           scope_to_checkpoint=False)
    q2.processAllAvailable()
    q2.stop()
    assert read_delta_snapshot(spark, t).count() == 40


# ---------------------------------------------------------------------------
# MERGE INTO

def test_merge_upsert_update_and_insert(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    # v -> t.v + s.v on the updated keys
    v = merge_into(spark, table, _upsert_source(spark), on=["k"],
                   when_matched_update={"v": "t.v + s.v"}, ts_ms=3000)
    assert v == 1
    snap = read_delta_snapshot(spark, table)
    got = {r.k: r.v for r in snap.filter("k IN (0, 4, 8, 200, 201, 1)")
           .collect()}
    assert got == {0: 100.0, 4: 108.0, 8: 116.0, 200: 1.0, 201: 2.0, 1: 2.0}
    assert snap.count() == 102
    # cdc: pre/post for the 3 updates, insert for the 2 new rows
    ch = read_delta_changes(spark, table, 0, 1)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count("*").alias("n"))
              .collect()}
    assert counts == {"update_preimage": 3, "update_postimage": 3,
                      "insert": 2}


def test_merge_matched_delete_clause(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    source = spark.createDataFrame(
        [(0, "0", 1.0), (4, "0", 1.0), (300, "z", 3.0)],
        "k long, p string, v double")
    merge_into(spark, table, source, on=["k"],
               when_matched_delete="s.v < t.v",  # deletes k=4 (t.v=8 > 1)
               when_matched_update={"v": "s.v"},  # k=0 (t.v=0 -> no delete)
               ts_ms=3000)
    snap = read_delta_snapshot(spark, table)
    assert snap.filter("k = 4").count() == 0
    assert snap.filter("k = 0").first().v == 1.0
    assert snap.filter("k = 300").count() == 1
    assert snap.count() == 100  # 100 - 1 deleted + 1 inserted


def test_merge_rejects_duplicate_source_matches(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    source = spark.createDataFrame(
        [(0, "0", 1.0), (0, "0", 2.0)], "k long, p string, v double")
    with pytest.raises(ValueError, match="nondeterministic"):
        merge_into(spark, table, source, on=["k"],
                   when_matched_update={"v": "s.v"})
    # duplicate source rows that match NOTHING are fine (insert both? no —
    # they'd collide as inserts too, but Delta allows them; we insert both)
    source2 = spark.createDataFrame(
        [(500, "a", 1.0), (500, "a", 2.0)], "k long, p string, v double")
    merge_into(spark, table, source2, on=["k"],
               when_matched_update={"v": "s.v"}, ts_ms=3000)
    assert read_delta_snapshot(spark, table).filter("k = 500").count() == 2


def test_merge_into_empty_table_is_insert_only(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    t = str(tmp_path / "empty")
    create_delta_table(
        spark, spark.createDataFrame([], "k long, p string, v double"), t,
        ts_ms=1000)
    src = _frame(spark, 0, 10)
    v = merge_into(spark, t, src, on=["k"],
                   when_matched_update={"v": "s.v"}, ts_ms=2000)
    assert v == 1
    assert read_delta_snapshot(spark, t).count() == 10


def test_merge_touches_only_matching_files(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )
    import urllib.parse

    before = set(replay_log(spark, table).files)
    source = spark.createDataFrame([(13, "1", 9.0)],
                                   "k long, p string, v double")
    merge_into(spark, table, source, on=["k"],
               when_matched_update={"v": "s.v"},
               when_not_matched_insert=False, ts_ms=3000)
    after = set(replay_log(spark, table).files)
    untouched = {p for p in before
                 if "/p=1/" not in f"/{urllib.parse.unquote(p)}"}
    assert untouched <= (before & after)
    assert read_delta_snapshot(spark, table).filter("k = 13").first().v == 9.0


def _upsert_source(spark):
    # updates k in {0, 4, 8}, inserts k in {200, 201}
    return spark.createDataFrame(
        [(0, "0", 100.0), (4, "0", 100.0), (8, "0", 100.0),
         (200, "x", 1.0), (201, "y", 2.0)],
        "k long, p string, v double")


def _replacement(spark):
    return spark.range(200, 210).selectExpr(
        "id AS k", "'2' AS p", "CAST(id * 3.0 AS double) AS v")


#: verb x layout -> (op on the ``table`` fixture, Spark jobs it may run,
#: rows left in the table)
_ROW_OP_BUDGETS = {
    "delete-rewrite": (lambda spark, t: delete_where(
        spark, t, "k % 7 = 1", ts_ms=3000), 9, 85),
    "delete-dv": (lambda spark, t: delete_where(
        spark, t, "k % 7 = 1", ts_ms=3000, use_dv=True), 5, 85),
    "update-rewrite": (lambda spark, t: update_where(
        spark, t, "k % 7 = 1", {"v": "v + 1"}, ts_ms=3000), 9, 100),
    "update-dv": (lambda spark, t: update_where(
        spark, t, "k % 7 = 1", {"v": "v + 1"}, ts_ms=3000,
        use_dv=True), 10, 100),
    "merge-rewrite": (lambda spark, t: merge_into(
        spark, t, _upsert_source(spark), on=["k"],
        when_matched_update={"v": "t.v + s.v"}, ts_ms=3000), 20, 102),
    "merge-dv": (lambda spark, t: merge_into(
        spark, t, _upsert_source(spark), on=["k"],
        when_matched_update={"v": "t.v + s.v"}, ts_ms=3000,
        use_dv=True), 19, 102),
    "replace_where": (lambda spark, t: replace_where(
        spark, _replacement(spark), t, "p = '2'", ts_ms=3000), 11, 87),
}


@pytest.mark.parametrize("case", list(_ROW_OP_BUDGETS))
def test_merge_job_budget(spark, table, case):
    """Spark jobs per row-level verb and layout, all committed by
    ``_commit_rows``. An update-plus-insert merge runs one probe over
    the target and one join over the touched files shared by both
    writes: the earlier four-action merge (duplicate guard, touched-file
    collect, data write, change-feed write, each rebuilding the join)
    ran 26-27 jobs, the two-pass merge 18-20. Before the row-level verbs
    shared one commit, on this fixture in a warm 4-core session
    (``statusTracker().getJobIdsForGroup``, 3 rounds): DELETE 9
    (rewrite) and 5 (DV), UPDATE 9 and 10, MERGE 19 and 19,
    replaceWhere 11. With the shared commit each case measures the same
    count and is pinned at it, except the rewrite MERGE, which keeps its
    earlier bound of 20 (it has measured 18-20)."""
    op, budget, rows = _ROW_OP_BUDGETS[case]
    sc = spark.sparkContext
    group = f"test-merge-job-budget-{case}"
    sc.setJobGroup(group, "row-level job budget")
    try:
        op(spark, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= budget
    assert read_delta_snapshot(spark, table).count() == rows


def test_merge_releases_cached_join(spark, table):
    """The joined frame both writes share is persisted only for the
    merge: nothing stays persisted after a commit, nor after a merge
    that raises a constraint violation once the join is cached. Compared
    against the persisted set before the merge, since other code in the
    same session may hold its own checkpoints."""
    from databricks_import_pyspark_scripts_spark.operators.lineage import (
        persistent_rdd_ids,
    )
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
        merge_into,
    )

    before = persistent_rdd_ids(spark)
    merge_into(spark, table, _upsert_source(spark), on=["k"],
               when_matched_update={"v": "t.v + s.v"}, ts_ms=3000)
    assert persistent_rdd_ids(spark) == before
    _set_config(table, extra_conf={"delta.constraints.vcap": "v < 1000"})
    for use_dv in (False, True):
        with pytest.raises(DeltaConstraintViolation, match="vcap"):
            merge_into(spark, table, _upsert_source(spark), on=["k"],
                       when_matched_update={"v": "t.v + s.v * 100"},
                       ts_ms=4000, use_dv=use_dv)
        assert persistent_rdd_ids(spark) == before


# ---------------------------------------------------------------------------
# OPTIMIZE: compaction + z-order, dataChange=false semantics

def test_optimize_compacts_small_files_content_unchanged(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
    )

    # several small appends fragment the table
    for i in range(3):
        append_delta(spark, _frame(spark, 100 + i * 10, 110 + i * 10),
                     table, ts_ms=2000 + i)
    before = read_delta_snapshot(spark, table)
    rows_before = _ks(before)
    files_before = len(replay_log(spark, table).files)
    v = optimize_delta(spark, table, ts_ms=9000)
    assert v == 4
    rep = replay_log(spark, table)
    assert len(rep.files) < files_before
    assert _ks(read_delta_snapshot(spark, table)) == rows_before
    # stats present on the compacted adds (still skippable)
    assert all(a.get("stats") for a in rep.files.values())


def test_optimize_commit_is_invisible_to_cdf(spark, table):
    """dataChange=false removes+adds: CDF over the optimize version must
    contribute NOTHING (the compaction changed no logical rows)."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
    )

    append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000)
    v = optimize_delta(spark, table, ts_ms=9000)
    assert v == 2
    ch = read_delta_changes(spark, table, 1, 2)
    assert ch.count() == 0


def test_optimize_zorder_clusters_and_preserves_rows(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
    )

    rows_before = _ks(read_delta_snapshot(spark, table))
    v = optimize_delta(spark, table, zorder_by=["k", "v"], ts_ms=9000)
    assert v == 1
    assert _ks(read_delta_snapshot(spark, table)) == rows_before
    with pytest.raises(ValueError, match="not table columns"):
        optimize_delta(spark, table, zorder_by=["nope"])


def test_optimize_noop_when_nothing_to_compact(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
    )

    # one file per partition from the start -> nothing to gain, no commit
    t = str(tmp_path / "onefile")
    create_delta_table(spark, _frame(spark, 0, 100).repartition("p"), t,
                       partition_by=["p"], ts_ms=1000)
    per_part: dict = {}
    for a in replay_log(spark, t).files.values():
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert all(n == 1 for n in per_part.values())
    v = optimize_delta(spark, t, ts_ms=9000)
    assert v == 0
    assert latest_delta_version(spark, t) == 0


def test_optimize_compacts_to_one_file_per_partition(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
    )

    append_delta(spark, _frame(spark, 100, 150), table, ts_ms=2000)
    optimize_delta(spark, table, ts_ms=9000)
    per_part: dict = {}
    for a in replay_log(spark, table).files.values():
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert all(n == 1 for n in per_part.values()), per_part


def test_optimize_folds_dv_files(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
    )
    from delta_fixture import make_dv_delta_table

    t = make_dv_delta_table(str(tmp_path / "dv"))
    before = read_delta_snapshot(spark, t)
    ids = sorted(r.id for r in before.collect())
    optimize_delta(spark, t, ts_ms=10**12)
    rep = replay_log(spark, t)
    assert all(not a.get("deletionVector") for a in rep.files.values())
    assert sorted(r.id for r in
                  read_delta_snapshot(spark, t).collect()) == ids


# ---------------------------------------------------------------------------
# mergeSchema + the DeltaTable facade

def test_append_merge_schema_widens_and_old_rows_null(spark, table):
    wide = _frame(spark, 200, 210).withColumn("extra", F.lit("new"))
    v = append_delta(spark, wide, table, ts_ms=5000, merge_schema=True)
    assert v == 1
    snap = read_delta_snapshot(spark, table)
    assert "extra" in snap.columns
    assert snap.filter("extra IS NULL").count() == 100   # old rows
    assert snap.filter("extra = 'new'").count() == 10
    # plain append of the OLD shape now fails the schema contract
    with pytest.raises(ValueError, match="does not match table schema"):
        append_delta(spark, _frame(spark, 300, 305), table)


def test_append_merge_schema_refuses_type_change(spark, table):
    retyped = _frame(spark, 200, 205).withColumn(
        "v", F.col("v").cast("string"))
    with pytest.raises(DeltaProtocolError, match="type evolution"):
        append_delta(spark, retyped, table, merge_schema=True)


def test_delta_table_facade_end_to_end(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable

    path = str(tmp_path / "facade")
    dt = DeltaTable.create(spark, _frame(spark, 0, 50), path,
                           partition_by=["p"], cdf=True, ts_ms=1000)
    dt.append(_frame(spark, 50, 60), ts_ms=2000)
    dt.delete("k % 10 = 0", ts_ms=3000)
    dt.update("k = 1", {"v": "v + 7"}, ts_ms=4000)
    (dt.merge(_frame(spark, 55, 65), on=["k"])
       .when_matched_update({"v": "t.v + s.v"})
       .when_not_matched_insert()
       .execute(ts_ms=5000))
    snap = dt.to_df()
    assert snap.count() == 59  # 60 - 6 deleted + 5 inserted
    assert snap.filter("k = 1").first().v == 9.0
    assert snap.filter("k = 55").first().v == 220.0  # 110 + 110
    assert dt.version() == 4
    hist = {r.version: r.operation for r in dt.history().collect()}
    assert hist == {0: "CREATE TABLE AS SELECT", 1: "WRITE", 2: "DELETE",
                    3: "UPDATE", 4: "MERGE"}
    # optimize + checkpoint + metadata cleanup + vacuum lifecycle
    dt.optimize(ts_ms=6000)
    cp = dt.checkpoint()
    doomed_meta = dt.cleanup_metadata()
    assert doomed_meta and dt.version() == cp
    assert dt.to_df().count() == 59
    dt.vacuum(retention_hours=0, now_ms=10**15)
    assert dt.to_df().count() == 59
    # history after cleanup: only the checkpointed head remains listed
    assert {r.version for r in dt.history().collect()} == {cp}


def test_delta_table_for_path_missing(spark, tmp_path):
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable

    with pytest.raises(FileNotFoundError):
        DeltaTable.for_path(spark, str(tmp_path / "nope"))


# ---------------------------------------------------------------------------
# review-fix regressions (late-r8 code review findings)

def test_merge_null_key_matches_not_duplicated(spark, tmp_path):
    """NULL merge keys are legitimate key values under eqNullSafe: a
    NULL-keyed source row that matches a NULL-keyed target row must
    UPDATE it (not also insert a second copy), and duplicate NULL-keyed
    sources must hit the nondeterminism guard."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    t = str(tmp_path / "nullkey")
    base = spark.createDataFrame(
        [(None, 1.0), (5, 5.0)], "k long, v double")
    create_delta_table(spark, base, t, cdf=True, ts_ms=1000)
    src = spark.createDataFrame([(None, 100.0)], "k long, v double")
    merge_into(spark, t, src, on=["k"],
               when_matched_update={"v": "s.v"}, ts_ms=2000)
    snap = read_delta_snapshot(spark, t)
    assert snap.count() == 2  # no duplicate NULL-keyed insert
    assert snap.filter("k IS NULL").first().v == 100.0
    dup = spark.createDataFrame([(None, 1.0), (None, 2.0)],
                                "k long, v double")
    with pytest.raises(ValueError, match="nondeterministic"):
        merge_into(spark, t, dup, on=["k"],
                   when_matched_update={"v": "s.v"})
    # a NULL-keyed source row against a table with no NULL key matches
    # nothing: inserted exactly once
    t2 = str(tmp_path / "nokey")
    create_delta_table(spark, spark.createDataFrame(
        [(5, 5.0), (6, 6.0)], "k long, v double"), t2, ts_ms=1000)
    merge_into(spark, t2, src, on=["k"],
               when_matched_update={"v": "s.v"}, ts_ms=2000)
    snap2 = read_delta_snapshot(spark, t2)
    assert snap2.count() == 3
    assert [r.v for r in snap2.filter("k IS NULL").collect()] == [100.0]


def test_merge_insert_only_rewrites_nothing(spark, table):
    """Insert-only merge must not rewrite matched files: the file set is
    untouched except for the new adds, and the CDF for the commit shows
    ONLY the inserted rows (a rewrite without cdc would synthesize a
    spurious whole-file delete+insert feed)."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    before = set(replay_log(spark, table).files)
    src = spark.createDataFrame(
        [(5, "1", 5.0), (700, "z", 7.0)], "k long, p string, v double")
    merge_into(spark, table, src, on=["k"], ts_ms=3000)  # no matched clause
    after = set(replay_log(spark, table).files)
    assert before <= after  # nothing removed/rewritten
    ch = read_delta_changes(spark, table, 0, 1)
    assert [(r.k, r["_change_type"]) for r in
            ch.select("k", "_change_type").collect()] == [(700, "insert")]
    # a matched clause that matches nothing rewrites nothing either
    src2 = spark.createDataFrame(
        [(800, "z", 8.0), (801, "1", 8.5)], "k long, p string, v double")
    v = merge_into(spark, table, src2, on=["k"],
                   when_matched_update={"v": "s.v"}, ts_ms=4000)
    assert after <= set(replay_log(spark, table).files)
    ch = read_delta_changes(spark, table, v - 1, v)
    assert sorted((r.k, r["_change_type"]) for r in
                  ch.select("k", "_change_type").collect()) == \
        [(800, "insert"), (801, "insert")]


def test_merge_bare_column_name_is_ambiguous(spark, table):
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    src = spark.createDataFrame([(5, "1", 5.0)], "k long, p string, v double")
    with pytest.raises(Exception, match="(?i)ambiguous"):
        merge_into(spark, table, src, on=["k"],
                   when_matched_update={"v": "v + 1"})


def test_merge_schema_new_column_forced_nullable(spark, table):
    wide = _frame(spark, 200, 205).withColumn("extra", F.lit("x"))
    assert not wide.schema["extra"].nullable  # lit() is non-nullable
    append_delta(spark, wide, table, ts_ms=5000, merge_schema=True)
    rep = replay_log(spark, table)
    assert rep.schema["extra"].nullable  # forced: old rows read NULL
    snap = read_delta_snapshot(spark, table)
    assert snap.filter("extra IS NULL").count() == 100


def test_vacuum_retention_measured_from_removal_not_creation(spark, table):
    """A file created long ago but removed a minute ago must survive the
    retention window (time travel + CDF delete synthesis still need it);
    it becomes vacuumable only retention-after-REMOVAL."""
    del_ts = 10**12
    delete_where(spark, table, "p = '1'", ts_ms=del_ts)
    week = 7 * 24 * 3600 * 1000
    # "now" is one minute after the delete: nothing is old enough
    assert vacuum_delta(spark, table, retention_ms=week,
                        now_ms=del_ts + 60000) == []
    assert read_delta_snapshot(spark, table, version=0).count() == 100
    # "now" past the window: the tombstoned originals go
    doomed = vacuum_delta(spark, table, retention_ms=week,
                          now_ms=del_ts + week + 60000)
    assert doomed
    assert read_delta_snapshot(spark, table).count() == 78  # p=1 (22) gone


def test_latest_version_on_checkpoint_only_log(spark, table):
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable

    append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000)
    dt = DeltaTable.for_path(spark, table)
    cp = dt.checkpoint()
    for v in range(cp + 1):  # retire EVERY json commit incl. the head
        p = os.path.join(table, "_delta_log", f"{v:020d}.json")
        if os.path.exists(p):
            os.unlink(p)
    assert latest_delta_version(spark, table) == cp
    assert dt.version() == cp


def test_stream_delta_sink_fresh_checkpoint_new_data_not_dropped(
        spark, tmp_path):
    """Default checkpoint scoping: a FRESH checkpoint over NEW source
    data must land its rows — an unscoped constant appId would dedup the
    restarted batch ids against the old watermark and silently drop
    them."""
    from databricks_import_pyspark_scripts_spark.streaming.pipeline import (
        stream_delta_sink,
    )

    t = str(tmp_path / "sink")
    create_delta_table(
        spark, spark.createDataFrame([], "k long, v double"), t, ts_ms=1000)
    src1 = str(tmp_path / "src1")
    spark.range(0, 10).selectExpr("id AS k", "CAST(id AS double) AS v") \
        .write.parquet(src1)
    s1 = spark.readStream.schema("k long, v double").parquet(src1)
    q1 = stream_delta_sink(s1, t, "app", str(tmp_path / "cp1"))
    q1.processAllAvailable(); q1.stop()
    assert read_delta_snapshot(spark, t).count() == 10

    src2 = str(tmp_path / "src2")
    spark.range(100, 105).selectExpr("id AS k", "CAST(id AS double) AS v") \
        .write.parquet(src2)
    s2 = spark.readStream.schema("k long, v double").parquet(src2)
    q2 = stream_delta_sink(s2, t, "app", str(tmp_path / "cp2"))
    q2.processAllAvailable(); q2.stop()
    # batch 0 again, same app — but a different checkpoint lineage:
    # the new rows must NOT be deduped away
    assert read_delta_snapshot(spark, t).count() == 15


def test_append_rebase_aborts_on_concurrent_partition_spec_change(
        spark, table, monkeypatch):
    """ADVICE r8: the lost-race rebase must compare partitionColumns, not
    just writability+schema — staged files carry partitionValues for the
    OLD spec and would corrupt the mapping if committed against a
    repartitioned table. The racer's spec-changing commit lands DURING
    staging (after the appender's snapshot read), so the first commit
    attempt genuinely loses and the rebase sees the new spec."""
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer

    log = os.path.join(table, "_delta_log")
    md = None
    for line in open(os.path.join(log, f"{0:020d}.json")):
        a = json.loads(line)
        if "metaData" in a:
            md = a["metaData"]
    md = dict(md)
    md["partitionColumns"] = []  # spec change: partitioned -> flat

    real_stage = delta_writer._stage_files

    def stage_and_repartition(*args, **kwargs):
        out = real_stage(*args, **kwargs)
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"commitInfo": {
                "timestamp": 1500, "operation": "REPLACE"}}) + "\n")
            f.write(json.dumps({"metaData": md}) + "\n")
        return out

    monkeypatch.setattr(delta_writer, "_stage_files", stage_and_repartition)
    with pytest.raises(ConcurrentWriteError, match="partition spec"):
        append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000)


# ---------------------------------------------------------------------------
# checkpoint tombstones + log retention (ADVICE r9)


def test_checkpoint_carries_remove_tombstones(spark, tmp_path):
    """PROTOCOL.md: checkpoints carry remove tombstones for files removed
    within the retention window. After cleanup_metadata retires the JSON
    prefix, vacuum must still see each removed file's deletionTimestamp
    (not the mtime fallback) — a fresh removal survives its full window
    even though the file on disk is old."""
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        vacuum_delta,
        write_classic_checkpoint,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        replay_log,
    )

    t = str(tmp_path / "tomb")
    now = 10**12  # fixed "wall clock" for the whole scenario
    create_delta_table(spark, _frame(spark, 0, 40), t, cdf=False,
                       ts_ms=now - 1000)
    # overwrite removes every v0 file with deletionTimestamp = now
    overwrite_delta(spark, _frame(spark, 100, 120), t, ts_ms=now)
    write_classic_checkpoint(spark, t, now_ms=now)
    rep = replay_log(spark, t)
    assert rep.tombstones, "replay must surface standing tombstones"
    # retire the JSON prefix: the checkpoint is now the only history
    DeltaTable.for_path(spark, t).cleanup_metadata(log_retention_ms=0)
    rep2 = replay_log(spark, t)
    assert set(rep2.tombstones) == set(rep.tombstones)
    assert all(int(r.get("deletionTimestamp") or 0) == now
               for r in rep2.tombstones.values())
    # vacuum 1h after removal with 7-day retention: the removed files'
    # mtimes are minutes old anyway, but force the distinction — with a
    # now far in the future ONLY if tombstones were lost would the next
    # assert fail. Dry-run at removal+1h must keep them:
    kept = vacuum_delta(spark, t, retention_ms=7 * 24 * 3600 * 1000,
                        now_ms=now + 3600 * 1000, dry_run=True)
    assert kept == []
    # ... and past the window they go, attributed to deletionTimestamp
    doomed = vacuum_delta(spark, t, retention_ms=3600 * 1000,
                          now_ms=now + 7200 * 1000, dry_run=True)
    assert len(doomed) > 0
    # a re-added path clears its tombstone
    append_delta(spark, _frame(spark, 200, 205), t, ts_ms=now + 10)
    rep3 = replay_log(spark, t)
    assert all(p not in {a["path"] for a in rep3.files.values()}
               for p in rep3.tombstones)


def test_cleanup_metadata_respects_log_retention(spark, tmp_path):
    """ADVICE r9: a checkpoint alone must not retire fresh commits —
    only those older than delta.logRetentionDuration go."""
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        write_classic_checkpoint,
    )

    t = str(tmp_path / "ret")
    day = 24 * 3600 * 1000
    now = 10**12
    create_delta_table(spark, _frame(spark, 0, 10), t, cdf=False,
                       ts_ms=now - 40 * day)     # old commit
    append_delta(spark, _frame(spark, 10, 20), t, ts_ms=now - 1 * day)
    append_delta(spark, _frame(spark, 20, 30), t, ts_ms=now)
    write_classic_checkpoint(spark, t, now_ms=now)
    dt = DeltaTable.for_path(spark, t)
    doomed = dt.cleanup_metadata(now_ms=now)  # default 30-day retention
    # ONLY the 40-day-old v0 retires; v1 (1 day old) survives — and the
    # retire is a contiguous prefix, so had v0 been fresh, an old v1
    # could not have been deleted either
    assert [os.path.basename(p) for p in doomed] == [f"{0:020d}.json"]
    # the latest state and the checkpointed head stay fully readable
    assert read_delta_snapshot(spark, t).count() == 30
    # time travel to v1 is gone WITH the retired prefix (replay needs
    # v0), exactly like Delta after log cleanup — but the error is loud
    with pytest.raises(FileNotFoundError):
        read_delta_snapshot(spark, t, 1)
    # with retention 0 the rest of the prefix retires too
    doomed2 = dt.cleanup_metadata(log_retention_ms=0, now_ms=now)
    assert [os.path.basename(p) for p in doomed2] == [f"{1:020d}.json"]


# ---------------------------------------------------------------------------
# DV-writing DELETE


def test_dv_delete_round_trip_and_bitmap_merge(spark, table):
    """use_dv=True stamps deletion vectors instead of rewriting: data
    file paths unchanged, descriptors carry the right cardinalities, a
    second delete UNIONS bitmaps, and reads subtract exactly."""
    files_before = set(replay_log(spark, table).files)
    v = delete_where(spark, table, "k % 10 = 3", ts_ms=2000, use_dv=True)
    assert v == 1
    rep = replay_log(spark, table)
    # no rewrite: the same physical files, now DV-stamped where matched
    assert set(rep.files) == files_before
    total_card = sum(a["deletionVector"]["cardinality"]
                     for a in rep.files.values()
                     if a.get("deletionVector"))
    assert total_card == 10
    assert _ks(read_delta_snapshot(spark, table)) == \
        [k for k in range(100) if k % 10 != 3]
    # merge on second delete (k=63 etc. share files with k%10==3 rows)
    delete_where(spark, table, "k % 10 = 7", ts_ms=3000, use_dv=True)
    rep2 = replay_log(spark, table)
    assert sum(a["deletionVector"]["cardinality"]
               for a in rep2.files.values()
               if a.get("deletionVector")) == 20
    assert _ks(read_delta_snapshot(spark, table)) == \
        [k for k in range(100) if k % 10 not in (3, 7)]
    # time travel: pre-delete full, between-deletes intermediate
    assert len(_ks(read_delta_snapshot(spark, table, 0))) == 100
    assert len(_ks(read_delta_snapshot(spark, table, 1))) == 90


def test_dv_delete_upgrades_protocol_and_writes_cdc(spark, table):
    rep0 = replay_log(spark, table)
    assert "deletionVectors" not in (
        rep0.protocol.get("readerFeatures") or [])
    delete_where(spark, table, "k < 5", ts_ms=2000, use_dv=True)
    rep = replay_log(spark, table)
    assert rep.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in rep.protocol["readerFeatures"]
    assert "changeDataFeed" in rep.protocol["writerFeatures"]  # cdf table
    ch = read_delta_changes(spark, table, 0, 1)
    rows = ch.collect()
    assert sorted(r.k for r in rows) == [0, 1, 2, 3, 4]
    assert {r["_change_type"] for r in rows} == {"delete"}


def test_dv_delete_no_match_no_commit(spark, table):
    assert delete_where(spark, table, "k > 10000", use_dv=True) == 0
    assert latest_delta_version(spark, table) == 0


def test_dv_delete_then_rewrite_update_folds_dvs(spark, table):
    """An UPDATE after a DV delete rewrites affected files DV-free (the
    existing fold path) and must not resurrect DV-dead rows."""
    delete_where(spark, table, "k % 10 = 3", ts_ms=2000, use_dv=True)
    update_where(spark, table, "k < 40", {"v": "v + 0.5"}, ts_ms=3000)
    snap = read_delta_snapshot(spark, table)
    assert _ks(snap) == [k for k in range(100) if k % 10 != 3]
    assert snap.filter("k = 4").first().v == 8.5
    assert snap.filter("k = 44").first().v == 88.0


def test_dv_update_stamps_old_positions_and_appends_new(spark, table):
    """use_dv=True UPDATE: matched rows' old positions go dead via DVs,
    only their post-update images are staged; untouched rows' files do
    not move; CDF carries pre+post images."""
    files_before = set(replay_log(spark, table).files)
    v = update_where(spark, table, "k % 10 = 3", {"v": "v + 0.25"},
                     ts_ms=2000, use_dv=True)
    assert v == 1
    rep = replay_log(spark, table)
    # all original files survive (DV-stamped where matched) + new adds
    assert files_before <= set(rep.files)
    assert sum(a["deletionVector"]["cardinality"]
               for a in rep.files.values()
               if a.get("deletionVector")) == 10
    snap = read_delta_snapshot(spark, table)
    assert snap.count() == 100
    assert snap.filter("k = 3").first().v == 6.25
    assert snap.filter("k = 4").first().v == 8.0
    ch = read_delta_changes(spark, table, 0, 1)
    counts = {r["_change_type"]: r["n"] for r in ch.groupBy(
        "_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"update_preimage": 10, "update_postimage": 10}
    # post-images carry the new values
    post = ch.filter("_change_type = 'update_postimage' AND k = 13")
    assert post.first().v == 26.25


def test_dv_update_then_dv_delete_compose(spark, table):
    update_where(spark, table, "k < 10", {"v": "v * 10"}, ts_ms=2000,
                 use_dv=True)
    delete_where(spark, table, "k < 5", ts_ms=3000, use_dv=True)
    snap = read_delta_snapshot(spark, table)
    assert _ks(snap) == list(range(5, 100))
    assert snap.filter("k = 7").first().v == 140.0


def test_dv_row_op_builds_bitmaps_executor_side(spark, table, monkeypatch):
    """The DV DELETE/UPDATE engine never materializes matched row
    indexes on the driver: bitmaps are built executor-side via
    groupBy(file).applyInPandas and the driver receives only one
    (base, dv-bytes, cardinality) row per affected file. Pin it by
    banning DataFrame.toPandas for the whole op."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("driver toPandas during DV row-op")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    delete_where(spark, table, "k % 10 = 3", ts_ms=2000, use_dv=True)
    update_where(spark, table, "k % 10 = 4", {"v": "v + 1000"},
                 ts_ms=3000, use_dv=True)
    monkeypatch.undo()
    got = read_delta_snapshot(spark, table)
    assert _ks(got) == [k for k in range(100) if k % 10 != 3]
    assert got.filter("k % 10 = 4").filter("v < 1000").count() == 0


def test_dv_row_op_base_collision_rejects(spark, tmp_path):
    """Two live files sharing their last-2-segment path key (multi-level
    layouts with non-UUID names) must reject: the DV group key would
    silently union both files' matched indexes into one deletion
    vector. Mirrors the reader's _scan_files collision guard."""
    import shutil

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS double) AS v")
    create_delta_table(spark, df.coalesce(1), t, cdf=False, ts_ms=1000)
    rep = replay_log(spark, t)
    (rel,) = list(rep.files)          # single root-level data file
    name = os.path.basename(rel)
    # a second live file at <table>/<table_dirname>/<same name> resolves
    # to the same 2-segment suffix as the root file
    sub = os.path.join(t, os.path.basename(t))
    os.makedirs(sub)
    shutil.copy(os.path.join(t, name), os.path.join(sub, name))
    add = dict(rep.files[rel])
    add["path"] = f"{os.path.basename(t)}/{name}"
    with open(os.path.join(t, "_delta_log",
                           f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 2000,
                                           "operation": "WRITE"}}) + "\n")
        f.write(json.dumps({"add": {**add, "dataChange": True}}) + "\n")
    with pytest.raises(NotImplementedError, match="collision"):
        delete_where(spark, t, "k >= 0", ts_ms=3000, use_dv=True)
    # the rewrite path attributes matched rows through the same 2-segment
    # key (_predicate_rows' by_base) — a collision there silently drops one
    # file from the rewrite set, so it must reject too
    with pytest.raises(NotImplementedError, match="collision"):
        delete_where(spark, t, "k >= 0", ts_ms=3000, use_dv=False)
    src = spark.range(0, 5).selectExpr("id AS k",
                                       "CAST(id AS double) AS v")
    with pytest.raises(NotImplementedError, match="collision"):
        merge_into(spark, t, src, on=["k"],
                   when_matched_update={"v": "s.v + 1"}, ts_ms=3000)


def test_dv_merge_stamps_positions_and_stages_new_rows(spark, table):
    """use_dv=True MERGE (the Databricks-default DBR 14+ layout): matched
    update/delete rows' OLD positions go dead via deletion vectors —
    the pre-merge data files are all still live (re-added with
    descriptors, untouched rows never move) — while post-images and
    inserts stage as new files; CDF carries the same explicit rows as
    the rewrite path."""
    import urllib.parse

    import pyarrow.parquet as pq

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    rep0 = replay_log(spark, table)
    old_paths = set(rep0.files)
    source = spark.createDataFrame(
        [(0, "0", 100.0), (4, "0", 100.0), (9, "1", 0.0),
         (200, "x", 1.0)],
        "k long, p string, v double")
    v = merge_into(spark, table, source, on=["k"],
                   when_matched_update={"v": "t.v + s.v"},
                   when_matched_delete="s.k = 9",
                   ts_ms=3000, use_dv=True)
    assert v == 1
    rep = replay_log(spark, table)
    # every pre-merge file is still live; the matched ones carry DVs
    assert old_paths <= set(rep.files)
    dv_cards = [a["deletionVector"]["cardinality"]
                for a in rep.files.values() if a.get("deletionVector")]
    assert sum(dv_cards) == 3            # k=0,4 updated + k=9 deleted
    # ... and only the files holding a matched key do
    hit_files = {p for p in old_paths if {0, 4, 9} & set(pq.read_table(
        os.path.join(table, urllib.parse.unquote(p)),
        columns=["k"]).column("k").to_pylist())}
    assert {p for p, a in rep.files.items()
            if a.get("deletionVector")} == hit_files
    assert int(rep.protocol["minReaderVersion"]) >= 3
    snap = read_delta_snapshot(spark, table)
    got = {r.k: r.v for r in snap.filter("k IN (0, 4, 9, 200, 1)")
           .collect()}
    assert got == {0: 100.0, 4: 108.0, 200: 1.0, 1: 2.0}   # 9 gone
    assert snap.count() == 100           # 100 - 1 delete + 1 insert
    ch = read_delta_changes(spark, table, 0, 1)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(F.count("*").alias("n"))
              .collect()}
    assert counts == {"update_preimage": 2, "update_postimage": 2,
                      "delete": 1, "insert": 1}


def test_dv_merge_composes_with_prior_dvs_and_rewrite_reads(spark, table):
    """A second DV merge unions into the first merge's bitmaps; a
    rewrite-mode DELETE afterwards folds the DV'd files cleanly."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    s1 = spark.createDataFrame([(3, "3", 0.0)], "k long, p string, v double")
    s2 = spark.createDataFrame([(7, "3", 0.0)], "k long, p string, v double")
    merge_into(spark, table, s1, on=["k"], when_matched_delete="true",
               when_not_matched_insert=False, ts_ms=2000, use_dv=True)
    merge_into(spark, table, s2, on=["k"], when_matched_delete="true",
               when_not_matched_insert=False, ts_ms=3000, use_dv=True)
    assert _ks(read_delta_snapshot(spark, table)) == \
        [k for k in range(100) if k not in (3, 7)]
    delete_where(spark, table, "k < 2", ts_ms=4000)     # rewrite path
    assert _ks(read_delta_snapshot(spark, table)) == \
        [k for k in range(100) if k not in (0, 1, 3, 7)]


def test_dv_merge_insert_only_and_no_match(spark, table):
    """DV mode with no matched clause degenerates to insert-only (no DV
    file, no rewrite); a DV merge matching nothing with no insert clause
    leaves the version unchanged."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    nomatch = spark.createDataFrame([(999, "z", 9.0)],
                                    "k long, p string, v double")
    v = merge_into(spark, table, nomatch, on=["k"],
                   when_matched_delete="true",
                   when_not_matched_insert=False, ts_ms=2000, use_dv=True)
    assert v == 0                                   # unchanged
    v = merge_into(spark, table, nomatch, on=["k"], ts_ms=3000,
                   use_dv=True)                     # insert-only clause set
    assert v == 1
    rep = replay_log(spark, table)
    assert not any(a.get("deletionVector") for a in rep.files.values())
    assert read_delta_snapshot(spark, table).count() == 101


def test_variant_column_round_trip_and_protocol(spark, tmp_path,
                                                monkeypatch):
    """A VARIANT column round-trips through the jar-less writer+reader:
    create declares the table-features protocol with variantType on
    both sides, the snapshot serves Spark's native VariantType (files
    committed without stats — pyarrow cannot parse the VARIANT logical
    type; unskippable is correct), appends/rewrites compose, and a
    session without VariantType (pre-Spark-4) rejects loudly."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        _check_protocol,
    )

    t = str(tmp_path / "var")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"),
        F.parse_json(F.concat(F.lit('{"a":'), F.col("id").cast("string"),
                              F.lit(',"s":"x"}'))).alias("v"))
    create_delta_table(spark, mk(0, 20), t, ts_ms=1000)
    rep = replay_log(spark, t)
    assert rep.protocol["minReaderVersion"] == 3
    assert "variantType" in rep.protocol["readerFeatures"]
    snap = read_delta_snapshot(spark, t)
    assert snap.schema["v"].dataType.typeName() == "variant"
    got = snap.select(
        F.try_variant_get("v", "$.a", "long").alias("a")).agg(
        F.sum("a")).first()[0]
    assert got == sum(range(20))
    append_delta(spark, mk(20, 30), t, ts_ms=2000)
    delete_where(spark, t, "k % 2 = 1", ts_ms=3000)   # variant rewrite
    snap = read_delta_snapshot(spark, t)
    assert snap.count() == 15
    assert snap.select(F.sum(F.try_variant_get("v", "$.a", "long"))) \
        .first()[0] == sum(k for k in range(30) if k % 2 == 0)
    # pre-Spark-4 session: loud rejection, not binary mis-reads
    import pyspark.sql.types as _T
    monkeypatch.delattr(_T, "VariantType")
    with pytest.raises(DeltaProtocolError, match="Spark 4"):
        _check_protocol(rep.protocol, rep.metadata)


def test_variant_protocol_not_triggered_by_name(spark, tmp_path):
    """A column NAMED like 'variant_id' (or a struct field) must not
    trigger the variantType protocol — detection is recursive
    isinstance on the data types, not a type-string substring."""
    t = str(tmp_path / "novar")
    df = spark.range(5).selectExpr(
        "id AS variant_id",
        "named_struct('variant_tag', CAST(id AS string)) AS meta")
    create_delta_table(spark, df, t, ts_ms=1000)
    rep = replay_log(spark, t)
    assert rep.protocol == {"minReaderVersion": 1, "minWriterVersion": 2}
    # and a variant NESTED in a struct DOES trigger it
    from pyspark.sql import functions as F
    t2 = str(tmp_path / "nested")
    df2 = spark.range(5).select(
        "id", F.struct(F.parse_json(F.lit('{"a":1}')).alias("j"))
        .alias("s"))
    create_delta_table(spark, df2, t2, ts_ms=1000)
    rep2 = replay_log(spark, t2)
    assert "variantType" in (rep2.protocol.get("readerFeatures") or ())


def test_column_mapped_name_mode_write_ops(spark, tmp_path):
    """Writes to a columnMapping=name table stage the PHYSICAL layout:
    appended files carry physical column names + field ids,
    partitionValues keyed by the physical partition name; the logical
    read round-trips; rewrite-DELETE and UPDATE compose; mergeSchema
    and id-mode tables still reject loudly."""
    from delta_fixture import make_column_mapped_table, make_id_mapped_table

    t = str(tmp_path / "cm")
    make_column_mapped_table(t)
    rep0 = replay_log(spark, t)
    df = spark.createDataFrame(
        [(10, (9.5, "z"), "p3"), (11, (8.5, "y"), "p3")],
        rep0.schema)
    v = append_delta(spark, df, t, ts_ms=5000)
    rep = replay_log(spark, t)
    new_paths = [p for p in rep.files if p not in rep0.files]
    assert new_paths
    # the RAW log action stores the PHYSICAL partition key (replay
    # normalizes to logical for the caller)
    raw_adds = [json.loads(line)["add"]
                for line in open(os.path.join(
                    t, "_delta_log", f"{v:020d}.json"))
                if '"add"' in line]
    assert raw_adds and all(list(a["partitionValues"]) == ["col-aaa5"]
                            for a in raw_adds)
    import urllib.parse

    import pyarrow.parquet as pq
    phys = pq.read_schema(os.path.join(
        t, urllib.parse.unquote(new_paths[0])))
    assert set(phys.names) >= {"col-aaa1", "col-aaa2"}   # physical names
    snap = read_delta_snapshot(spark, t)                 # logical read
    got = {r.id: (r.part, r.info.tag) for r in snap.collect()}
    assert got[10] == ("p3", "z") and got[11] == ("p3", "y")
    assert len(got) == 5
    # row ops ride the same staging conversion
    update_where(spark, t, "id = 10", {"part": "'p9'"}, ts_ms=6000)
    delete_where(spark, t, "id = 2", ts_ms=7000)
    got = {r.id: r.part for r in read_delta_snapshot(spark, t).collect()}
    assert got[10] == "p9" and 2 not in got and len(got) == 4
    # schema evolution would need fresh physical names: reject
    wider = spark.createDataFrame(
        [(12, (1.0, "w"), "p1", 5)],
        rep0.schema.add("extra", "long"))
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        append_delta(spark, wider, t, merge_schema=True, ts_ms=8000)
    # id mode writes too: staged files carry field ids recursively,
    # resolved by id regardless of names
    t2 = str(tmp_path / "idm")
    make_id_mapped_table(t2)
    rep2 = replay_log(spark, t2)
    v = append_delta(spark, spark.createDataFrame(
        [(30, (3.5, "q"), "p1")], rep2.schema), t2, ts_ms=5000)
    assert v == rep2.version + 1
    snap2 = read_delta_snapshot(spark, t2)
    assert {r.id for r in snap2.collect()} >= {30}
    assert snap2.filter("id = 30").first().info.tag == "q"
    # nested field ids really landed in the staged parquet
    import pyarrow.parquet as pq2
    rep3 = replay_log(spark, t2)
    newp = next(p for p in rep3.files if p not in rep2.files)
    import urllib.parse as _up
    sch = pq2.read_schema(os.path.join(t2, _up.unquote(newp)))
    info_f = next(f for f in sch if (f.metadata or {}).get(
        b"PARQUET:field_id") == b"2")
    assert info_f.type.num_fields == 2
    inner_ids = {(sf.metadata or {}).get(b"PARQUET:field_id")
                 for sf in info_f.type}
    assert inner_ids == {b"3", b"4"}


def test_check_constraints_and_invariants_enforced(spark, tmp_path):
    """CHECK constraints / column invariants / NOT NULL are ENFORCED at
    stage time instead of refusing the table: valid writes land,
    violating ones raise DeltaConstraintViolation NAMING the rule
    before any commit exists (the table is untouched); NULL constraint
    results pass per SQL semantics."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
        merge_into,
    )

    t = str(tmp_path / "chk")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double")
    create_delta_table(spark, df, t, ts_ms=1000,
                       configuration={"delta.constraints.vcap": "v < 100"})
    rep = replay_log(spark, t)
    assert rep.protocol["minWriterVersion"] >= 3
    # valid append lands; NULL result passes (SQL semantics)
    append_delta(spark, spark.createDataFrame([(20, 50.0), (21, None)],
                                              "k long, v double"),
                 t, ts_ms=2000)
    assert read_delta_snapshot(spark, t).count() == 12
    # violating append: named error, version unchanged
    with pytest.raises(DeltaConstraintViolation, match="vcap"):
        append_delta(spark, spark.createDataFrame([(22, 500.0)],
                                                  "k long, v double"),
                     t, ts_ms=3000)
    assert latest_delta_version(spark, t) == 1
    # violating UPDATE post-image (both rewrite and DV layouts)
    with pytest.raises(DeltaConstraintViolation, match="vcap"):
        update_where(spark, t, "k = 1", {"v": "v + 1000"}, ts_ms=4000)
    with pytest.raises(DeltaConstraintViolation, match="vcap"):
        update_where(spark, t, "k = 1", {"v": "v + 1000"}, ts_ms=4000,
                     use_dv=True)
    # violating MERGE insert
    with pytest.raises(DeltaConstraintViolation, match="vcap"):
        merge_into(spark, t, spark.createDataFrame(
            [(99, 999.0)], "k long, v double"), on=["k"], ts_ms=5000)
    assert read_delta_snapshot(spark, t).count() == 12
    # violating CREATE: no table left behind
    t2 = str(tmp_path / "chk2")
    with pytest.raises(DeltaConstraintViolation, match="vcap"):
        create_delta_table(
            spark, spark.createDataFrame([(1, 500.0)], "k long, v double"),
            t2, ts_ms=1000,
            configuration={"delta.constraints.vcap": "v < 100"})
    assert not os.path.exists(os.path.join(t2, "_delta_log",
                                           f"{0:020d}.json"))


def test_invariants_metadata_and_not_null_enforced(spark, tmp_path):
    """The legacy delta.invariants field-metadata form and
    nullable=false declarations both gate writes."""
    import json as _json

    from pyspark.sql import types as T

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
    )

    t = str(tmp_path / "inv")
    inv = _json.dumps({"expression": {"expression": "k < 50"}})
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),     # NOT NULL
        T.StructField("v", T.DoubleType(), True,
                      {"delta.invariants": inv})])
    # schema metadata rides into schemaString via create's df
    df = spark.createDataFrame([(1, 1.0)], schema)
    create_delta_table(spark, df, t, ts_ms=1000)
    with pytest.raises(DeltaConstraintViolation, match="invariant"):
        append_delta(spark, spark.createDataFrame([(60, 60.0)], schema),
                     t, ts_ms=2000)


def test_generated_columns_validated(spark, tmp_path):
    """Generated columns enforce value <=> expression at stage time
    (this writer's API always receives the full row, so the protocol's
    writer obligation reduces to validation); identity columns still
    refuse."""
    from pyspark.sql import types as T

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
    )

    t = str(tmp_path / "gen")
    schema = T.StructType([
        T.StructField("k", T.LongType(), True),
        T.StructField("k2", T.LongType(), True,
                      {"delta.generationExpression": "k * 2"})])
    create_delta_table(
        spark, spark.createDataFrame([(1, 2), (2, 4)], schema), t,
        ts_ms=1000)
    append_delta(spark, spark.createDataFrame([(3, 6)], schema), t,
                 ts_ms=2000)
    with pytest.raises(DeltaConstraintViolation, match="generated"):
        append_delta(spark, spark.createDataFrame([(4, 9)], schema), t,
                     ts_ms=3000)
    assert sorted((r.k, r.k2) for r in
                  read_delta_snapshot(spark, t).collect()) == \
        [(1, 2), (2, 4), (3, 6)]
    # MERGE insert clause: a generated column ABSENT from the source is
    # COMPUTED from its expression (the append-path writer obligation,
    # extended to merge in r11); matched rows keep their stored values
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    src = spark.createDataFrame([(3,), (10,), (11,)], "k long")
    merge_into(spark, t, src, on=["k"], ts_ms=4000)
    assert sorted((r.k, r.k2) for r in
                  read_delta_snapshot(spark, t).collect()) == \
        [(1, 2), (2, 4), (3, 6), (10, 20), (11, 22)]


def test_restore_rolls_back_and_forward(spark, table):
    """RESTORE: one commit flips the live file set to the target
    version's; rolled-back history stays time-travelable; a second
    restore undoes the first; DV state restores too; vacuumed targets
    fail loudly."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        restore_delta,
    )

    append_delta(spark, _frame(spark, 100, 120), table, ts_ms=2000)  # v1
    delete_where(spark, table, "k % 10 = 3", ts_ms=3000,
                 use_dv=True)                                        # v2
    assert _ks(read_delta_snapshot(spark, table)) == \
        [k for k in range(120) if k % 10 != 3]
    v = restore_delta(spark, table, 1, ts_ms=4000)                   # v3
    assert v == 3
    assert _ks(read_delta_snapshot(spark, table)) == list(range(120))
    # rolled-back state still travelable; restore of the restore
    assert read_delta_snapshot(spark, table, 2).count() == 108
    restore_delta(spark, table, 2, ts_ms=5000)                       # v4
    assert _ks(read_delta_snapshot(spark, table)) == \
        [k for k in range(120) if k % 10 != 3]
    # restore to v0 (before the append)
    restore_delta(spark, table, 0, ts_ms=6000)
    assert _ks(read_delta_snapshot(spark, table)) == list(range(100))
    # head restore: no-op, version unchanged
    assert restore_delta(spark, table, 5) == 5
    # vacuumed target rejects: drop a file only v1 references
    import glob as _glob
    rep1 = replay_log(spark, table, version=1)
    rep_now = replay_log(spark, table)
    only_v1 = next(p for p in rep1.files if p not in rep_now.files)
    import urllib.parse as _up
    os.unlink(os.path.join(table, _up.unquote(only_v1)))
    with pytest.raises(FileNotFoundError, match="RESTORE"):
        restore_delta(spark, table, 1, ts_ms=7000)


# ---------------------------------------------------------------------------
# CLONE

def test_shallow_clone_reads_and_isolates(spark, table, tmp_path):
    """SHALLOW CLONE: commit 0 references the source's files by absolute
    path (zero data movement); reads match the source state; writes to
    the clone (append + rewrite-DELETE) never touch the source, and the
    clone's vacuum cannot reach the source's files."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        clone_delta,
    )

    dst = str(tmp_path / "cl")
    clone_delta(spark, table, dst, ts_ms=5000)
    assert _ks(read_delta_snapshot(spark, dst)) == list(range(100))
    # no data files under the clone: metadata-only
    data_files = [p for p, _, fs in os.walk(dst) for f in fs
                  if f.endswith(".parquet") for p in [p]]
    assert data_files == []
    append_delta(spark, _frame(spark, 100, 110), dst, ts_ms=6000)
    delete_where(spark, dst, "k < 5", ts_ms=7000)
    assert _ks(read_delta_snapshot(spark, dst)) == list(range(5, 110))
    # source untouched by all of it
    assert _ks(read_delta_snapshot(spark, table)) == list(range(100))
    # clone vacuum stays inside the clone dir
    src_files_before = {f for _, _, fs in os.walk(table) for f in fs}
    vacuum_delta(spark, dst, retention_ms=0, now_ms=10**15)
    src_files_after = {f for _, _, fs in os.walk(table) for f in fs}
    assert src_files_before == src_files_after
    assert _ks(read_delta_snapshot(spark, dst)) == list(range(5, 110))


def test_shallow_clone_rewrites_dv_descriptors(spark, table, tmp_path):
    """A source file carrying a relative ('u') deletion vector keeps its
    dead rows dead through the clone: the descriptor is rewritten to an
    absolute 'p' path that resolves from the clone's root."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        clone_delta,
    )

    delete_where(spark, table, "k % 10 = 3", ts_ms=2000, use_dv=True)
    dst = str(tmp_path / "cldv")
    clone_delta(spark, table, dst, ts_ms=5000)
    rep = replay_log(spark, dst)
    dvs = [a["deletionVector"] for a in rep.files.values()
           if a.get("deletionVector")]
    assert dvs and all(d["storageType"] == "p" for d in dvs)
    assert _ks(read_delta_snapshot(spark, dst)) == \
        [k for k in range(100) if k % 10 != 3]


def test_clone_at_version_and_refuses_existing(spark, table, tmp_path):
    """VERSION AS OF clone pins the source's historical state; cloning
    onto an existing Delta table refuses."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        clone_delta,
    )

    append_delta(spark, _frame(spark, 100, 120), table, ts_ms=2000)
    dst = str(tmp_path / "clv")
    clone_delta(spark, table, dst, version=0, ts_ms=5000)
    assert _ks(read_delta_snapshot(spark, dst)) == list(range(100))
    with pytest.raises(FileExistsError):
        clone_delta(spark, table, dst)


def test_deep_clone_is_independent(spark, table, tmp_path):
    """DEEP CLONE copies every byte: deleting the whole source afterwards
    leaves the clone fully readable, DVs included."""
    import shutil

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        clone_delta,
    )

    delete_where(spark, table, "k % 10 = 7", ts_ms=2000, use_dv=True)
    dst = str(tmp_path / "cldeep")
    clone_delta(spark, table, dst, shallow=False, ts_ms=5000)
    shutil.rmtree(table)
    assert _ks(read_delta_snapshot(spark, dst)) == \
        [k for k in range(100) if k % 10 != 7]


def test_write_v2_checkpoint_roundtrip_and_cleanup(spark, table, tmp_path):
    """write_v2_checkpoint: uuid-named json top-level (checkpointMetadata
    + protocol + metaData + sidecar ref) with the file actions in a
    parquet sidecar; replay resolves it after log cleanup retires the
    JSON prefix; DV descriptors round-trip through the sidecar; the
    classic writer refuses on the v2 table and vice versa."""
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        write_v2_checkpoint,
    )

    # a fresh table declares no v2Checkpoint: the v2 writer refuses
    with pytest.raises(DeltaProtocolError, match="v2Checkpoint"):
        write_v2_checkpoint(spark, table)
    delete_where(spark, table, "k % 10 = 3", ts_ms=2000, use_dv=True)
    # manual protocol upgrade to the v2Checkpoint feature (no public
    # upgrade verb; checkpointing must not change the protocol itself)
    rep = replay_log(spark, table)
    feats_w = sorted({"appendOnly", "invariants", "changeDataFeed",
                      "deletionVectors", "v2Checkpoint"})
    up = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors",
                                          "v2Checkpoint"],
                       "writerFeatures": feats_w}}
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, f"{rep.version + 1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 3000,
                                           "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps(up) + "\n")
    with pytest.raises(DeltaProtocolError, match="classic"):
        write_classic_checkpoint(spark, table)
    cp_v = write_v2_checkpoint(spark, table, now_ms=4000)
    names = os.listdir(log)
    assert any(".checkpoint." in n and n.endswith(".json") for n in names)
    assert os.listdir(os.path.join(log, "_sidecars"))
    append_delta(spark, _frame(spark, 100, 110), table, ts_ms=5000)
    # retire the whole JSON prefix below the checkpoint
    dt = DeltaTable(spark, table)
    doomed = dt.cleanup_metadata(log_retention_ms=0)
    assert doomed and all(int(os.path.basename(p)[:20]) < cp_v
                          for p in doomed)
    expect = [k for k in range(110) if k % 10 != 3 or k >= 100]
    assert _ks(read_delta_snapshot(spark, table)) == expect
    # time travel to the checkpointed version itself still serves
    assert _ks(read_delta_snapshot(spark, table, version=cp_v)) == \
        [k for k in range(100) if k % 10 != 3]


def test_in_commit_timestamps_monotonic_and_travel(spark, tmp_path):
    """delta.enableInCommitTimestamps: every commit path stamps a strictly
    increasing commitInfo.inCommitTimestamp — even when the wall clock
    REGRESSES between writers — the protocol declares the v7 feature,
    and timestamp travel resolves through the ICT clock."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_at_timestamp,
        resolve_version_at_timestamp,
    )

    t = str(tmp_path / "ict")
    create_delta_table(
        spark, _frame(spark, 0, 20), t, ts_ms=1000,
        configuration={"delta.enableInCommitTimestamps": "true"})
    rep = replay_log(spark, t)
    assert rep.protocol["minWriterVersion"] == 7
    assert "inCommitTimestamp" in rep.protocol["writerFeatures"]
    # wall clock regression: the append claims ts=500 < create's 1000
    append_delta(spark, _frame(spark, 20, 30), t, ts_ms=500)
    delete_where(spark, t, "k < 5", ts_ms=2000)
    log = os.path.join(t, "_delta_log")
    icts = []
    for v in range(3):
        for line in open(os.path.join(log, f"{v:020d}.json")):
            a = json.loads(line)
            if "commitInfo" in a:
                icts.append(a["commitInfo"]["inCommitTimestamp"])
                break
    assert icts == [1000, 1001, 2000]          # regressed clock bumped
    # ICT is the time-travel clock: ts=1001 resolves to the append
    assert resolve_version_at_timestamp(spark, t, 1001) == 1
    got = sorted(r.k for r in read_delta_snapshot_at_timestamp(
        spark, t, 1001).select("k").collect())
    assert got == list(range(30))
    assert _ks(read_delta_snapshot(spark, t)) == list(range(5, 30))


def test_delta_history_and_detail(spark, table):
    """delta_history / delta_table_detail: DESCRIBE HISTORY/DETAIL over
    the log — operations, timestamps, file counts and protocol all come
    from metadata (no data scan)."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        delta_history,
        delta_table_detail,
    )

    append_delta(spark, _frame(spark, 100, 110), table, ts_ms=2000)
    delete_where(spark, table, "k < 5", ts_ms=3000)
    h = delta_history(spark, table).collect()
    assert [r.version for r in h] == [2, 1, 0]
    assert [r.operation for r in h] == \
        ["DELETE", "WRITE", "CREATE TABLE AS SELECT"]
    assert [r.timestamp_ms for r in h] == [3000, 2000, 1000]
    assert h[0].operation_parameters["predicate"] == "k < 5"
    d = delta_table_detail(spark, table).collect()[0]
    rep = replay_log(spark, table)
    assert d.version == 2 and d.num_files == len(rep.files)
    assert d.partition_columns == ["p"]
    assert d.configuration["delta.enableChangeDataFeed"] == "true"
    assert d.size_in_bytes == sum(int(a.get("size") or 0)
                                  for a in rep.files.values())


def _identity_frame(spark, lo, hi, with_id=False):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    fields = [StructField("uid", LongType(), True,
                          {"delta.identity.start": 100,
                           "delta.identity.step": 10,
                           "delta.identity.allowExplicitInsert": True})]
    rows = [(100 + 10 * (k + 1), f"u{k}") for k in range(lo, hi)] \
        if with_id else None
    schema = StructType(fields + [StructField("name", StringType())])
    if rows is None:
        rows = [(None, f"u{k}") for k in range(lo, hi)]
    return spark.createDataFrame(rows, schema)


def test_identity_columns_generate_and_advance_watermark(spark, tmp_path):
    """Identity columns: create initializes the high watermark from the
    staged stats; appends WITHOUT the column generate fresh values above
    it (start/step grid, unique) and advance the watermark in the same
    commit; explicit values are absorbed into the watermark; GENERATED
    ALWAYS refuses explicit values; UPDATE cannot SET an identity
    column; MERGE refuses."""
    import json as _json

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    t = str(tmp_path / "ident")
    create_delta_table(spark, _identity_frame(spark, 0, 5, with_id=True),
                       t, ts_ms=1000)
    rep = replay_log(spark, t)
    assert rep.protocol["minWriterVersion"] == 6
    f_uid = next(f for f in rep.schema.fields if f.name == "uid")
    assert f_uid.metadata["delta.identity.highWaterMark"] == 150
    # append WITHOUT the column: generated above the watermark
    add = spark.createDataFrame([(f"v{k}",) for k in range(7)],
                                "name string")
    append_delta(spark, add, t, ts_ms=2000)
    got = read_delta_snapshot(spark, t)
    uids = [r.uid for r in got.collect()]
    assert len(uids) == 12 and len(set(uids)) == 12        # unique
    assert all(u is not None and u > 150 for u in uids if u > 150
               ) and min(uids) == 110
    assert all((u - 100) % 10 == 0 for u in uids)          # on the grid
    rep = replay_log(spark, t)
    hwm = next(f for f in rep.schema.fields
               if f.name == "uid").metadata["delta.identity.highWaterMark"]
    assert hwm == max(uids)
    # a second generated append stays above the new watermark
    append_delta(spark, add.limit(3), t, ts_ms=3000)
    uids2 = [r.uid for r in read_delta_snapshot(spark, t).collect()]
    assert len(set(uids2)) == 15 and min(set(uids2) - set(uids)) > hwm
    # guards
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        update_where,
    )
    with pytest.raises(DeltaProtocolError, match="SET identity"):
        update_where(spark, t, "name = 'u0'", {"uid": "uid + 1"},
                     ts_ms=4000)
    with pytest.raises(DeltaProtocolError, match="SET identity"):
        merge_into(spark, t, read_delta_snapshot(spark, t), on=["name"],
                   when_matched_update={"uid": "s.uid + 1"}, ts_ms=4000)
    # DELETE preserves values and the watermark
    delete_where(spark, t, "uid = 110", ts_ms=5000)
    rep = replay_log(spark, t)
    assert next(f for f in rep.schema.fields if f.name == "uid"
                ).metadata["delta.identity.highWaterMark"] == \
        max(uids2)


def test_identity_merge_preserves_and_generates(spark, tmp_path):
    """MERGE into an identity table (VERDICT r10 #4): matched rows keep
    their stored identity values through the rewrite; insert-clause rows
    with the column ABSENT from the source get generated values above
    the watermark (on the start/step grid, unique); the watermark
    advances in the same commit and stays monotone across merges."""
    import json as _json

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    t = str(tmp_path / "identmerge")
    schema = StructType([
        StructField("uid", LongType(), True,
                     {"delta.identity.start": 100,
                      "delta.identity.step": 10,
                      "delta.identity.allowExplicitInsert": True}),
        StructField("k", LongType()),
        StructField("v", StringType())])
    create_delta_table(
        spark, spark.createDataFrame(
            [(100 + 10 * i, i, f"v{i}") for i in range(5)], schema),
        t, ts_ms=1000)

    def hwm():
        rep = replay_log(spark, t)
        return next(f for f in rep.schema.fields if f.name == "uid"
                    ).metadata["delta.identity.highWaterMark"]

    assert hwm() == 140
    src = spark.createDataFrame(
        [(k, f"m{k}") for k in range(2, 7)], "k long, v string")
    merge_into(spark, t, src, on=["k"],
               when_matched_update={"v": "s.v"}, ts_ms=2000)
    got = {r.k: (r.uid, r.v) for r in
           read_delta_snapshot(spark, t).collect()}
    # matched rows: updated value, PRESERVED identity
    for k in range(2, 5):
        assert got[k] == (100 + 10 * k, f"m{k}")
    for k in range(2):
        assert got[k] == (100 + 10 * k, f"v{k}")
    # inserted rows: generated above the old watermark, on the grid
    new_uids = [got[k][0] for k in (5, 6)]
    assert all(u > 140 and (u - 100) % 10 == 0 for u in new_uids)
    assert len(set(u for u, _ in got.values())) == 7       # unique
    assert hwm() == max(u for u, _ in got.values())        # advanced
    # a second merge stays above the new watermark (monotone)
    wm1 = hwm()
    src2 = spark.createDataFrame([(9, "m9")], "k long, v string")
    merge_into(spark, t, src2, on=["k"], ts_ms=3000)
    got2 = {r.k: r.uid for r in read_delta_snapshot(spark, t).collect()}
    assert got2[9] > wm1 and hwm() == max(got2.values())
    assert len(set(got2.values())) == 8
    # explicit identity through MERGE: allowed here (allowExplicitInsert);
    # a value below the (sparse-range) watermark stores verbatim and
    # leaves the watermark unmoved
    wm2 = hwm()
    src3 = spark.createDataFrame([(990, 20, "e")],
                                 "uid long, k long, v string")
    merge_into(spark, t, src3, on=["k"], ts_ms=4000)
    stored = {r.k: r.uid for r in read_delta_snapshot(spark, t).collect()}
    assert stored[20] == 990 and hwm() == max(wm2, 990)


def test_identity_generated_always_refuses_explicit(spark, tmp_path):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    t = str(tmp_path / "identga")
    schema = StructType([
        StructField("uid", LongType(), True,
                     {"delta.identity.start": 1,
                      "delta.identity.step": 1,
                      "delta.identity.allowExplicitInsert": False}),
        StructField("name", StringType())])
    create_delta_table(
        spark, spark.createDataFrame([(1, "a")], schema), t, ts_ms=1000)
    with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
        append_delta(spark, spark.createDataFrame([(9, "b")], schema), t,
                     ts_ms=2000)
    # without the column: generated fine
    append_delta(spark, spark.createDataFrame([("b",), ("c",)],
                                              "name string"), t, ts_ms=3000)
    got = sorted(r.uid for r in read_delta_snapshot(spark, t).collect())
    assert len(got) == 3 and len(set(got)) == 3 and got[0] == 1


def test_identity_negative_step_descends_without_reuse(spark, tmp_path):
    """A negative-step identity column DESCENDS: its watermark is the
    minimum observed value and only moves down — generated batches must
    never overlap (ADVICE r10 #3: a max-keyed watermark parks at the
    first batch's max and regenerates the same values forever)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    t = str(tmp_path / "identneg")
    schema = StructType([
        StructField("uid", LongType(), True,
                     {"delta.identity.start": 100,
                      "delta.identity.step": -1}),
        StructField("name", StringType())])
    create_delta_table(
        spark, spark.createDataFrame([(100, "a"), (99, "b")], schema),
        t, ts_ms=1000)
    batch = spark.createDataFrame([("c",), ("d",), ("e",)], "name string")
    append_delta(spark, batch, t, ts_ms=2000)
    append_delta(spark, batch, t, ts_ms=3000)
    uids = [r.uid for r in read_delta_snapshot(spark, t).collect()]
    assert len(uids) == 8 and len(set(uids)) == 8          # no reuse
    assert max(uids) == 100 and all(u <= 100 for u in uids)
    rep = replay_log(spark, t)
    hwm = next(f for f in rep.schema.fields
               if f.name == "uid").metadata["delta.identity.highWaterMark"]
    assert hwm == min(uids)
    # MERGE insert clause descends too, below the (downward) watermark
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )

    merge_into(spark, t, spark.createDataFrame([("m1",), ("m2",)],
                                               "name string"),
               on=["name"], ts_ms=4000)
    uids2 = [r.uid for r in read_delta_snapshot(spark, t).collect()]
    assert len(uids2) == 10 and len(set(uids2)) == 10
    assert min(set(uids2) - set(uids)) < hwm               # below, fresh
    rep = replay_log(spark, t)
    assert next(f for f in rep.schema.fields if f.name == "uid"
                ).metadata["delta.identity.highWaterMark"] == min(uids2)


def test_checkpoint_preserves_row_tracking_ids(spark, tmp_path):
    """Checkpoints must carry every add's baseRowId /
    defaultRowCommitVersion (ADVICE r10 #1): after the JSON prefix is
    retired, replay-from-checkpoint still reads stable row ids."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        write_classic_checkpoint, write_v2_checkpoint,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_with_row_ids,
    )

    for flavor, writer in (("classic", write_classic_checkpoint),
                           ("v2", write_v2_checkpoint)):
        t = str(tmp_path / f"rtcp_{flavor}")
        create_delta_table(
            spark, _frame(spark, 0, 30), t, ts_ms=1000,
            configuration={"delta.enableRowTracking": "true"})
        append_delta(spark, _frame(spark, 30, 45), t, ts_ms=2000)
        if flavor == "v2":
            # manual protocol upgrade adding v2Checkpoint, keeping the
            # row-tracking features intact
            rep = replay_log(spark, t)
            up = {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(
                    set(rep.protocol.get("readerFeatures") or ())
                    | {"v2Checkpoint"}),
                "writerFeatures": sorted(
                    set(rep.protocol.get("writerFeatures") or ())
                    | {"v2Checkpoint"})}}
            log = os.path.join(t, "_delta_log")
            with open(os.path.join(
                    log, f"{rep.version + 1:020d}.json"), "w") as f:
                f.write(json.dumps({"commitInfo": {
                    "timestamp": 2500, "operation": "UPGRADE"}}) + "\n")
                f.write(json.dumps(up) + "\n")
        before = {r.k: r._row_id for r in
                  read_delta_snapshot_with_row_ids(spark, t).collect()}
        cp = writer(spark, t)
        for v in range(cp):
            os.unlink(os.path.join(t, "_delta_log", f"{v:020d}.json"))
        after = {r.k: r._row_id for r in
                 read_delta_snapshot_with_row_ids(spark, t).collect()}
        assert after == before
        # and the next append still claims ids above the old watermark
        append_delta(spark, _frame(spark, 45, 50), t, ts_ms=3000)
        final = {r.k: r._row_id for r in
                 read_delta_snapshot_with_row_ids(spark, t).collect()}
        assert len(set(final.values())) == 50


def test_clone_preserves_row_tracking_domain(spark, tmp_path):
    """CLONE of a row-tracked table must carry the delta.rowTracking
    domain (ADVICE r10 #2): the first append to the clone claims ids
    ABOVE the cloned files' ranges, never overlapping them."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        clone_delta,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_with_row_ids,
    )

    src = str(tmp_path / "rtsrc")
    dst = str(tmp_path / "rtdst")
    create_delta_table(
        spark, _frame(spark, 0, 40), src, ts_ms=1000,
        configuration={"delta.enableRowTracking": "true"})
    clone_delta(spark, src, dst, ts_ms=2000)
    rep = replay_log(spark, dst)
    assert json.loads(rep.domains["delta.rowTracking"])[
        "rowIdHighWaterMark"] == 39
    append_delta(spark, _frame(spark, 40, 55), dst, ts_ms=3000)
    ids = [r._row_id for r in
           read_delta_snapshot_with_row_ids(spark, dst).collect()]
    assert len(ids) == 55 and len(set(ids)) == 55          # no overlap


def test_domain_metadata_roundtrip_and_checkpoint(spark, tmp_path):
    """set_domain_metadata: last-writer-wins per domain, removed=True
    deletes, the protocol upgrades in-commit, and live domains survive
    log cleanup through BOTH checkpoint forms."""
    from databricks_import_pyspark_scripts_spark.delta import DeltaTable
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        set_domain_metadata,
    )

    t = str(tmp_path / "dom")
    create_delta_table(spark, _frame(spark, 0, 10), t, ts_ms=1000)
    set_domain_metadata(spark, t, "app.pipeline", '{"run": 1}', ts_ms=2000)
    set_domain_metadata(spark, t, "app.other", "x", ts_ms=3000)
    set_domain_metadata(spark, t, "app.pipeline", '{"run": 2}', ts_ms=4000)
    rep = replay_log(spark, t)
    assert "domainMetadata" in rep.protocol["writerFeatures"]
    assert rep.domains == {"app.pipeline": '{"run": 2}', "app.other": "x"}
    set_domain_metadata(spark, t, "app.other", "", removed=True,
                        ts_ms=5000)
    assert replay_log(spark, t).domains == {"app.pipeline": '{"run": 2}'}
    # classic checkpoint carries the live domain across log cleanup
    write_classic_checkpoint(spark, t)
    dt = DeltaTable(spark, t)
    assert dt.cleanup_metadata(log_retention_ms=0)
    rep = replay_log(spark, t)
    assert rep.domains == {"app.pipeline": '{"run": 2}'}
    assert _ks(read_delta_snapshot(spark, t)) == list(range(10))


def test_row_tracking_assigns_and_survives_dv_ops(spark, tmp_path):
    """Row tracking: create/append claim disjoint baseRowId ranges and
    advance the delta.rowTracking watermark; _row_id is unique and
    positionally stable under DV delete/update; rewrite-path ops and
    OPTIMIZE refuse loudly."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        optimize_delta,
        update_where,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_with_row_ids,
    )

    t = str(tmp_path / "rt")
    create_delta_table(
        spark, _frame(spark, 0, 50), t, ts_ms=1000,
        configuration={"delta.enableRowTracking": "true"})
    rep = replay_log(spark, t)
    assert "rowTracking" in rep.protocol["writerFeatures"]
    assert all(a.get("baseRowId") is not None for a in rep.files.values())
    wm0 = json.loads(rep.domains["delta.rowTracking"])["rowIdHighWaterMark"]
    assert wm0 == 49
    append_delta(spark, _frame(spark, 50, 70), t, ts_ms=2000)
    rep = replay_log(spark, t)
    wm1 = json.loads(rep.domains["delta.rowTracking"])["rowIdHighWaterMark"]
    assert wm1 == 69
    got = read_delta_snapshot_with_row_ids(spark, t)
    ids = [r._row_id for r in got.collect()]
    assert len(ids) == 70 and len(set(ids)) == 70
    assert set(ids) == set(range(70))
    # row id of a specific row, then DV-delete others: it must not move
    anchor = {(r.k, r._row_id) for r in got.collect()}
    delete_where(spark, t, "k % 7 = 0", ts_ms=3000, use_dv=True)
    after = {(r.k, r._row_id) for r in
             read_delta_snapshot_with_row_ids(spark, t).collect()}
    assert after == {(k, i) for k, i in anchor if k % 7 != 0}
    # DV update: surviving rows keep ids AND the post-image keeps the
    # updated row's old id (spec: updates preserve row ids — the
    # materialized columns carry them into the staged post-image files)
    update_where(spark, t, "k = 1", {"v": "v + 1"}, ts_ms=4000,
                 use_dv=True)
    upd = {r.k: r._row_id for r in
           read_delta_snapshot_with_row_ids(spark, t).collect()}
    assert upd[2] == dict(anchor)[2] and upd[1] == dict(anchor)[1]
    # REWRITE paths preserve ids by MATERIALIZING them into the new
    # files (coalesce(materialized, baseRowId + position) on read)
    before = {r.k: r._row_id for r in
              read_delta_snapshot_with_row_ids(spark, t).collect()}
    delete_where(spark, t, "k = 3", ts_ms=5000)           # rewrite path
    after = {r.k: r._row_id for r in
             read_delta_snapshot_with_row_ids(spark, t).collect()}
    assert after == {k: v for k, v in before.items() if k != 3}
    # OPTIMIZE rewrites every small file; ids must not move
    optimize_delta(spark, t, ts_ms=6000)
    post_opt = {r.k: r._row_id for r in
                read_delta_snapshot_with_row_ids(spark, t).collect()}
    assert post_opt == after
    # rewrite UPDATE: the updated row KEEPS its id (materialized)
    update_where(spark, t, "k = 5", {"v": "v + 7"}, ts_ms=7000)
    upd2 = {r.k: r._row_id for r in
            read_delta_snapshot_with_row_ids(spark, t).collect()}
    assert upd2 == post_opt
    # rewrite MERGE: matched-updated and untouched-kept rows keep their
    # ids (materialized through the two-sided join); inserts get fresh
    # ones above the watermark
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        merge_into,
    )
    src = (spark.range(0, 2).selectExpr(
        "id AS k", "CAST(id % 4 AS string) AS p",
        "CAST(id AS double) AS v")
        .unionByName(spark.range(200, 203).selectExpr(
            "id AS k", "CAST(id % 4 AS string) AS p",
            "CAST(id AS double) AS v")))
    merge_into(spark, t, src, on=["k"],
               when_matched_update={"v": "t.v + s.v"}, ts_ms=8000)
    merged = {r.k: r._row_id for r in
              read_delta_snapshot_with_row_ids(spark, t).collect()}
    for k, rid in upd2.items():
        assert merged[k] == rid, k                  # every old id stable
    fresh = {k: v for k, v in merged.items() if k >= 200}
    assert len(fresh) == 3 and len(set(merged.values())) == len(merged)
    assert min(fresh.values()) > max(upd2.values())
    # DV-mode MERGE: post-update images keep their ids via the same
    # materialized-column carry (ADVICE r10 #5); inserts fresh
    src2 = (spark.range(4, 6).selectExpr(
        "id AS k", "CAST(id % 4 AS string) AS p",
        "CAST(id AS double) AS v")
        .unionByName(spark.range(300, 302).selectExpr(
            "id AS k", "CAST(id % 4 AS string) AS p",
            "CAST(id AS double) AS v")))
    merge_into(spark, t, src2, on=["k"],
               when_matched_update={"v": "t.v + s.v"}, ts_ms=9000,
               use_dv=True)
    dvm = {r.k: r._row_id for r in
           read_delta_snapshot_with_row_ids(spark, t).collect()}
    for k, rid in merged.items():
        assert dvm[k] == rid, k                     # ids stable incl. 4,5
    fresh2 = {k: v for k, v in dvm.items() if k >= 300}
    assert len(fresh2) == 2 and len(set(dvm.values())) == len(dvm)
    assert min(fresh2.values()) > max(merged.values())


def test_row_tracking_replace_where_and_clone(spark, tmp_path):
    """replaceWhere on a row-tracked table: carried rows keep their ids
    (materialized), replacement rows claim fresh ones above the
    watermark."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        replace_where,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_with_row_ids,
    )

    t = str(tmp_path / "rtrw")
    create_delta_table(
        spark, _frame(spark, 0, 40), t, ts_ms=1000,
        configuration={"delta.enableRowTracking": "true"})
    before = {r.k: r._row_id for r in
              read_delta_snapshot_with_row_ids(spark, t).collect()}
    repl = (spark.range(100, 105)
            .selectExpr("id AS k", "'2' AS p",
                        "CAST(id AS double) AS v"))
    replace_where(spark, repl, t, "p = '2'", ts_ms=2000)
    after = {r.k: r._row_id for r in
             read_delta_snapshot_with_row_ids(spark, t).collect()}
    # p = str(k % 4) for every row here (no null_p_below):
    # the replaced region is exactly k % 4 == 2
    expect_carried = {k: v for k, v in before.items() if k % 4 != 2}
    assert {k: after[k] for k in expect_carried} == expect_carried
    fresh = {k: v for k, v in after.items() if k >= 100}
    assert len(fresh) == 5 and min(fresh.values()) > max(before.values())
    assert len(set(after.values())) == len(after)


def test_set_table_properties_and_feature_upgrades(spark, tmp_path):
    """SET/UNSET TBLPROPERTIES: plain properties merge metadata-only;
    enabling CDF mid-history starts the feed from that version;
    enabling ICT records the enablement provenance and stamps
    subsequent commits; enabling row tracking on a non-empty table
    refuses."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        set_table_properties,
    )

    t = str(tmp_path / "props")
    create_delta_table(spark, _frame(spark, 0, 10), t, cdf=False,
                       ts_ms=1000)
    set_table_properties(spark, t, {"team.owner": "data-eng"}, ts_ms=2000)
    rep = replay_log(spark, t)
    assert rep.metadata["configuration"]["team.owner"] == "data-eng"
    set_table_properties(spark, t, unset=["team.owner"], ts_ms=2500)
    assert "team.owner" not in \
        replay_log(spark, t).metadata["configuration"]
    # enable CDF post-creation: protocol bumps, feed works from here
    set_table_properties(spark, t,
                         {"delta.enableChangeDataFeed": "true"},
                         ts_ms=3000)
    rep = replay_log(spark, t)
    assert rep.protocol["minWriterVersion"] >= 4
    v = append_delta(spark, _frame(spark, 10, 15), t, ts_ms=4000)
    ch = read_delta_changes(spark, t, v - 1, v)
    assert ch.filter("_change_type = 'insert'").count() == 5
    # enable ICT post-creation: provenance + stamped commits
    set_table_properties(spark, t,
                         {"delta.enableInCommitTimestamps": "true"},
                         ts_ms=5000)
    rep = replay_log(spark, t)
    assert "inCommitTimestamp" in rep.protocol["writerFeatures"]
    conf = rep.metadata["configuration"]
    assert conf["delta.inCommitTimestampEnablementVersion"] == \
        str(rep.version)
    append_delta(spark, _frame(spark, 15, 16), t, ts_ms=100)  # regressed
    log = os.path.join(t, "_delta_log")
    last = sorted(n for n in os.listdir(log) if n.endswith(".json"))[-1]
    ci = next(json.loads(line)["commitInfo"]
              for line in open(os.path.join(log, last))
              if "commitInfo" in line)
    assert "inCommitTimestamp" in ci
    with pytest.raises(DeltaProtocolError, match="backfill"):
        set_table_properties(spark, t,
                             {"delta.enableRowTracking": "true"})


def test_add_columns_plain_and_mapped(spark, tmp_path):
    """ADD COLUMNS: metadata-only widening — old rows read NULL, new
    appends carry the column; name-mode mapped tables get fresh
    physicalName/columnMapping.id and an advanced maxColumnId."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        add_columns,
    )

    t = str(tmp_path / "addc")
    create_delta_table(spark, _frame(spark, 0, 10), t, ts_ms=1000)
    add_columns(spark, t, [("score", "double"), ("tag", "string")],
                ts_ms=2000)
    got = read_delta_snapshot(spark, t)
    assert got.filter("score IS NULL AND tag IS NULL").count() == 10
    with pytest.raises(ValueError, match="already exist"):
        add_columns(spark, t, [("score", "double")])
    append_delta(spark, _frame(spark, 10, 12)
                 .withColumn("score", F.lit(1.5))
                 .withColumn("tag", F.lit("x")), t, ts_ms=3000)
    assert read_delta_snapshot(spark, t).filter("tag = 'x'").count() == 2

    # name-mode mapped table
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        set_table_properties,
    )
    tm = str(tmp_path / "addm")
    create_delta_table(spark, _frame(spark, 0, 5), tm, ts_ms=1000)
    # build a mapped table via the existing staging path: reuse a plain
    # table then verify add_columns assigns mapping metadata on a table
    # that DECLARES name mode
    rep = replay_log(spark, tm)
    md = dict(rep.metadata)
    sch = json.loads(md["schemaString"])
    for i, f in enumerate(sch["fields"]):
        f["metadata"] = {"delta.columnMapping.id": i + 1,
                         "delta.columnMapping.physicalName": f["name"]}
    md["schemaString"] = json.dumps(sch)
    md["configuration"] = {"delta.columnMapping.mode": "name",
                           "delta.columnMapping.maxColumnId": "3"}
    with open(os.path.join(tm, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 2000,
                                           "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping", "appendOnly",
                               "invariants"]}}) + "\n")
        f.write(json.dumps({"metaData": md}) + "\n")
    add_columns(spark, tm, [("extra", "bigint")], ts_ms=3000)
    rep = replay_log(spark, tm)
    f_extra = next(f for f in rep.schema.fields if f.name == "extra")
    assert f_extra.metadata["delta.columnMapping.id"] == 4
    assert f_extra.metadata["delta.columnMapping.physicalName"].startswith(
        "col-")
    assert rep.metadata["configuration"][
        "delta.columnMapping.maxColumnId"] == "4"
    assert read_delta_snapshot(spark, tm).filter(
        "extra IS NULL").count() == 5


def test_replace_where_selective_overwrite(spark, table):
    """replaceWhere: exactly the matching region is replaced in ONE
    commit — non-matching rows of affected files are carried over,
    untouched files never move, incoming rows outside the region
    refuse, CDF carries explicit delete+insert rows."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
        replace_where,
    )

    rep0 = replay_log(spark, table)
    untouched_before = {p for p, a in rep0.files.items()
                        if (a.get("partitionValues") or {}).get("p") == "1"}
    repl = (spark.range(200, 210)
            .selectExpr("id AS k", "'2' AS p",
                        "CAST(id * 3.0 AS double) AS v"))
    v = replace_where(spark, repl, table, "p = '2'", ts_ms=2000)
    got = read_delta_snapshot(spark, table)
    assert sorted(r.k for r in got.filter("p = '2'").collect()) == \
        list(range(200, 210))
    # every non-matching row survives
    assert got.filter("p != '2' OR p IS NULL").count() == \
        100 - rep0.version * 0 - 23  # 23 rows had p='2' in _frame(0,100)
    rep1 = replay_log(spark, table)
    assert untouched_before <= set(rep1.files)      # p=1 files untouched
    ch = read_delta_changes(spark, table, v - 1, v)
    assert ch.filter("_change_type = 'insert'").count() == 10
    assert ch.filter("_change_type = 'delete'").count() == 23
    with pytest.raises(DeltaConstraintViolation, match="replaceWhere"):
        replace_where(spark, spark.range(0, 3).selectExpr(
            "id AS k", "'9' AS p", "CAST(id AS double) AS v"), table,
            "p = '2'", ts_ms=3000)


def test_replace_where_refuses_before_staging(spark, table):
    """A replaceWhere whose incoming rows fall outside its predicate is
    refused before anything is staged: no new file under the table."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        DeltaConstraintViolation,
    )

    def files():
        return {os.path.join(d, n) for d, _, ns in os.walk(table)
                for n in ns}

    before = files()
    with pytest.raises(DeltaConstraintViolation, match="replaceWhere"):
        replace_where(spark, spark.range(0, 3).selectExpr(
            "id AS k", "'1' AS p", "CAST(id AS double) AS v"), table,
            "p = '2'", ts_ms=3000)
    assert files() == before


_LAYOUT_OPS = {
    # p IS NULL for k < 6: the predicate is NULL there and the row kept
    "delete": lambda spark, t, use_dv: delete_where(
        spark, t, "p <> '1' AND k % 3 = 0", ts_ms=2000, use_dv=use_dv),
    # self-referential SET: the hit set binds to the pre-update v, so
    # rows pushed past 40 still get their post-image
    "update": lambda spark, t, use_dv: update_where(
        spark, t, "v <= 40 AND p <> '3'", {"v": "v + 7"}, ts_ms=2000,
        use_dv=use_dv),
    # the NULL source key matches the NULL target key (<=>)
    "merge": lambda spark, t, use_dv: merge_into(
        spark, t, spark.createDataFrame(
            [(None, "1", 5.0), (0, "9", 1.0), (4, "9", -1.0),
             (500, "2", 1.0)], "k long, p string, v double"),
        on=["k"], when_matched_update={"v": "t.v + s.v"},
        when_matched_delete="s.v < 0", ts_ms=2000, use_dv=use_dv),
}


@pytest.mark.parametrize("op", sorted(_LAYOUT_OPS))
def test_row_op_layouts_agree(spark, tmp_path, op):
    """The rewrite and deletion-vector layouts of one row-level verb,
    run on two deep clones of one table with CDF and row tracking on,
    leave the same snapshot, the same change feed and the same row id
    on every row that existed before; inserted rows get fresh ids above
    the old ones."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot_with_row_ids,
    )

    def rows(df, cols):
        return sorted((tuple(r) for r in df.select(*cols).collect()),
                      key=repr)

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        clone_delta,
    )

    base = str(tmp_path / "base")
    create_delta_table(
        spark, _frame(spark, 0, 40, null_p_below=6).unionByName(
            spark.createDataFrame([(None, "1", -1.0)],
                                  "k long, p string, v double")),
        base, partition_by=["p"], cdf=True, ts_ms=1000,
        configuration={"delta.enableRowTracking": "true"})
    old_ids = {r.k: r._row_id for r in
               read_delta_snapshot_with_row_ids(spark, base).collect()}
    ends = {}
    for use_dv in (False, True):
        # a deep clone keeps every file's baseRowId: both layouts start
        # from the same row ids
        t = str(tmp_path / f"{op}_{use_dv}")
        clone_delta(spark, base, t, shallow=False, ts_ms=1000)
        assert _LAYOUT_OPS[op](spark, t, use_dv) == 1
        dvs = [a for a in replay_log(spark, t).files.values()
               if a.get("deletionVector")]
        assert bool(dvs) == use_dv
        ids = {r.k: r._row_id for r in
               read_delta_snapshot_with_row_ids(spark, t).collect()}
        assert len(set(ids.values())) == len(ids)
        assert all(i > max(old_ids.values())
                   for k, i in ids.items() if k not in old_ids)
        ends[use_dv] = (
            rows(read_delta_snapshot(spark, t), ["k", "p", "v"]),
            rows(read_delta_changes(spark, t, 0, 1),
                 ["k", "p", "v", "_change_type", "_commit_version"]),
            {k: i for k, i in ids.items() if k in old_ids})
    assert ends[False] == ends[True]


def test_v2_checkpoint_multi_sidecar_shards_and_replays(spark, table,
                                                        tmp_path):
    """Multi-sidecar v2 checkpoint: max_actions_per_sidecar shards the
    file actions across several parquet sidecars (the spec's layout for
    million-file tables — readers scan sidecars in parallel); replay
    from the sharded checkpoint alone reproduces the state exactly."""
    append_delta(spark, _frame(spark, 100, 130), table, ts_ms=2000)
    delete_where(spark, table, "k % 9 = 2", ts_ms=3000)
    # upgrade to v2Checkpoint keeping existing features
    rep = replay_log(spark, table)
    up = {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": sorted(
            set(rep.protocol.get("readerFeatures") or ())
            | {"v2Checkpoint"}),
        "writerFeatures": sorted(
            set(rep.protocol.get("writerFeatures") or ())
            | {"appendOnly", "invariants", "v2Checkpoint"})}}
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, f"{rep.version + 1:020d}.json"),
              "w") as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 3500, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps(up) + "\n")
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        write_v2_checkpoint,
    )

    before = {(r.k, r.v) for r in read_delta_snapshot(spark, table)
              .collect()}
    cp = write_v2_checkpoint(spark, table, max_actions_per_sidecar=3)
    n_files = len(replay_log(spark, table).files)
    import glob as _glob
    sidecars = _glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert len(sidecars) >= max(1, (n_files + 2) // 3)
    for v in range(cp):
        p = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(p):
            os.unlink(p)
    after = {(r.k, r.v) for r in read_delta_snapshot(spark, table)
             .collect()}
    assert after == before


def test_update_self_referential_predicate_cdc(spark, tmp_path):
    """UPDATE whose SET column appears in its own WHERE clause: the hit
    set is decided on PRE-update values and reused for the postimages —
    the rewrite path previously re-evaluated the predicate on the
    updated frame and emitted ZERO update_postimage rows for
    ``v < 5 -> v + 100`` (r11 regression find)."""
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_changes,
    )

    for dv in (False, True):
        t = str(tmp_path / f"selfref{int(dv)}")
        create_delta_table(
            spark, spark.range(10).selectExpr(
                "id AS k", "CAST(id AS double) AS v"),
            t, cdf=True, ts_ms=1000)
        update_where(spark, t, "v < 5", {"v": "v + 100"}, ts_ms=2000,
                     use_dv=dv)
        ch = [r for r in read_delta_changes(spark, t, 0, 1).collect()
              if r._commit_version == 1]
        pre = sorted((r.k, r.v) for r in ch
                     if r._change_type == "update_preimage")
        post = sorted((r.k, r.v) for r in ch
                      if r._change_type == "update_postimage")
        assert pre == [(k, float(k)) for k in range(5)], dv
        assert post == [(k, float(k) + 100) for k in range(5)], dv
        got = {r.k: r.v for r in read_delta_snapshot(spark, t).collect()}
        assert got == {k: (float(k) + 100 if k < 5 else float(k))
                       for k in range(10)}, dv
