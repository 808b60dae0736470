"""End-to-end unload pipeline: snapshot + changelog sources -> CDC filter ->
user SQL over original-name views -> sized write + sidecars, including both
retry levels (E2/E3) — the paths the reference left untested (SURVEY.md §5)."""

from __future__ import annotations

import json

import pytest

from databricks_import_pyspark_scripts_spark.plans.pipeline import UnloadJob, run_unload


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    r = str(tmp_path_factory.mktemp("unload_src"))
    v2 = spark.createDataFrame(
        [(1, "signup", 10.0), (2, "click", 5.0), (3, "view", 1.0)],
        "id int, event_type string, value double")
    v2.write.parquet(f"{r}/ev/v=2")
    changes = spark.createDataFrame(
        [
            (3, "view", 1.0, "insert", 2),
            (2, "click", 6.0, "update_postimage", 2),
            (2, "click", 5.0, "update_preimage", 2),
            (9, "gone", 0.0, "delete", 2),
        ],
        "id int, event_type string, value double, _change_type string, _commit_version long",
    ).selectExpr("*", "timestamp'2024-01-01' as _commit_timestamp")
    changes.write.partitionBy("_commit_version").parquet(f"{r}/ev_changes")
    return r


def read_meta(spark, out):
    return json.loads(spark.read.text(f"{out}/meta").collect()[0].value)


def test_snapshot_unload(spark, root, tmp_path):
    out = str(tmp_path / "out1")
    job = UnloadJob(
        source_root=root,
        table_versions={"ev": [0, 2]},
        sql="SELECT id, UPPER(event_type) AS et, value * 2 AS v2 FROM ev",
        output_path=out,
        fmt="parquet",
    )
    report = run_unload(spark, job)
    assert report["rows"] == 3
    got = spark.read.parquet(f"{out}/part-*")
    assert sorted(r.et for r in got.collect()) == ["CLICK", "SIGNUP", "VIEW"]
    meta = read_meta(spark, out)
    assert meta["event_count"] == 3 and meta["partition_count"] == 1


def test_incremental_event_unload_filters_cdc(spark, root, tmp_path):
    out = str(tmp_path / "out2")
    job = UnloadJob(
        source_root=root,
        table_versions={"ev": [1, 2]},
        sql="SELECT id FROM ev",
        output_path=out,
        data_type="EVENT",
        fmt="json",
    )
    report = run_unload(spark, job)
    # EVENT keeps only 'insert' -> id 3
    assert report["rows"] == 1
    assert report["table_results"]["ev"]["finalStartVersion"] == 1


def test_property_unload_keeps_postimage(spark, root, tmp_path):
    out = str(tmp_path / "out3")
    job = UnloadJob(
        source_root=root,
        table_versions={"ev": [1, 2]},
        sql="SELECT id, value FROM ev",
        output_path=out,
        data_type="USER_PROPERTY",
    )
    report = run_unload(spark, job)
    assert report["rows"] == 2  # insert(3) + update_postimage(2 @ 6.0)
    vals = {r.id: r.value for r in spark.read.parquet(f"{out}/part-*").collect()}
    assert vals[2] == 6.0


def test_per_table_latest_only_fallback(spark, root, tmp_path):
    """E2: requesting changes for a table with no changelog falls back to the
    latest snapshot and records the incident."""
    out = str(tmp_path / "out4")
    # 'solo' has a snapshot but NO changelog -> change read raises eagerly
    spark.createDataFrame([(7,)], "id int").write.parquet(f"{root}/solo/v=5")
    job = UnloadJob(
        source_root=root,
        table_versions={"solo": [3, 5]},
        sql="SELECT id FROM solo",
        output_path=out,
    )
    report = run_unload(spark, job)
    assert report["rows"] == 1
    tr = report["table_results"]["solo"]
    assert tr["finalStartVersion"] == 0 and tr["finalEndVersion"] == 5
    assert "CHANGELOG_NOT_FOUND" in tr["initialFetchError"]


def test_non_cdf_errors_are_not_retried(spark, root, tmp_path):
    """E3 retries ONLY on missing-change-file signatures; a plain SQL error
    must surface immediately (silent latest-only retry would mask bugs)."""
    job = UnloadJob(
        source_root=root,
        table_versions={"ev": [0, 2]},
        sql="SELECT nonexistent_column FROM ev",
        output_path=str(tmp_path / "never"),
    )
    with pytest.raises(Exception) as ei:
        run_unload(spark, job)
    assert "CHANGELOG_NOT_FOUND" not in str(ei.value)


def test_sidecars_written(spark, root, tmp_path):
    out = str(tmp_path / "out5")
    job = UnloadJob(
        source_root=root,
        table_versions={"ev": [0, 2]},
        sql="SELECT id FROM ev",
        output_path=out,
    )
    report = run_unload(spark, job)
    logs = spark.read.text(f"{out}/logs/run_{report['run_id']}/table_results.json")
    payload = json.loads("".join(r.value for r in logs.collect()))
    assert payload["ev"]["finalEndVersion"] == 2


def test_dotted_table_identifiers_resolve():
    """Qualified names (cat.sch.t — the format the reference's versions-map
    carries) must resolve in the user SQL: temp views are single-part, so
    the pipeline backtick-quotes the dotted identifier occurrences."""
    from databricks_import_pyspark_scripts_spark.plans.pipeline import (
        quote_dotted_identifiers,
    )

    assert quote_dotted_identifiers(
        "SELECT * FROM cat.sch.t JOIN cat.sch.t2 ON 1=1 WHERE x = 'cat.sch.t'",
        ["cat.sch.t", "cat.sch.t2"],
    ) == "SELECT * FROM `cat.sch.t` JOIN `cat.sch.t2` ON 1=1 WHERE x = 'cat.sch.t'"
    # already-backticked occurrences stay untouched
    assert quote_dotted_identifiers(
        "SELECT * FROM `cat.sch.t`", ["cat.sch.t"]) == "SELECT * FROM `cat.sch.t`"
    # undotted names need no rewrite
    assert quote_dotted_identifiers("SELECT * FROM t", ["t"]) == "SELECT * FROM t"


def test_unload_with_dotted_table_name(spark, tmp_path):
    import os

    from databricks_import_pyspark_scripts_spark.plans.pipeline import UnloadJob, run_unload

    root = str(tmp_path / "src")
    os.makedirs(f"{root}/cat.sch.events/v=1", exist_ok=True)
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .write.mode("overwrite").parquet(f"{root}/cat.sch.events/v=1")
    out = str(tmp_path / "out")
    job = UnloadJob(
        source_root=root,
        table_versions={"cat.sch.events": [0, 1]},
        sql="SELECT id, v FROM cat.sch.events WHERE id > 0",
        output_path=out, fmt="json")
    report = run_unload(spark, job)
    assert report["rows"] == 2


def test_dotted_identifier_column_references():
    from databricks_import_pyspark_scripts_spark.plans.pipeline import (
        quote_dotted_identifiers,
    )

    # qualified column refs on the dotted view get rewritten too
    assert quote_dotted_identifiers(
        "SELECT cat.sch.t.id FROM cat.sch.t WHERE cat.sch.t.id > 1",
        ["cat.sch.t"],
    ) == "SELECT `cat.sch.t`.id FROM `cat.sch.t` WHERE `cat.sch.t`.id > 1"
    # prefix table never half-matches inside the longer name
    assert quote_dotted_identifiers(
        "SELECT cat.sch.t2.id FROM cat.sch.t2",
        ["cat.sch.t", "cat.sch.t2"],
    ) == "SELECT `cat.sch.t2`.id FROM `cat.sch.t2`"


def test_dotted_identifier_rewrite_skips_comments_and_double_quotes():
    from databricks_import_pyspark_scripts_spark.plans.pipeline import (
        quote_dotted_identifiers,
    )

    t = ["cat.sch.t"]
    # -- line comment: harmless either way, but must stay byte-identical
    assert quote_dotted_identifiers(
        "SELECT * FROM cat.sch.t -- reads cat.sch.t\nWHERE x = 1", t,
    ) == "SELECT * FROM `cat.sch.t` -- reads cat.sch.t\nWHERE x = 1"
    # bracketed comment spanning lines
    assert quote_dotted_identifiers(
        "SELECT * /* cat.sch.t\n more cat.sch.t */ FROM cat.sch.t", t,
    ) == "SELECT * /* cat.sch.t\n more cat.sch.t */ FROM `cat.sch.t`"
    # double-quoted literal (Spark default mode: a STRING) must not be
    # corrupted with backticks
    assert quote_dotted_identifiers(
        'SELECT * FROM cat.sch.t WHERE x = "cat.sch.t"', t,
    ) == 'SELECT * FROM `cat.sch.t` WHERE x = "cat.sch.t"'
    # backslash-escaped quote inside a single-quoted literal must not
    # desynchronize the literal/code split
    assert quote_dotted_identifiers(
        r"SELECT * FROM cat.sch.t WHERE x = 'it\'s cat.sch.t'", t,
    ) == r"SELECT * FROM `cat.sch.t` WHERE x = 'it\'s cat.sch.t'"
    # ''-doubling still recognized
    assert quote_dotted_identifiers(
        "SELECT * FROM cat.sch.t WHERE x = 'a''cat.sch.t'", t,
    ) == "SELECT * FROM `cat.sch.t` WHERE x = 'a''cat.sch.t'"


def test_coalesce_without_target_delta(spark, tmp_path):
    """Documented migration delta (README): the coalesce strategy with no
    target does NOT coalesce — the global maxRecordsPerFile conf bounds
    file sizes in one pass instead of the reference's count-then-coalesce
    double execution. Pin both halves: no partition-count change, and the
    per-file record cap still enforced at write time."""
    import glob
    import os

    from databricks_import_pyspark_scripts_spark.plans.pipeline import UnloadJob, run_unload

    root = str(tmp_path / "src")
    os.makedirs(f"{root}/ev/v=1", exist_ok=True)
    spark.range(1000).selectExpr("id", "id * 2 AS v") \
        .write.mode("overwrite").parquet(f"{root}/ev/v=1")
    out = str(tmp_path / "out")
    job = UnloadJob(
        source_root=root, table_versions={"ev": [0, 1]},
        sql="SELECT * FROM ev", output_path=out, fmt="json",
        partitioning_strategy="coalesce", max_records_per_file=100)
    report = run_unload(spark, job)
    assert report["rows"] == 1000
    # maxRecordsPerFile=100 (session conf) caps every output file
    for f in glob.glob(f"{out}/*.json"):
        with open(f) as fh:
            assert sum(1 for _ in fh) <= 100


def test_unload_e2e_on_non_local_fs_scheme(spark, root, tmp_path):
    """The whole job — versioned source read, sized write, meta + log
    sidecars — must run against a NON-file:// FileSystem resolved by URI
    scheme. Real S3A cannot run here (no hadoop-aws jar in the build env,
    documented boundary in README), but scheme-genericity is the code
    property S3A needs: a single hardcoded local-path assumption in any
    writer or sidecar breaks on viewfs:// exactly as it would on s3a://.
    ViewFS is a real production Hadoop FS layer (mount table), so this is
    an honest non-local execution, not a mock."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    mount = str(tmp_path / "mnt")
    hconf.set("fs.viewfs.mounttable.graft.link./out", f"file://{mount}")
    out = "viewfs://graft/out/job1"
    job = UnloadJob(
        source_root=root,
        table_versions={"ev": [0, 2]},
        sql="SELECT id, event_type FROM ev",
        output_path=out,
        fmt="parquet",
    )
    report = run_unload(spark, job)
    assert report["rows"] == 3
    got = spark.read.parquet(f"{out}/part-*")
    assert got.count() == 3
    meta = read_meta(spark, out)
    assert meta["event_count"] == 3
    logs = spark.read.text(
        f"{out}/logs/run_{report['run_id']}/table_results.json")
    payload = json.loads("".join(r.value for r in logs.collect()))
    assert payload["ev"]["finalEndVersion"] == 2
    # the bytes really landed under the mount target on the backing FS
    import glob as _glob
    assert _glob.glob(f"{mount}/job1/part-*.parquet")


@pytest.fixture(scope="module")
def merged_root(spark, tmp_path_factory):
    from delta_fixture import make_merged_cdf_table

    r = str(tmp_path_factory.mktemp("merged_src"))
    make_merged_cdf_table(spark, f"{r}/events")
    return r


def test_incremental_sync_runs_one_job(spark, merged_root, tmp_path):
    """A USER_PROPERTY JSON export over a 2-version window of a merged
    change feed runs one Spark job, the write. No consumer reads the
    change rows' version tags, so the optimizer removes their map join;
    while it ran, its broadcast was a second job."""
    from delta_fixture import MERGED_SYNC_SQL

    sc = spark.sparkContext
    for n in range(2):  # the first sync of a session warms caches
        group = f"test-sync-job-budget-{n}"
        job = UnloadJob(source_root=merged_root,
                        table_versions={"events": [1, 3]},
                        sql=MERGED_SYNC_SQL,
                        output_path=str(tmp_path / f"out{n}"),
                        data_type="USER_PROPERTY", fmt="json")
        sc.setJobGroup(group, "incremental sync job budget")
        try:
            report = run_unload(spark, job)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert report["rows"] > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


@pytest.mark.parametrize("scheme", ["file://", "file:"])
def test_sidecars_on_file_uri(spark, merged_root, tmp_path, scheme):
    """Sidecars land at the same paths with the same bytes whether the
    output is a bare path or a ``file:`` URI."""
    import os

    from delta_fixture import MERGED_SYNC_SQL

    local = str(tmp_path / "out")
    job = UnloadJob(source_root=merged_root,
                    table_versions={"events": [1, 3]}, sql=MERGED_SYNC_SQL,
                    output_path=f"{scheme}{local}",
                    data_type="USER_PROPERTY", fmt="json")
    report = run_unload(spark, job)

    def read(rel):
        with open(os.path.join(local, rel), "rb") as f:
            return f.read()

    assert read("meta") == json.dumps(
        {"event_count": report["rows"],
         "partition_count": report["partitions"]}).encode()
    base = f"logs/run_{report['run_id']}"
    assert read(f"{base}/table_results.json") \
        == json.dumps(report["table_results"]).encode()
    assert read(f"{base}/logs.txt") == "\n".join(report["logs"]).encode()
    assert json.loads(spark.read.text(f"{scheme}{local}/meta").first().value) \
        == {"event_count": report["rows"],
            "partition_count": report["partitions"]}


def test_incremental_unload_across_a_delta_checkpoint(spark, tmp_path):
    """An incremental EVENT unload whose window crosses a checkpoint of
    the source Delta table exports every row the window inserted, not
    only those committed after the checkpoint."""
    from delta_fixture import make_checkpointed_cdf_table

    src = tmp_path / "src"
    make_checkpointed_cdf_table(spark, str(src / "tbl"))
    out = str(tmp_path / "out")
    report = run_unload(spark, UnloadJob(
        source_root=str(src), table_versions={"tbl": [1, 5]},
        sql="SELECT id FROM tbl", output_path=out, data_type="EVENT",
        fmt="parquet"))
    assert report["table_results"]["tbl"]["finalStartVersion"] == 1
    assert sorted(r.id for r in spark.read.parquet(f"{out}/part-*")
                  .collect()) == list(range(20, 60))
