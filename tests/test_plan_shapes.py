"""Plan-shape regression tests: the scale-critical physical-plan properties
SCALE.md claims (broadcasts, single signature execution) must survive
refactors — a silently changed plan shape is a 100 TB regression even when
results stay correct.

Node counting: `explainString("formatted")` prints every node twice (tree
skeleton + "(N) NodeName" detail header), so nodes are counted via the
detail-header regex. One logical pandas_udf can also surface as a stacked
ArrowEvalPython pair, so execution counts are asserted through SCAN counts
(a re-executed pipeline always re-scans its source)."""

from __future__ import annotations

import re

from databricks_import_pyspark_scripts_spark.querylib import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(  # noqa: SLF001
        df.sparkSession._jvm.org.apache.spark.sql.execution  # noqa: SLF001
        .ExplainMode.fromString("formatted"))


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"^\(\d+\) {name}\s*$", plan, re.MULTILINE))


def _scans(plan: str, table: str) -> int:
    return plan.count(f"{table}.parquet]")


def test_minhash_signature_pipeline_executes_once(spark, sf_dir):
    """r14 batch 10: the verify's candidate bound is ONE dataflow
    reference to the pair list (melt -> per-id pair-list collect ->
    broadcast inner join pruning the corpus text scan -> Arrow shingles
    -> explode back), so the WHOLE query is one transparent plan with
    EXACTLY 2 Arrow stages (signature + verify shingles — a 3rd means
    per-join-side shingling crept back) and EXACTLY 3 documents scans
    (collapse fingerprint projection, rep-id semi-joined signature text
    scan, pair-list-joined verify text scan — a 4th means a verify side
    re-runs the signature pipeline). No checkpoint RDD: the earlier
    localCheckpointed pair list was an opaque AQE barrier that executed
    the candidate pipeline even for consumers whose plans prune it
    (graph_pagerank_exact's count went ~3 -> ~12 process-tree CPU-s),
    and it pinned session storage."""
    df = all_queries()["dedup_minhash_lsh"](spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "ArrowEvalPython") == 2
    assert _scans(plan, "documents") == 3
    assert plan.count("Scan ExistingRDD") == 0

    from databricks_import_pyspark_scripts_spark.operators.dedup import (
        MAX_BUCKET,
        bucket_pairs,
        collapse_exact_reps,
        minhash_bands,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bands = minhash_bands(collapse_exact_reps(d, "doc_id", "text"),
                          "doc_id", "text")
    cand = bucket_pairs(bands, ["band_idx", "band_hash"], F.col("doc_id"),
                        max_bucket=MAX_BUCKET)
    cplan = _plan(cand)
    assert _nodes(cplan, "ArrowEvalPython") == 1
    assert _scans(cplan, "documents") == 2


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must broadcast: the corpus side streams
    map-side through the candidate join and never shuffles its shingles."""
    df = all_queries()["dedup_decontaminate_benchmark"](spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "BroadcastHashJoin") >= 1


def test_q5_dimensions_all_broadcast(spark, sf_dir):
    """TPC-H Q5 shape: every dimension side broadcasts; only the
    orders-lineitem fact join shuffles — the one-big-shuffle plan that
    holds at 100 TB."""
    df = all_queries()["q5_region_supplier_volume"](spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dedup_single_bucket_build(spark, sf_dir):
    """The Arrow bucket build runs once and the verify never shuffles the
    pair set. r15 gather verify: the vector table no longer appears in
    the verify PLAN at all — it is collected once at build and gathered
    inside the pair-id MapInPandas (only two bigints per pair cross the
    Python boundary; the r14 broadcast-hash form shipped both 64-dim
    vectors per pair, ~850 MB/run). So: embeddings scans exactly once
    (the bucket pipeline), exactly two MapInPandas (bucket matmul +
    gather cosine), no ArrowEvalPython, no join of any kind in the
    verify, and still zero pair shuffle (the r6 melt-join's ~500 MB pair
    exchange was the bench-wobble root cause)."""
    df = all_queries()["dedup_embedding_cosine"](spark, sf_dir)
    plan = _plan(df)
    assert _scans(plan, "embeddings") == 1
    assert _nodes(plan, "MapInPandas") == 2
    assert _nodes(plan, "ArrowEvalPython") == 0
    assert _nodes(plan, "SortMergeJoin") == 0
    assert "CartesianProduct" not in plan


def test_semdedup_single_assignment_and_verify(spark, sf_dir):
    """SemDeDup: the cell assignment is eagerly checkpointed (it has two
    consumers — pair mining and the final flag join — and would re-execute
    per consumer otherwise), so the final plan must show exactly ONE
    embeddings parquet scan (the melt-join cosine verify) plus the two
    checkpoint reads, and the Arrow pair cosine evaluates once (the
    asNondeterministic barrier against filter-pushdown cloning, same trap
    as embedding dedup)."""
    df = all_queries()["dedup_semantic_semdedup"](spark, sf_dir)
    plan = _plan(df)
    assert _scans(plan, "embeddings") == 1
    assert _nodes(plan, "Scan ExistingRDD") == 2  # the checkpointed cells
    assert _nodes(plan, "ArrowEvalPython") == 1
    assert "CartesianProduct" not in plan


def test_join_strategy_hints_control_physical_join(spark, sf_dir):
    """The three join strategies are selectable per-side: AQE/size picks
    broadcast for dims, and a shuffle_hash hint replaces sort-merge for a
    mid-size side (hash-building the smaller side beats sorting BOTH
    sides when it fits executor memory but not the broadcast threshold —
    the standard fact-to-mid-dim tuning at 100 TB)."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    smj = li.join(orders.hint("merge"),
                  li.l_orderkey == orders.o_orderkey)
    shj = li.join(orders.hint("shuffle_hash"),
                  li.l_orderkey == orders.o_orderkey)
    assert _nodes(_plan(smj), "SortMergeJoin") == 1
    p = _plan(shj)
    assert _nodes(p, "ShuffledHashJoin") == 1
    assert _nodes(p, "Sort") == 0  # the whole point: no sort on either side


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    """Pushdown evidence as a pinned test (PLANS.md shows it, this keeps
    it true): a filtered two-column projection must land its predicate in
    PushedFilters and read ONLY those columns (ReadSchema), so the 100 TB
    scan skips row groups and never decodes untouched columns."""
    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .filter("o_totalprice > 100000")
          .select("o_orderkey", "o_totalprice"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "o_orderkey:bigint", "o_totalprice:double"}


def test_incremental_neardup_broadcasts_new_batch(spark, sf_dir):
    """Batch-incremental near-dup: the NEW batch side must broadcast into
    the history band index (history streams map-side; nothing
    history-sized shuffles through the candidate join) and no cartesian
    may appear anywhere in the verify chain."""
    df = all_queries()["dedup_incremental_neardup"](spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "BroadcastHashJoin") >= 2  # band probe + verify sides
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_passages_is_hash_join_only(spark, sf_dir):
    """Exact-substring passage dedup: the 12-token window match is keyed
    on the window hash — never a nested-loop/cartesian — so the candidate
    volume is O(matching windows), not O(docs^2). r14 batch 10: the match
    is no longer even a join — duplicate windows collapse per (doc, hash)
    first, a hash-partitioned window count over h IS the distinct-doc
    count, and the old two-consumer form's second Arrow tokenize+md5 pass
    (hashed.distinct() -> groupBy(h) -> join back) is gone: EXACTLY 1
    Arrow stage and 1 documents scan, one Window keyed on h, no join."""
    df = all_queries()["text_duplicate_passages"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "MapInPandas") == 1
    assert _scans(plan, "documents") == 1


def test_containment_guard_precedes_pair_explode(spark, sf_dir):
    """The stop-shingle DF guard must execute BEFORE candidate generation
    (left-semi of the shingle explode against the ok-shingle set), and
    candidates must come from the single-pass within-bucket explode — no
    two-sided shingle self-join (which would re-run the tokenize+shingle
    pipeline per side), no cartesian."""
    df = all_queries()["dedup_containment_pairs"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Join LeftSemi") >= 1
    assert "CartesianProduct" not in plan
    # r14: the (id, shingle) projection is localCheckpointed, so the
    # tokenize+shingle Arrow pass executes ONCE; its three consumers
    # (sizes, df-guard aggregate, guarded pair explode) read the
    # checkpoint RDD, and EXACTLY ONE documents parquet scan remains —
    # the 1-row n_docs scalar (count-only, column-pruned). A 2nd parquet
    # scan means a consumer bypassed the checkpoint and re-runs the
    # tokenize+shingle pipeline; 0 means the scalar vanished.
    assert _scans(plan, "documents") == 1
    assert plan.count("Scan ExistingRDD") >= 3


def test_triangle_wedge_join_is_equi_join(spark, sf_dir):
    """Degree-oriented triangle counting: wedge build and closure probe
    are equi-joins (one left-semi for the closure); no nested-loop join
    may appear — the rank comparison is a post-join filter, never a join
    condition that forces BroadcastNestedLoopJoin."""
    df = all_queries()["graph_triangle_count"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Join LeftSemi") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_passages_two_corpus_passes(spark, sf_dir):
    """Passage dedup needs exactly ONE pass over the window-hash pipeline
    (r14 batch 10; historically: r6 folded the 3-pass shape into a
    left-join aggregate over two passes, and batch 10 collapsed the
    remaining pair — per-(doc, hash) counts make the multi-doc predicate
    a window count over h, no second tokenize+md5 pass). A second
    documents scan means a whole extra corpus explode+md5 pass at
    100 TB crept back."""
    df = all_queries()["text_duplicate_passages"](spark, sf_dir)
    plan = _plan(df)
    assert _scans(plan, "documents") == 1


def test_simhash_pairs_single_signature_pass(spark, sf_dir):
    """The band split must be the generated-struct explode over one
    signature pass: exactly 2 documents scans (collapse pre-pass +
    signature pipeline) and one Arrow signature stage. More scans means
    the per-band union-of-selects crept back — num_bands extra corpus
    passes through the Arrow stage at scale."""
    df = all_queries()["dedup_simhash_pairs"](spark, sf_dir)
    plan = _plan(df)
    assert _scans(plan, "documents") == 2
    assert _nodes(plan, "ArrowEvalPython") == 1


def test_bm25_queries_read_only_the_materialized_index(spark, sf_dir):
    """BM25 gates through the materialized inverted index (bm25_index,
    localCheckpoint): the QUERY plan must show ZERO documents scans — all
    tokenization/TF/DF work happened once at index-build time — and read
    the checkpointed index blocks exactly 6 times (tf postings, df, doc
    lengths, and the avgdl/N scalars). A documents scan here means a
    consumer bypassed the index and re-tokenizes the corpus per query —
    the build-once/query-many contract broken, a full corpus pass per
    search at 100 TB."""
    df = all_queries()["text_bm25_search"](spark, sf_dir)
    plan = _plan(df)
    assert _scans(plan, "documents") == 0
    assert _nodes(plan, "Scan ExistingRDD") == 6


def test_global_shuffle_index_never_single_partition_sorts_corpus(spark,
                                                                  sf_dir):
    """The global-shuffle index must stay the two-pass distributed shape:
    the CORPUS window partitioned by the md5-prefix bucket (hashpartitioning
    exchange), offsets joined back by BROADCAST, and exactly ONE
    SinglePartition exchange in the whole plan — the 256-row cumulative-
    offset window, never the corpus. A second SinglePartition (or a missing
    _bkt exchange) means the naive ORDER BY hash sort crept back: at 100 TB
    that is the entire corpus sorted by one task. Two documents scans: the
    cheap counting pass (pruned to doc_id only) + the rank pass."""
    df = all_queries()["corpus_global_shuffle"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(_bkt" in plan
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert _scans(plan, "documents") == 2


def test_pps_sharded_never_single_partition_sorts_corpus(spark, sf_dir):
    """The sharded PPS sample must keep the two-pass distributed shape:
    the corpus cumulative-weight window partitioned by the md5-prefix
    shard (hashpartitioning exchange), shard offsets joined back by
    BROADCAST, and exactly ONE SinglePartition exchange in the plan — the
    16-row offset window, never the corpus. A second SinglePartition
    means the global ORDER BY crept back (the exact serialization this
    variant exists to remove)."""
    df = all_queries()["corpus_systematic_pps_sharded"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(shard" in plan
    assert _nodes(plan, "BroadcastHashJoin") == 1


def test_pps_sharded_equals_global_sample(spark, sf_dir):
    """The shard key is a PREFIX of the global sort key, so the sharded
    variant must select the bit-identical sample (same docs, same
    n_hits) as the single-window global form."""
    got = {(r.doc_id, r.n_hits) for r in
           all_queries()["corpus_systematic_pps_sharded"](
               spark, sf_dir).collect()}
    want = {(r.doc_id, r.n_hits) for r in
            all_queries()["corpus_systematic_pps_sample"](
                spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_psi_drift_single_corpus_scan(spark, sf_dir):
    """PSI runs as ONE conditional-aggregate corpus scan: the dense
    bucket grid is rebuilt from the per-type rollup (map lookups over an
    exploded 0..B-1 sequence), never by re-joining the corpus. A second
    events scan means the grid-DataFrame + totals-join form crept back
    (it re-executed the rollup three times)."""
    df = all_queries()["events_psi_drift"](spark, sf_dir)
    assert _scans(_plan(df), "events") == 1


def test_cross_group_overlap_single_size_build(spark, sf_dir):
    """The overlap matrix's deduped (group, h) set is localCheckpointed
    (r14): exchange reuse only shared the pre-Arrow repartition, so the
    window-hash Python pass and the distinct agg still re-executed per
    consumer (pair mining + size build). With the checkpoint the corpus
    is read and window-hashed exactly ONCE — a second documents scan or
    a second MapInPandas in the plan means the checkpoint was dropped
    and per-consumer re-execution crept back."""
    df = all_queries()["dedup_cross_source_overlap"](spark, sf_dir)
    plan = _plan(df)
    # the eager checkpoint ran scan + window-hash ONCE at build time; the
    # final plan must read the checkpoint RDD only — any documents scan or
    # MapInPandas here means a consumer bypasses the materialized set
    assert _scans(plan, "documents") == 0
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan


def test_brand_affinity_single_marginal_build(spark, sf_dir):
    """The brand-marginal table joins the pair counts twice (n_a / n_b)
    from ONE aliased subplan: at runtime the second broadcast side must
    reuse the first build instead of re-running the basket pipeline."""
    df = all_queries()["orders_brand_affinity"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert executed.count("ReusedExchange") >= 1


def test_ks_drift_single_corpus_scan(spark, sf_dir):
    """Exact KS collapses the corpus to distinct (type, value) counts in
    one conditionally-aggregated pass; the ECDF windows and the final
    max-gap aggregate all run over that collapsed table. A second events
    scan means a per-period or per-total re-scan crept in."""
    df = all_queries()["events_ks_drift"](spark, sf_dir)
    assert _scans(_plan(df), "events") == 1


def test_pmi_marginals_reuse_the_bigram_count_exchange(spark, sf_dir):
    """PMI declares 4 corpus passes (pair counts + 2 marginals + total)
    but every consumer aggregates the SAME bigram-count subplan, so at
    runtime the (token_a, token_b) exchange is built once and reused 3
    times — the corpus is read once. Fewer reuses means a marginal went
    back to its own corpus-sourced pipeline."""
    df = all_queries()["text_pmi_collocations"](spark, sf_dir)
    assert _scans(_plan(df), "documents") == 4  # declared passes
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert executed.count("ReusedExchange") >= 3


def test_psi_quantile_two_scans_edges_broadcast(spark, sf_dir):
    """Quantile-grid PSI needs exactly 2 corpus scans — the reference-
    decile build (collapses to |types| rows) and the single conditional
    biperiod pass — with the edge table BROADCAST onto the fact scan.
    A third scan means a per-period or totals re-scan crept in."""
    df = all_queries()["events_psi_quantile_drift"](spark, sf_dir)
    plan = _plan(df)
    assert _scans(plan, "events") == 2
    assert _nodes(plan, "BroadcastHashJoin") >= 1


def test_phash_decode_executes_once_and_stays_arrow(spark, sf_dir):
    """The real-PNG pHash pipeline decodes each image EXACTLY once (one
    MapInPandas stage feeding the single banded groupBy — bucket_pairs'
    no-self-join shape) and keeps hamming verification JVM-side: a
    second decode stage or a row-at-a-time BatchEvalPython is a scale
    regression (decode is the expensive step at 100 TB of media)."""
    df = all_queries()["multimodal_phash_near_dup"](spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "MapInPandas") == 1
    assert _nodes(plan, "BatchEvalPython") == 0


def test_update_where_gate_reads_plain_scan(spark, sf_dir):
    """After DELETE/UPDATE/MERGE + compaction, the gate's read plan is a
    plain parquet aggregate — no python stages, no joins: compaction
    folded every merge-on-read structure back into data files."""
    df = all_queries()["iceberg_update_where_agg"](spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "MapInPandas") == 0
    assert _nodes(plan, "BatchEvalPython") == 0
    assert "Join" not in plan


# Driver-built lookup tables (file -> version maps, partition-value maps,
# row-id bases, delete positions) are LocalRelations: a `Scan ExistingRDD`
# in a reader's plan means a list-built createDataFrame crept back, and
# every evaluation would start Python workers to unpickle its rows.

def test_delta_change_feed_maps_are_local_relations(spark, tmp_path):
    """(0, 4] spans a pure file-ops commit (v1), a cdc commit (v2), an
    add-only (v3) and a remove-only (v4) commit: three batched scans, each
    tagged with versions from a LocalRelation (and, the table being
    partitioned, re-attached partition values from another)."""
    import os

    from delta_fixture import _commit, _write_parquet, make_delta_table

    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_changes,
    )

    t = make_delta_table(str(tmp_path / "tbl"))
    log = os.path.join(t, "_delta_log")
    _write_parquet(os.path.join(t, "part=c", "f5.parquet"), [9], [9.0])
    _commit(log, 3, [
        {"commitInfo": {"timestamp": 1700000001000, "operation": "WRITE"}},
        {"add": {"path": "part=c/f5.parquet", "partitionValues": {"part": "c"},
                 "size": 1, "dataChange": True, "modificationTime": 4}}])
    _commit(log, 4, [
        {"commitInfo": {"timestamp": 1700000002000, "operation": "DELETE"}},
        {"remove": {"path": "part=a/f4.parquet", "deletionTimestamp": 5,
                    "dataChange": True, "partitionValues": {"part": "a"}}}])
    ch = read_delta_changes(spark, t, 0, 4)
    plan = _plan(ch)
    assert "Scan ExistingRDD" not in plan
    assert _nodes(plan, "LocalTableScan") == 6  # 3 version + 3 partition maps
    got = sorted((r._commit_version, r._change_type, r.id, r.part)
                 for r in ch.collect())
    assert got == [
        (1, "delete", 4, "b"), (1, "delete", 5, "b"),
        (1, "insert", 7, "a"), (1, "insert", 8, "a"),
        (2, "update_postimage", 1, "a"), (2, "update_preimage", 1, "a"),
        (3, "insert", 9, "c"),
        (4, "delete", 7, "a"), (4, "delete", 8, "a")]


def test_incremental_export_plan_drops_version_map(spark, tmp_path):
    """The unload path drops the change rows' version tags, so the
    optimized export plan keeps no join to the version map: no join, no
    broadcast, no LocalTableScan. Readers that keep the tags join it
    (test above)."""
    from delta_fixture import MERGED_SYNC_SQL, make_merged_cdf_table

    from databricks_import_pyspark_scripts_spark.operators.cdc import (
        filter_data,
    )
    from databricks_import_pyspark_scripts_spark.sources.versioned import (
        fetch_data,
    )

    root = str(tmp_path)
    make_merged_cdf_table(spark, f"{root}/events")
    filter_data(fetch_data(spark, root, "events", 1, 3),
                "USER_PROPERTY").createOrReplaceTempView("events")
    try:
        export = spark.sql(MERGED_SYNC_SQL)
        plan = _plan(export)
        assert "Join" not in plan
        assert _nodes(plan, "BroadcastExchange") == 0
        assert _nodes(plan, "LocalTableScan") == 0
        assert export.count() > 0
    finally:
        spark.catalog.dropTempView("events")


def test_partitioned_export_plan_drops_partition_map(spark, tmp_path):
    """An export that reads no partition column keeps no join to the
    partition-value map: on the partitioned fixture the exported change
    feed plans no Join, and its JSON write runs one job. A reader of the
    partition column still gets its values."""
    from delta_fixture import make_delta_table

    from databricks_import_pyspark_scripts_spark.operators.cdc import (
        filter_data,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_changes,
    )

    t = make_delta_table(str(tmp_path / "p"))
    sc = spark.sparkContext
    for n in range(2):  # the first write of a session warms caches
        export = filter_data(read_delta_changes(spark, t, 0, 2),
                             "USER_PROPERTY").select("id", "val")
        assert "Join" not in _plan(export)
        group = f"test-partitioned-export-{n}"
        sc.setJobGroup(group, "partitioned export job budget")
        try:
            export.write.json(str(tmp_path / f"out{n}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    tagged = read_delta_changes(spark, t, 0, 2).select("id", "part")
    assert sorted(tuple(r) for r in tagged.collect()) == [
        (1, "a"), (1, "a"), (4, "b"), (5, "b"), (7, "a"), (8, "a")]


def test_delta_partitioned_and_row_tracked_scans_are_local(spark, tmp_path):
    from delta_fixture import make_delta_table

    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        create_delta_table,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot,
        read_delta_snapshot_with_row_ids,
    )

    snap = read_delta_snapshot(spark, make_delta_table(str(tmp_path / "p")))
    plan = _plan(snap)
    assert "Scan ExistingRDD" not in plan
    assert _nodes(plan, "LocalTableScan") == 1  # the partition-value map
    assert sorted((r.id, r.part) for r in snap.collect()) == [
        (1, "a"), (2, "a"), (3, "a"), (6, None), (7, "a"), (8, "a")]

    rt = str(tmp_path / "rt")
    create_delta_table(spark, spark.range(0, 20).selectExpr("id AS k"), rt,
                       configuration={"delta.enableRowTracking": "true"})
    ids = read_delta_snapshot_with_row_ids(spark, rt)
    plan = _plan(ids)
    assert "Scan ExistingRDD" not in plan
    assert _nodes(plan, "LocalTableScan") == 1  # the baseRowId map
    assert sorted(r._row_id for r in ids.collect()) == list(range(20))


def test_iceberg_change_feed_and_partitioned_scan_are_local(spark, tmp_path):
    """Whole-file steps tag versions from a LocalRelation file map; MoR
    steps and a partitioned merge-on-read scan read data and delete
    sequence numbers from LocalRelations."""
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        append_iceberg,
        read_iceberg_changes,
        read_iceberg_snapshot,
        write_iceberg_equality_deletes,
        write_iceberg_position_deletes,
        write_iceberg_table,
    )

    t = str(tmp_path / "ice")
    base = spark.range(0, 24).select(F.col("id").alias("k"),
                                     (F.col("id") % 3).alias("g"))
    write_iceberg_table(spark, [base], t, partition_by=["g"])      # ord 0
    write_iceberg_position_deletes(spark, t, "k % 4 = 0")          # ord 1
    write_iceberg_equality_deletes(
        spark, t, spark.range(1).selectExpr("5L AS k"), ["k"])     # ord 2
    append_iceberg(spark, spark.range(100, 103).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")), t)  # ord 3

    snap = read_iceberg_snapshot(spark, t)
    plan = _plan(snap)
    assert "Scan ExistingRDD" not in plan
    assert _nodes(plan, "LocalTableScan") >= 2  # data + delete seq maps
    assert sorted(r.k for r in snap.collect()) == sorted(
        [k for k in range(24) if k % 4 and k != 5] + [100, 101, 102])

    ch = read_iceberg_changes(spark, t, -1, 3)
    plan = _plan(ch)
    assert "Scan ExistingRDD" not in plan
    assert _nodes(plan, "LocalTableScan") >= 1
    counts = {(r._commit_version, r._change_type): r.n for r in ch.groupBy(
        "_commit_version", "_change_type").agg(F.count("*").alias("n"))
        .collect()}
    assert counts == {(0, "insert"): 24, (1, "delete"): 6, (2, "delete"): 1,
                      (3, "insert"): 3}
