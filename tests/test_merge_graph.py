"""MERGE/CDC-apply emulation and connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_import_pyspark_scripts_spark.operators.cdc import derive_changes
from databricks_import_pyspark_scripts_spark.operators.graph import connected_components
from databricks_import_pyspark_scripts_spark.operators.merge import apply_changes, merge_upsert


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_merge_upsert(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    source = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    got = merge_upsert(target, source, ["id"])
    assert rows(got, "id", "v") == [(1, "a"), (2, "B"), (3, "c")]


def test_apply_changes_roundtrip(spark):
    """derive_changes(v1, v2) applied to v1 must reproduce v2 exactly."""
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, score double")
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)],
        "id long, name string, score double")
    ch = derive_changes(v1, v2, ["id"], commit_version=2)
    got = apply_changes(v1, ch, ["id"])
    assert rows(got, "id", "name", "score") == rows(v2, "id", "name", "score")


def test_apply_changes_latest_version_wins(spark):
    snap = spark.createDataFrame([(1, "old")], "id long, v string")
    ch = spark.createDataFrame(
        [(1, "mid", "update_postimage", 2, "2024-01-02"),
         (1, "new", "update_postimage", 3, "2024-01-03"),
         (2, "x", "insert", 2, "2024-01-02"),
         (2, None, "delete", 3, "2024-01-03")],
        "id long, v string, _change_type string, _commit_version long, _commit_timestamp string",
    ).withColumn("_commit_timestamp", F.col("_commit_timestamp").cast("timestamp"))
    got = apply_changes(snap, ch, ["id"])
    # id 1: version-3 postimage wins; id 2: version-3 delete wins
    assert rows(got, "id", "v") == [(1, "new")]


def test_connected_components(spark):
    vertices = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    # components: {1,2,3,4} (chain), {5,6} and {7}, {8}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long")
    got = {r.id: r.component for r in
           connected_components(vertices, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_connected_components_long_chain(spark):
    n = 12
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    got = {r.id: r.component for r in
           connected_components(vertices, edges).collect()}
    assert all(v == 0 for v in got.values())  # one big component


def test_derive_changes_null_keys(spark):
    """NULL join keys match via eqNullSafe, so NULL-key rows must flow
    through the diff (insert/update/delete), not silently vanish."""
    from databricks_import_pyspark_scripts_spark.operators.cdc import derive_changes

    old = spark.createDataFrame([(None, 1), (1, 10)], "id long, v int")
    new = spark.createDataFrame([(None, 2), (2, 20)], "id long, v int")
    rows = {(r.id, r.v, r._change_type)
            for r in derive_changes(old, new, ["id"], 7).collect()}
    assert (None, 1, "update_preimage") in rows
    assert (None, 2, "update_postimage") in rows
    assert (1, 10, "delete") in rows
    assert (2, 20, "insert") in rows
    assert len(rows) == 4


def test_star_cc_matches_label_propagation_on_random_graph(spark):
    """Large-star/small-star must reach the exact same fixpoint as the
    label-propagation form on an arbitrary graph (unique fixpoint: min
    reachable id per vertex)."""
    import random

    from databricks_import_pyspark_scripts_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(42)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(250)]
    edges = [(a, b) for a, b in edges if a != b]
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    base = {r.id: r.component
            for r in connected_components(v, e, max_iter=50).collect()}
    star = {r.id: r.component
            for r in connected_components_star(v, e).collect()}
    assert star == base


def test_star_cc_handles_high_diameter_path(spark):
    """A 400-node path has diameter 400: label propagation needs ~400
    rounds (its per-round budget raises), while star contraction closes it
    in O(log n) alternations — the reason the variant exists."""
    from databricks_import_pyspark_scripts_spark.operators.graph import (
        connected_components_star,
    )

    n = 400
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                              "src long, dst long")
    star = {r.id: r.component for r in
            connected_components_star(v, e, max_iter=30).collect()}
    assert star == {i: 0 for i in range(n)}


def test_star_cc_isolated_vertices_self_label(spark):
    from databricks_import_pyspark_scripts_spark.operators.graph import (
        connected_components_star,
    )

    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([], "src long, dst long")
    got = {r.id: r.component for r in connected_components_star(v, e).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_pagerank_exact_known_values(spark):
    from databricks_import_pyspark_scripts_spark.operators.graph import (
        PR_SCALE,
        pagerank_exact,
    )

    # path graph 1-2-3 plus isolated 4
    v = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.id: r.pr for r in pagerank_exact(v, e, iters=1).collect()}
    base = (15 * PR_SCALE) // 100
    # deg: 1->1, 2->2, 3->1. After one round from uniform PR_SCALE:
    # node1 gets from 2: PR_SCALE div 2 ; node2 gets from 1 and 3: 2*PR_SCALE
    # node3 symmetric to 1; node4 isolated -> teleport only
    assert got[4] == base
    assert got[1] == base + (85 * (PR_SCALE // 2)) // 100
    assert got[2] == base + (85 * (2 * PR_SCALE)) // 100
    assert got[3] == got[1]


def test_pagerank_mass_reasonable_multiround(spark):
    from databricks_import_pyspark_scripts_spark.operators.graph import (
        PR_SCALE,
        pagerank_exact,
    )

    # ring of 6: every vertex keeps exactly PR_SCALE (up to floor drift)
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)],
                              "src long, dst long")
    got = {r.id: r.pr for r in pagerank_exact(v, e, iters=3).collect()}
    for pr in got.values():
        assert abs(pr - PR_SCALE) <= 10  # floor drift only


def test_maintain_agg_applies_deltas_and_drops_empty_groups(spark):
    from pyspark.sql import functions as F

    from databricks_import_pyspark_scripts_spark.operators.merge import (
        maintain_agg,
    )

    mv = spark.createDataFrame(
        [("a", 2, 100), ("b", 1, 7)], "k string, cnt long, total long")
    delta = spark.createDataFrame(
        [("a", 10, "I"),       # a: +1 row, +10
         ("b", 7, "D"),        # b: last row deleted -> group vanishes
         ("c", 5, "I")],       # c: brand-new group
        "k string, val long, _op string")
    got = {r.k: (r.cnt, r.total)
           for r in maintain_agg(mv, delta, ["k"]).collect()}
    assert got == {"a": (3, 110), "c": (1, 5)}


def test_kcore_peel_semantics_and_convergence(spark):
    from databricks_import_pyspark_scripts_spark.operators.graph import (
        kcore_peel,
    )

    # path 1-2-3-4 + triangle 10-11-12 with a pendant 13 off node 10:
    # 2-core must peel the whole path AND the pendant, keep the triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),
         (10, 11), (11, 12), (10, 12), (10, 13)],
        "src long, dst long")
    got = {r.node: r.degree for r in kcore_peel(edges, k=2, rounds=6).collect()}
    assert got == {10: 2, 11: 2, 12: 2}
    # a long path needs one round per end-node pair: rounds short of
    # convergence leave the middle -- fixed-round semantics, not fixpoint
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "src long, dst long")
    partial = {r.node for r in kcore_peel(path, k=2, rounds=2).collect()}
    assert partial == {3, 4, 5, 6}          # two peels: ends stripped twice
    assert kcore_peel(path, k=2, rounds=10).count() == 0  # converged: empty


def test_kcore_gate_rounds_converge_at_gate_scale(spark, sf_dir):
    """The gate's fixed round budget reaches the true fixpoint on the gate
    graph (so the query's 'k-core' claim is the real k-core, not a
    partial peel): one extra round changes nothing."""
    from databricks_import_pyspark_scripts_spark.operators.graph import (
        kcore_peel,
    )
    from databricks_import_pyspark_scripts_spark.querylib import REGISTRY
    from databricks_import_pyspark_scripts_spark.querylib.search_linkage import (
        KCORE_K,
        KCORE_ROUNDS,
    )
    from pyspark.sql import functions as F

    er = REGISTRY["er_customer_blocking"].spark_fn(spark, sf_dir)
    edges = (er.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .localCheckpoint(eager=True))
    a = {(r.node, r.degree) for r in
         kcore_peel(edges, KCORE_K, KCORE_ROUNDS).collect()}
    b = {(r.node, r.degree) for r in
         kcore_peel(edges, KCORE_K, KCORE_ROUNDS + 2).collect()}
    assert a == b


def test_compact_changes_round_trip_and_rules(spark):
    """compact_changes contract: applying the compacted log equals applying
    the full log, for every rule branch -- insert+delete (nothing),
    insert+update (net insert), update-only (net postimage), delete-only
    (net delete), same-commit delete+postimage tie (net exists), multi-
    commit churn -- plus a pseudo-random bulk equivalence check."""
    from databricks_import_pyspark_scripts_spark.operators.merge import (
        apply_changes,
        compact_changes,
    )
    from pyspark.sql import functions as F

    def chg(rows):
        return spark.createDataFrame(
            rows, "k long, v string, _change_type string, "
                  "_commit_version long, _commit_timestamp timestamp")

    base = spark.createDataFrame(
        [(1, "a0"), (2, "b0"), (3, "c0"), (4, "d0")], "k long, v string")
    ts = "2024-01-01 00:00:00"
    import datetime

    t = datetime.datetime(2024, 1, 1)
    log = chg([
        # k=10: insert v1, delete v3 -> net nothing
        (10, "x", "insert", 1, t), (10, "x", "delete", 3, t),
        # k=11: insert v1, postimage v2 -> net insert with final value
        (11, "n1", "insert", 1, t), (11, "n1", "update_preimage", 2, t),
        (11, "n2", "update_postimage", 2, t),
        # k=1 (in base): preimage+postimage v1, postimage v3 -> net postimage final
        (1, "a0", "update_preimage", 1, t), (1, "a1", "update_postimage", 1, t),
        (1, "a1", "update_preimage", 3, t), (1, "a2", "update_postimage", 3, t),
        # k=2 (in base): delete v2 -> net delete
        (2, "b0", "delete", 2, t),
        # k=3 (in base): same-commit delete + postimage (tie) -> net exists
        (3, "c0", "delete", 2, t), (3, "c9", "update_postimage", 2, t),
        # k=4 (in base): postimage v1 then delete v2 -> net delete
        (4, "d1", "update_postimage", 1, t), (4, "d1", "delete", 2, t),
    ])
    compacted = compact_changes(log, ["k"])
    got = {(r.k, r._change_type, r.v, r._commit_version)
           for r in compacted.collect()}
    assert got == {
        (11, "insert", "n2", 2),
        (1, "update_postimage", "a2", 3),
        (2, "delete", "b0", 2),
        (3, "update_postimage", "c9", 2),
        (4, "delete", "d1", 2),
    }
    full = {(r.k, r.v) for r in apply_changes(base, log, ["k"]).collect()}
    comp = {(r.k, r.v)
            for r in apply_changes(base, compacted, ["k"]).collect()}
    assert full == comp == {(1, "a2"), (3, "c9"), (11, "n2")}

    # bulk pseudo-random churn: 200 keys x 5 commits of md5-derived ops,
    # generated STATEFULLY so the log is well-formed CDF (insert only when
    # absent, update/delete only when present -- the compact_changes
    # precondition, and what derive_changes/Delta CDF actually emit)
    ev = []
    present = {k for k in range(0, 200, 2)}  # mirrors base2 below
    for commit in (1, 2, 3, 4, 5):
        for k in range(200):
            h = int(
                __import__("hashlib").md5(f"{k}:{commit}".encode())
                .hexdigest()[:4], 16)
            if h % 3 == 0:
                continue
            if k in present:
                if h % 3 == 1:
                    ev.append((k, f"v{commit}_{k}", "update_postimage",
                               commit, t))
                else:
                    ev.append((k, f"v{commit}_{k}", "delete", commit, t))
                    present.discard(k)
            elif h % 3 == 1:
                ev.append((k, f"v{commit}_{k}", "insert", commit, t))
                present.add(k)
    log2 = chg(ev)
    base2 = spark.createDataFrame(
        [(k, f"base_{k}") for k in range(0, 200, 2)], "k long, v string")
    a = {(r.k, r.v) for r in apply_changes(base2, log2, ["k"]).collect()}
    b = {(r.k, r.v) for r in apply_changes(
        base2, compact_changes(log2, ["k"]), ["k"]).collect()}
    assert a == b
    assert compact_changes(log2, ["k"]).count() <= log2.count()


def test_compact_changes_preimage_slices_are_inert(spark):
    """Stream batches can slice a commit's rows apart: a key seen only
    through preimage rows must compact to NOTHING (not a spurious delete),
    and a trailing preimage must not mask an earlier postimage."""
    import datetime

    from databricks_import_pyspark_scripts_spark.operators.merge import (
        compact_changes,
    )

    t = datetime.datetime(2024, 1, 1)
    log = spark.createDataFrame(
        [
            # k=1: ONLY the preimage half of a split commit
            (1, "old", "update_preimage", 5, t),
            # k=2: postimage v3, then a stray later preimage (v5) whose
            # postimage half landed in the next batch
            (2, "n1", "update_postimage", 3, t),
            (2, "n1", "update_preimage", 5, t),
        ],
        "k long, v string, _change_type string, _commit_version long, "
        "_commit_timestamp timestamp")
    got = {(r.k, r._change_type, r.v)
           for r in compact_changes(log, ["k"]).collect()}
    assert got == {(2, "update_postimage", "n1")}


def test_reliable_checkpoints_require_explicit_durable_dir(spark, tmp_path):
    """reliable_checkpoints=True must REFUSE to run without an explicit
    checkpoint dir: the pre-r7 fallback to /tmp was node-local disk, which
    does not survive the executor loss the flag advertises surviving. With
    a dir set, the reliable path must produce the same components as the
    default localCheckpoint path."""
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    e = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    sc = spark.sparkContext
    assert not sc.getCheckpointDir(), (
        "test needs a session with no checkpoint dir; reorder if another "
        "test started setting one")
    with pytest.raises(ValueError, match="checkpoint dir"):
        connected_components(v, e, reliable_checkpoints=True).collect()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {(r.id, r.component) for r in
           connected_components(v, e, reliable_checkpoints=True).collect()}
    assert got == {(0, 0), (1, 0), (2, 2), (3, 2)}


def test_checkpoint_scope_drops_blocks_created_inside(spark):
    """checkpoint_scope must unpersist exactly the RDDs persisted inside
    the scope (k-core/BPE/semdedup-style internal localCheckpoints), leave
    pre-existing persisted data alone, and nest correctly."""
    from databricks_import_pyspark_scripts_spark.operators.lineage import (
        checkpoint_scope,
        persistent_rdd_ids,
    )

    outer = spark.range(10).localCheckpoint(eager=True)  # pre-existing
    base = persistent_rdd_ids(spark)
    with checkpoint_scope(spark):
        inner = spark.range(20).localCheckpoint(eager=True)
        assert inner.count() == 20
        with checkpoint_scope(spark):
            spark.range(5).localCheckpoint(eager=True)
        # inner scope dropped its own block, ours survives
        assert inner.count() == 20
        assert len(persistent_rdd_ids(spark) - base) == 1
    assert persistent_rdd_ids(spark) - base == set()
    assert outer.count() == 10  # pre-existing checkpoint untouched


def test_checkpoint_scope_releases_on_exception(spark):
    """A failing job inside the scope must still release its checkpointed
    blocks — the production wrapper sits around batch units that can
    throw, and a leak-on-error would accumulate exactly like the
    no-scope case."""
    from databricks_import_pyspark_scripts_spark.operators.lineage import (
        checkpoint_scope,
        persistent_rdd_ids,
    )

    base = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with checkpoint_scope(spark):
            spark.range(50).localCheckpoint(eager=True)
            assert len(persistent_rdd_ids(spark) - base) == 1
            raise RuntimeError("boom")
    assert persistent_rdd_ids(spark) - base == set()


# ---------------------------------------------------------------------------
# the MERGE planner both table formats share

_PARITY_TARGET = [(k, float(k)) for k in range(10)] + [(None, -1.0)]

#: case -> (source rows, merge clauses, expected rows | None to raise)
_PARITY_CASES = {
    # update 2, delete 3 (delete wins over update), insert 100
    "three_clauses": (
        [(2, 20.0), (3, 30.0), (100, 1.0)],
        {"when_matched_update": {"v": "t.v + s.v"},
         "when_matched_delete": "t.k = 3"},
        [(k, float(k)) for k in range(10) if k not in (2, 3)]
        + [(2, 22.0), (100, 1.0), (None, -1.0)]),
    # a NULL key matches the NULL target key under <=>
    "null_key": (
        [(None, 5.0), (11, 11.0)],
        {"when_matched_update": {"v": "s.v"}},
        [(k, float(k)) for k in range(10)] + [(11, 11.0), (None, 5.0)]),
    # key 4's delete condition is NULL: it falls through to the update
    "null_delete_falls_through": (
        [(4, None), (5, 500.0), (6, 6.5)],
        {"when_matched_update": {"v": "coalesce(s.v, t.v + 1000)"},
         "when_matched_delete": "s.v > 100"},
        [(k, float(k)) for k in range(10) if k not in (4, 5, 6)]
        + [(4, 1004.0), (6, 6.5), (None, -1.0)]),
    # two source rows on key 2 cannot both update it
    "duplicate_matched": (
        [(2, 1.0), (2, 2.0)],
        {"when_matched_update": {"v": "s.v"}},
        None),
    # an insert-only merge leaves key 2 alone, however often it appears
    "duplicate_insert_only": (
        [(2, 1.0), (2, 2.0), (200, 3.0)],
        {},
        _PARITY_TARGET + [(200, 3.0)]),
}


@pytest.mark.parametrize("case", sorted(_PARITY_CASES))
def test_delta_and_iceberg_merge_agree(spark, tmp_path, case):
    """The same source merged into the same rows leaves the same table in
    Delta and in Iceberg, or raises in both."""
    from databricks_import_pyspark_scripts_spark.sinks.delta_writer import (
        create_delta_table,
        merge_into,
    )
    from databricks_import_pyspark_scripts_spark.sources.delta_log import (
        read_delta_snapshot,
    )
    from databricks_import_pyspark_scripts_spark.sources.iceberg import (
        iceberg_merge_into,
        read_iceberg_snapshot,
        write_iceberg_table,
    )

    src_rows, clauses, expect = _PARITY_CASES[case]
    schema = "k long, v double"
    target = spark.createDataFrame(_PARITY_TARGET, schema).coalesce(2)
    source = spark.createDataFrame(src_rows, schema)
    delta, ice = str(tmp_path / "delta"), str(tmp_path / "ice")
    create_delta_table(spark, target, delta, ts_ms=1000)
    write_iceberg_table(spark, [target], ice)
    if expect is None:
        with pytest.raises(ValueError, match="multiple source rows"):
            merge_into(spark, delta, source, ["k"], ts_ms=2000, **clauses)
        with pytest.raises(ValueError, match="multiple source rows"):
            iceberg_merge_into(spark, ice, source, ["k"], **clauses)
        return
    merge_into(spark, delta, source, ["k"], ts_ms=2000, **clauses)
    iceberg_merge_into(spark, ice, source, ["k"], **clauses)

    def table_rows(df):
        return sorted((tuple(r) for r in df.select("k", "v").collect()),
                      key=lambda r: (r[0] is None, r[0] or 0))

    want = table_rows(spark.createDataFrame(expect, schema))
    assert table_rows(read_delta_snapshot(spark, delta)) == want
    assert table_rows(read_iceberg_snapshot(spark, ice)) == want


def test_merges_share_one_planner():
    """Delta's ``merge_into`` and Iceberg's merge derivation both plan
    through ``operators.merge.two_pass_merge``, and neither joins the
    target to the source itself."""
    import ast
    import inspect
    import textwrap

    from databricks_import_pyspark_scripts_spark.sinks import delta_writer
    from databricks_import_pyspark_scripts_spark.sources import iceberg

    for fn in (delta_writer.merge_into, iceberg._derive_merge):
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        calls = [n.func for n in ast.walk(tree) if isinstance(n, ast.Call)]
        names = {c.id for c in calls if isinstance(c, ast.Name)}
        # frame joins only: a string literal's join builds text
        joins = [c for c in calls if isinstance(c, ast.Attribute)
                 and c.attr == "join"
                 and not isinstance(c.value, ast.Constant)]
        assert "two_pass_merge" in names, fn.__name__
        assert not joins, fn.__name__


def test_row_level_verbs_share_one_commit():
    """Delta's DELETE, UPDATE, MERGE and replaceWhere all commit through
    ``_commit_rows``: none of them (nor the record builder the predicate
    verbs share) stages files, stamps deletion vectors or commits on its
    own, and only the committer stages ``_change_data`` files."""
    import ast
    import inspect
    import textwrap

    from databricks_import_pyspark_scripts_spark.sinks import delta_writer

    def called(fn):
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        return {n.func.id for n in ast.walk(tree)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)}

    own = {"_strict_commit", "_stage_files", "_dv_stamp_actions"}
    for fn in (delta_writer.delete_where, delta_writer.update_where,
               delta_writer.merge_into, delta_writer.replace_where):
        assert "_commit_rows" in called(fn), fn.__name__
        assert not called(fn) & own, fn.__name__
    assert not called(delta_writer._predicate_rows) & own
    module = ast.parse(inspect.getsource(delta_writer))
    cdc_stagers = {
        f.name for f in module.body if isinstance(f, ast.FunctionDef)
        for n in ast.walk(f)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        and n.func.id == "_stage_files"
        and any(k.arg == "subdir" for k in n.keywords)}
    assert cdc_stagers == {"_commit_rows"}
