"""MERGE without a table format, and CDC apply: set-based emulation of
``MERGE INTO`` (anti-join + union), application of a CDF batch to a
snapshot — the inverse of ``cdc.derive_changes`` — and
``two_pass_merge``, the one MERGE planner the Delta writer
(``sinks/delta_writer.merge_into``) and the Iceberg writer
(``sources/iceberg.iceberg_merge_into`` and the REST-catalog merge) both
stage their commits from.

Scale shape: the emulations are one shuffle per side on the key columns;
the changes/source side is usually small (a version's delta) and
broadcasts. The planner reads the target's keys once and joins only the
files a source key hits.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.versioned import CDC_COLUMNS


def _key_cond(left: str, right: str, keys: list[str]) -> Column:
    cond = None
    for k in keys:
        c = F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
        cond = c if cond is None else (cond & c)
    return cond


@dataclass
class MergeJoin:
    """A planned MERGE, and the record every Delta row-level verb
    commits from (``sinks/delta_writer._commit_rows``). ``joined`` is
    the persisted left join of the hit files (alias ``t``) to the source
    (alias ``s``), or None when the merge has no matched clause or no
    source key hit the target.
    ``delete`` and ``update`` select the matched rows each clause takes
    (a NULL delete condition falls through to the update); ``post`` is
    the row after the merge, with the SET expressions applied to updated
    rows; ``inserts`` is the source minus its matched keys, or None
    without an insert clause."""
    hit: list
    joined: DataFrame | None
    delete: Column
    update: Column
    post: list[Column]
    inserts: DataFrame | None


def post_image(types: dict, cond: Column,
               update: dict[str, str] | None) -> list[Column]:
    """The row after an update, over a frame aliased ``t``: each column
    of ``types`` (name to type, in table order) takes its SET expression,
    cast to its type, where ``cond`` holds, else keeps its value."""
    return [F.when(cond, F.expr(update[c]).cast(dt))
            .otherwise(F.col(f"t.{c}")).alias(c)
            if update and c in update else F.col(f"t.{c}").alias(c)
            for c, dt in types.items()]


@contextmanager
def two_pass_merge(target: DataFrame, scan, files: dict, file_col: str,
                   keys: list[str], source: DataFrame, types: dict,
                   update: dict[str, str] | None, delete: str | None,
                   insert: bool):
    """Plan ``MERGE INTO t USING s ON keys`` in two passes, as Delta's own
    MergeIntoCommand does, and yield a ``MergeJoin``.

    ``target`` is every live target row carrying ``file_col``, the id
    under which ``files`` maps each live file; ``scan(files)`` returns
    the rows of a file subset, with whatever row position the format
    stages from. ``types`` maps each table column, in table order, to
    the type its post-image casts to. Keys compare with ``eqNullSafe``:
    a NULL key is a key value like any other.

    Pass 1 is one aggregate: the source's per-key row counts join the
    target's keys and fold into (most source rows on one key, hit
    files). A key hit by more than one source row raises before
    anything is staged when the merge has a matched clause; an
    insert-only merge leaves matched rows alone, so duplicates are
    harmless there. Pass 2 scans only the hit files and left-joins them
    to the source once. The join is persisted for every write the
    caller stages from it and released when the ``with`` block exits,
    also when it raises. Inserts anti-join the source against the
    join's matched keys (against the hit files' keys for an insert-only
    merge), so they never rescan the table."""
    matched = update is not None or delete is not None
    hit = []
    if files:
        tk = target.select(*keys, file_col).alias("t")
        sk = (source.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
              .alias("s"))
        n_max, hit_ids = (sk.join(tk, _key_cond("t", "s", keys))
                          .agg(F.max("__n"), F.collect_set(f"t.{file_col}"))
                          .first())
        if matched and (n_max or 0) > 1:
            raise ValueError(
                "multiple source rows match a single target row; merge "
                "would be nondeterministic (Delta parity)")
        hit = [files[i] for i in sorted(hit_ids)]
    joined = None
    try:
        t_side = scan(hit).alias("t") if hit else None
        is_match = delete_cond = update_cond = F.lit(False)
        if hit and matched:
            # explicit match marker, not s-key-isNotNull: eqNullSafe
            # makes (null, null) a match, so a NULL key cannot signal
            # "unmatched"
            s_side = source.withColumn("__s_matched", F.lit(True)).alias("s")
            # let AQE coalesce the cached join's shuffles as it does an
            # uncached plan's (read when the cache entry is built): a
            # source the planner cannot size is joined by shuffle, and an
            # uncoalesced cached shuffle would split every staged file
            # into spark.sql.shuffle.partitions pieces
            conf = source.sparkSession.conf
            cached_key = ("spark.sql.optimizer."
                          "canChangeCachedPlanOutputPartitioning")
            prev = conf.get(cached_key)
            conf.set(cached_key, "true")
            try:
                joined = t_side.join(s_side, _key_cond("t", "s", keys),
                                     "left").persist()
            finally:
                conf.set(cached_key, prev)
            is_match = F.coalesce(F.col("__s_matched"), F.lit(False))
            if delete is not None:
                delete_cond = is_match & F.coalesce(F.expr(delete),
                                                    F.lit(False))
            if update is not None:
                update_cond = is_match & ~delete_cond
        post = post_image(types, update_cond, update)
        inserts = source if insert else None
        if insert and hit:
            # a matched key equals its target key under <=>
            mk = (t_side if joined is None
                  else joined.filter(is_match)).select(
                *[F.col(f"t.{c}").alias(f"__mk{i}")
                  for i, c in enumerate(keys)])
            inserts = source.join(
                mk, [F.col(c).eqNullSafe(F.col(f"__mk{i}"))
                     for i, c in enumerate(keys)], "left_anti")
        yield MergeJoin(hit, joined, delete_cond, update_cond, post,
                        inserts)
    finally:
        if joined is not None:
            joined.unpersist()


def merge_upsert(target: DataFrame, source: DataFrame,
                 keys: list[str]) -> DataFrame:
    """``MERGE INTO target USING source ON keys WHEN MATCHED THEN UPDATE
    WHEN NOT MATCHED THEN INSERT`` as a set operation: keep target rows whose
    key has no source row (anti join), then union all source rows."""
    kept = target.alias("t").join(source.alias("s"),
                                  _key_cond("t", "s", keys), "left_anti")
    return kept.unionByName(source)


def apply_changes(snapshot: DataFrame, changes: DataFrame,
                  keys: list[str]) -> DataFrame:
    """Apply one CDF batch to a snapshot, producing the next snapshot
    (inverse of ``cdc.derive_changes``; round-trip asserted in tests):

    * 'delete' rows remove their key;
    * 'insert' / 'update_postimage' rows upsert their key ('update_preimage'
      rows are informational and ignored);
    * when one key has several change rows in the batch, the one with the
      highest (_commit_version, _commit_timestamp) wins — resolved with a
      window rank, exactly how a mutable consumer of the reference's export
      applies its rows. Ties WITHIN one commit (legal in Delta CDF when a
      row is deleted and re-inserted in the same transaction: delete +
      insert share version AND timestamp) resolve by change-type precedence
      insert/update_postimage over delete — the transaction's NET effect is
      that the row exists — instead of a nondeterministic row_number pick.
    """
    eff = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage", "delete"))
    type_rank = (F.when(F.col("_change_type") == "delete", 0)
                 .otherwise(1))
    w = Window.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(), F.col("_commit_timestamp").desc(),
        type_rank.desc())
    latest = (eff.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    upserts = (latest.filter(F.col("_change_type") != "delete")
               .drop(*CDC_COLUMNS))
    touched = latest.select(*keys)
    untouched = snapshot.alias("t").join(
        touched.alias("s"), _key_cond("t", "s", keys), "left_anti")
    return untouched.unionByName(upserts)


def maintain_agg(mv_old: DataFrame, delta: DataFrame, keys: list[str],
                 op_col: str = "_op") -> DataFrame:
    """Incremental materialized-view maintenance for count/sum aggregates:
    apply an insert/delete changelog to a maintained (keys, cnt, total)
    aggregate WITHOUT rescanning base history.

    ``mv_old`` has columns (keys..., cnt, total); ``delta`` has
    (keys..., total-contribution column ``val``, op_col in {'I','D'}).
    Deletes subtract, inserts add; groups whose maintained count reaches 0
    disappear (the relational-view semantics — a group exists iff it has
    rows). Returns the updated (keys..., cnt, total).

    Scale shape: the delta aggregate is partial-agg friendly and usually
    tiny vs the view; the merge is one outer join on the view's key — the
    view never re-derives from base data, which is the entire point at
    100 TB (the base scan is the cost being amortized away).
    """
    sign = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    d = (delta.groupBy(*keys)
         .agg(F.sum(sign).alias("_dcnt"),
              F.sum(sign * F.col("val")).alias("_dtotal")))
    merged = mv_old.join(d, keys, "full_outer")
    new_cnt = F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("_dcnt"),
                                                              F.lit(0))
    new_total = (F.coalesce(F.col("total"), F.lit(0))
                 + F.coalesce(F.col("_dtotal"), F.lit(0)))
    return (merged
            .select(*keys, new_cnt.alias("cnt"), new_total.alias("total"))
            .filter(F.col("cnt") > 0))


def compact_changes(changes: DataFrame, keys: list[str]) -> DataFrame:
    """Squash a changelog spanning many commits into the NET change per key
    — CDC log compaction. The guarantee (round-trip tested):
    ``apply_changes(base, compact_changes(log)) == apply_changes(base, log)``
    for any base, at a fraction of the rows. This is what keeps an
    every-commit changelog consumable after months of churn at 100 TB:
    readers replay O(|live keys|) rows, not O(|history|).

    Net rules. The outcome is decided by the last ACTIONABLE event per key
    (insert/postimage vs delete, compared by their (_commit_version,
    type-precedence) rank — precedence within a commit is preimage <
    delete < postimage < insert, matching ``apply_changes``'s same-commit
    delete+reinsert resolution); preimages are existence evidence only:

    * first=insert,  last-actionable=delete            -> nothing
    * first=insert,  last-actionable=insert/postimage  -> 'insert' (final
      values)
    * first=existed, last-actionable=insert/postimage  -> 'update_postimage'
      (final values)
    * first=existed, last-actionable=delete            -> 'delete' with the
      last delete row's values
    * no actionable event at all (preimage-only slice)  -> nothing

    ('existed' = the first event is a preimage/postimage/delete — evidence
    the key predated the window.) 'update_preimage' rows are consumed for
    the existence signal but not re-emitted: apply-style consumers ignore
    them, and consumers that need every intermediate image keep the raw
    log — compaction is by definition lossy about intermediates.

    PRECONDITION: the log must be WELL-FORMED CDF — 'insert' only for keys
    absent at that commit, postimage/delete only for present keys — which
    is exactly what Delta CDF and ``derive_changes`` emit. On a malformed
    log (an 'insert' for a key that already exists in the base) the
    insert-then-delete -> nothing rule would wrongly skip the tombstone
    the full log carries.

    One hash shuffle on the key columns; all picks are min_by/max_by over
    an integer rank (conditional-NULL ordering keys make max_by skip
    non-qualifying rows), so the aggregate is a single map-side-partial
    pass. Output carries ``_commit_version`` = the window's max commit and
    that commit's timestamp.
    """
    value_cols = [c for c in changes.columns
                  if c not in keys and c not in CDC_COLUMNS]
    type_rank = (F.when(F.col("_change_type") == "update_preimage", 0)
                 .when(F.col("_change_type") == "delete", 1)
                 .when(F.col("_change_type") == "update_postimage", 2)
                 .when(F.col("_change_type") == "insert", 3))
    rk = F.col("_commit_version") * 4 + type_rank
    vals = F.struct(*[F.col(c) for c in value_cols])
    upsert_rk = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), rk)
    delete_rk = F.when(F.col("_change_type") == "delete", rk)
    agg = (changes.groupBy(*keys).agg(
        F.min_by("_change_type", rk).alias("_first_type"),
        F.max(upsert_rk).alias("_up_rk"),
        F.max(delete_rk).alias("_del_rk"),
        F.max_by(vals, upsert_rk).alias("_up_vals"),
        F.max_by(vals, delete_rk).alias("_del_vals"),
        F.max("_commit_version").alias("_commit_version"),
        F.max_by("_commit_timestamp", rk).alias("_commit_timestamp")))
    # the net outcome is decided by the last ACTIONABLE event — the max
    # upsert rank vs the max delete rank. Preimages are informational:
    # they count as existence evidence (first-event test below) but never
    # decide the outcome. Deciding on the last event OVERALL would let a
    # trailing preimage mask an earlier postimage (net dropped) or, for a
    # key whose batch slice carries only preimage rows, fabricate a
    # spurious 'delete' — either way corrupting a maintained mirror when
    # a commit's rows are split across stream batches.
    exists_after = (F.col("_up_rk").isNotNull()
                    & (F.col("_up_rk") > F.coalesce(F.col("_del_rk"),
                                                    F.lit(-1))))
    deleted_after = (F.col("_del_rk").isNotNull()
                     & (F.col("_del_rk") > F.coalesce(F.col("_up_rk"),
                                                      F.lit(-1))))
    existed_before = F.col("_first_type") != "insert"
    net_type = (F.when(exists_after & existed_before,
                       F.lit("update_postimage"))
                .when(exists_after, F.lit("insert"))
                .otherwise(F.lit("delete")))
    net_vals = F.when(exists_after, F.col("_up_vals")).otherwise(
        F.col("_del_vals"))
    return (agg.filter((existed_before & deleted_after) | exists_after)
            .select(*keys,
                    *[net_vals.getField(c).alias(c) for c in value_cols],
                    net_type.alias("_change_type"),
                    "_commit_version", "_commit_timestamp"))
