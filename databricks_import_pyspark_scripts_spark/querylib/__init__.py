"""Query library: every operator capability exposed as a named, oracle-checked
query over the driver testdata (TESTDATA.md tables).

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI/DuckDB SQL oracle string (or None for genuinely
non-SQL-expressible operators, which the driver checks rows-only).

Registration is decorator-based; importing the submodules populates the
registry. ``__spark_entry__.py`` is a thin adapter over this package.

Determinism rules every query follows (SURVEY.md §7 risk register):
* every computed column is aliased identically in Spark and oracle SQL;
* double aggregates are ROUND()ed so cross-engine last-ulp drift can't flip
  the driver's value hash;
* ties in any top-k / limit are broken by a unique key so both engines pick
  the same rows.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = QueryDef(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn
    return deco


# Packages whose code writes or reads what ``stage`` builds: any change to
# them keys a fresh build instead of reusing a table the old code wrote.
_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WRITER_DIRS = ("sources", "sinks", "streaming")
_DIGESTS: dict[tuple[str, str], str] = {}


def _digest(key: tuple[str, str], parts: Callable[[], Iterable[bytes]]) -> str:
    """sha256 over ``parts()``, computed once per process per ``key``."""
    if key not in _DIGESTS:
        h = hashlib.sha256()
        for p in parts():
            h.update(p)
        _DIGESTS[key] = h.hexdigest()
    return _DIGESTS[key]


def _file_bytes(paths: Iterable[str]) -> Iterable[bytes]:
    for p in paths:
        with open(p, "rb") as f:
            yield os.path.relpath(p, _PKG).encode() + b"\0" + f.read()


def _input_stats(sf_dir: str) -> Iterable[bytes]:
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for n in sorted(files):
            st = os.stat(os.path.join(root, n))
            rel = os.path.relpath(os.path.join(root, n), sf_dir)
            yield f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\n".encode()


def stage(sf_dir: str, name: str, build: Callable[[str], None]) -> str:
    """Directory holding the table ``build(path)`` stages from ``sf_dir``,
    built at most once per code and input content and reused across
    processes. The key hashes the module defining ``build``, every module
    under ``_WRITER_DIRS`` and the name, size and mtime of each file in
    ``sf_dir``.

    A finished build is marked by ``<path>.staged``, published last (temp
    file + ``os.replace``), so a caller that sees the marker reads a
    complete table without locking. Otherwise the build runs under an
    exclusive ``flock`` on ``<path>.lock``: re-check the marker, clear any
    half-built directory, build, mark. The build writes IN PLACE because
    Iceberg metadata, REST catalog registrations and shallow clones record
    absolute paths; a table moved after building would point elsewhere.
    Old keys are never pruned here, since another checkout may read them."""
    code = build.__code__.co_filename
    key = hashlib.sha256("\0".join((
        _digest(("code", code), lambda: _file_bytes([code])),
        _digest(("writers", ""), lambda: _file_bytes(sorted(
            p for d in _WRITER_DIRS for p in glob.glob(
                os.path.join(_PKG, d, "**", "*.py"), recursive=True)))),
        _digest(("inputs", sf_dir), lambda: _input_stats(sf_dir)),
    )).encode()).hexdigest()
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_{name}_{tag}_{key[:12]}")
    marker = f"{path}.staged"
    if os.path.exists(marker):
        return path
    with open(f"{path}.lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            build(path)
            with open(f"{marker}.tmp", "w") as f:
                f.write(key)
            os.replace(f"{marker}.tmp", marker)
    return path


# The driver's correctness gate checks a bounded window of queries (the first
# ~50 by iteration order).  Rotation policy: never-attested queries first,
# then STARVED (valid attestation >= 5 rounds old — the guard that keeps the
# r1-era TPC-H tail from queueing forever behind a perpetually-refilled
# code-stale tier, VERDICT r7 #2), then code-stale (last attestation predates
# the last implementation change — tracked at function/object level by
# tools/attestation_ledger.py), then oldest-attested.  r15 window
# (VERDICT r14 #1/#3): code-stale now outranks starved — the r14
# starved-first rotation left 30 just-optimized gates driver-unattested,
# so the 34 gates whose implementations changed in r14/r15 (LSH, graph,
# skew, kmeans, bpe, ivfpq, tfidf/logreg, MoR feeds, multimodal codec
# consumers) lead, followed by the r9-starved tier.
# Generated by tools/attestation_ledger.py --suggest; ledger in COVERAGE.md.
_PRIORITY: tuple[str, ...] = (
    "dedup_cluster_size_histogram",
    "similarity_topk_rp_rerank",
    "corpus_dsir_selection",
    "cluster_kmeans_assign",
    "skew_groupmap_hot_key_unsalted",
    "corpus_prep_pipeline",
    "similarity_topk_ivfpq",
    "text_tfidf_cosine_pairs",
    "text_quality_logreg",
    "dedup_corpus_kept",
    "skew_groupmap_hot_key_salted",
    "iceberg_mor_cdf_feed",
    "iceberg_cdf_insert_feed",
    "delta_stream_first_seen_agg",
    "iceberg_rest_catalog_delete_agg",
    "dedup_minhash_lsh",
    "iceberg_dml_cdf_feed_agg",
    "multimodal_audio_near_dup",
    "multimodal_video_frame_phash",
    "iceberg_jarless_datasource_agg",
    "multimodal_audio_dominant_freq",
    "dedup_ngram_jaccard_blocked",
    "dedup_connected_components",
    "dedup_connected_components_star",
    "dedup_cluster_representatives",
    "dedup_cluster_keep_best",
    "dedup_cross_source_overlap",
    "tokenizer_bpe_encode",
    "graph_kcore",
    "dedup_embedding_cosine",
    "similarity_topk_ivf",
    "multimodal_mp4_frame_plan",
    "graph_pagerank_exact",
    "similarity_topk_pq",
    "split_train_holdout",
    "events_daily_active_users",
    "events_funnel_signup_click_purchase",
    "events_weekly_retention",
    "events_user_engagement",
    "events_session_window_stats",
    "asof_join_last_purchase",
    "range_join_close_events",
    "approx_sketches",
    "window_sessionization_ids",
    "agg_salted_skew",
    "events_psi_quantile_drift",
    "events_mix_drift",
    "cdc_compact_changelog",
    "cdc_derive_changes",
    "agg_decimal_exact_money",
    "approx_hll_rolling_distinct",
    "agg_winsorized_mean",
    "sql_not_in_null_trap",
    "sql_correlated_scalar_select",
    "events_trending_week_over_week",
    "events_conversion_latency",
    "agg_deterministic_mode",
    "text_quality_percentile_by_lang",
    "iceberg_files_meta_agg",
    "delta_clone_agg",
    "delta_history_feed",
    "delta_identity_append_agg",
    "delta_row_tracking_agg",
    "text_bigram_perplexity",
    "text_source_token_kl",
    "delta_variant_read",
    "delta_writer_mapped_append_agg",
    "delta_restore_agg",
    "text_vocab_coverage_curve",
    "similarity_hybrid_rrf",
    "events_transition_matrix",
    "ann_recall_eval",
    "stats_equiwidth_histogram",
    "sql_recursive_cte_rollup",
    "mv_incremental_maintenance",
    "dq_constraint_audit",
    "er_customer_blocking",
    "events_anomaly_mad",
    "corpus_mixture_budget_sample",
    "scalar_variant_shredding",
    "skew_topk_hot_key_unsalted",
    "skew_topk_hot_key_salted",
    "corpus_global_shuffle",
    "dedup_semantic_semdedup",
    "dedup_decontaminate_semantic",
    "uniform_dv_iceberg_read_agg",
    "iceberg_rest_catalog_append_agg",
    "iceberg_v3_default_read_agg",
    "iceberg_append_roundtrip_agg",
    "iceberg_eq_delete_agg",
    "iceberg_snapshot_agg",
    "iceberg_data_skipping_agg",
    "iceberg_ref_read_agg",
    "iceberg_spec_evolved_agg",
    "uniform_iceberg_read_agg",
    "iceberg_wap_publish_agg",
    "iceberg_v3_dv_agg",
    "iceberg_orc_snapshot_agg",
    "iceberg_compacted_agg",
    "iceberg_expired_head_agg",
    "iceberg_mor_delete_agg",
    "iceberg_days_pruned_agg",
    "dedup_decontaminate_benchmark_aho",
    "delta_identity_merge_agg",
    "delta_writer_dv_delete_agg",
    "text_pmi_collocations",
    "dedup_decontaminate_benchmark",
    "embedding_covariance_agg",
    "delta_writer_update_cdf",
    "delta_writer_merge_agg",
    "delta_writer_dv_merge_agg",
    "delta_writer_roundtrip_agg",
    "text_lm_quality_score",
    "approx_hll_mergeable_sketches",
    "text_chunk_documents",
    "cdc_merge_upsert",
    "cdc_apply_changes",
    "events_resample_forward_fill",
    "events_scd2_user_value",
    "q1_pricing_summary",
    "agg_distinct_counts",
    "agg_rollup",
    "agg_cube",
    "q3_unshipped_revenue",
    "q5_region_supplier_volume",
    "join_broadcast_brand_volume",
    "join_semi_active_customers",
    "iceberg_delete_where_agg",
    "iceberg_uuid_time_read_agg",
    "iceberg_update_where_agg",
    "iceberg_merge_into_agg",
    "multimodal_asset_dedup",
    "iceberg_row_lineage_agg",
    "delta_replace_where_agg",
    "join_anti_idle_customers",
    "join_full_outer_nation_counts",
    "window_topk_per_group",
    "window_running_balance",
    "window_lag_lead_sessions",
    "setops_nation_coverage",
    "window_value_functions",
    "map_functions",
    "setops_bag_semantics",
    "scalar_string_functions",
    "scalar_regexp_functions",
    "hof_array_ops",
    "scalar_datetime_functions",
    "scalar_json_extraction",
    "scalar_json_parse_struct",
    "customer_360_kitchen_sink",
    "scalar_conditional_bucketing",
    "agg_ordered_collect",
    "window_ntile_ranks",
    "scalar_math_functions",
    "hof_embedding_norms",
    "agg_statistical_moments",
    "agg_argmin_argmax",
    "null_semantics_battery",
    "agg_rollup_grouping_markers",
    "crossjoin_coverage_grid",
    "q6_forecast_revenue",
    "q4_priority_with_late_lines",
    "q14_promo_revenue_share",
    "q18_large_volume_orders",
    "q19_disjunctive_predicates",
    "q22_idle_rich_customers",
    "q7_nation_trade_flows",
    "dedup_exact_fingerprint",
    "dedup_exact_with_duplicates",
    "dedup_incremental_new_docs",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "iceberg_stream_first_seen_agg",
    "iceberg_rest_catalog_merge_agg",
    "multimodal_phash_near_dup_jpeg",
    "delta_jarless_datasource_agg",
    "multimodal_phash_near_dup",
    "corpus_sample_weighted",
    "events_psi_drift",
    "pivot_status_by_priority",
    "unpivot_acctbal",
    "percentiles_exact",
    "grouped_map_zscore",
    "pandas_udf_sigmoid",
    "pandas_udaf_rms",
    "udtf_document_tokens",
    "scalar_try_functions",
    "cdc_mutability_passthrough",
    "similarity_topk_lsh",
    "text_token_stats",
    "text_quality_score",
    "text_repetition_filter",
    "text_gopher_rules",
    "multimodal_image_features",
    "multimodal_frame_plan",
    "events_tumbling_window_counts",
    "events_sliding_window_counts",
    "approx_heavy_hitters",
    "window_range_interval_frame",
    "corpus_systematic_pps_sharded",
    "delta_dv_snapshot_agg",
    "delta_timestamp_travel_agg",
    "delta_column_mapped_read",
    "delta_data_skipping_agg",
    "events_zorder_index",
    "dedup_decontaminate_substring",
    "delta_id_mapped_read",
    "dedup_decontaminate_substring_aho",
    "multimodal_mp4_frame_phash",
    "iceberg_jarless_eq_delete_agg",
    "q10_returned_value_customers",
    "q15_top_supplier",
    "q2_min_cost_supplier",
    "q8_national_market_share",
    "q9_product_type_profit",
    "q12_late_lines_by_priority",
    "q13_customer_order_distribution",
    "q17_small_quantity_revenue",
    "q20_excess_shipment_suppliers",
    "q21_waiting_suppliers",
    "subquery_correlated_above_avg",
    "subquery_in_and_exists",
    "grouping_sets_explicit",
    "lateral_top_suppliers",
    "text_bm25_search",
    "graph_triangle_count",
    "tokenizer_bpe_merges",
    "text_duplicate_passages",
    "dedup_containment_pairs",
    "corpus_stratified_split",
    "cluster_balanced_sample",
    "text_boilerplate_ngrams",
    "text_self_repetition",
    "dedup_incremental_neardup",
    "corpus_prep_pipeline_v2",
    "events_scd2_point_in_time_join",
    "setops_except_all",
    "corpus_systematic_pps_sample",
    "delta_snapshot_agg",
    "delta_cdf_insert_feed",
    "orders_brand_affinity",
    "events_ks_drift",
    "delta_type_widened_read",
    "text_sequence_packing",
    "q11_important_stock_share",
    "q16_supplier_part_counts",
    "flagship_event_shaping",
    "cdc_filter_event",
    "cdc_filter_property",
    "void_scrub_projection",
    "similarity_topk_bruteforce",
    "text_lang_id",
    "text_word_frequencies",
    "text_clean_normalize",
    "text_redact_numbers",
)




def _ordered() -> list[QueryDef]:
    _load()
    rank = {name: i for i, name in enumerate(_PRIORITY)}
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    tail = [q for name, q in REGISTRY.items() if name not in rank]
    head = sorted((q for name, q in REGISTRY.items() if name in rank),
                  key=lambda q: rank[q.name])
    return head + tail


def all_queries() -> dict[str, SparkQuery]:
    return {q.name: q.spark_fn for q in _ordered()}


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


_LOADED = False


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import relational  # noqa: F401
    from . import tpch_like  # noqa: F401
    from . import advanced  # noqa: F401
    from . import advanced2  # noqa: F401
    from . import cdc_queries  # noqa: F401
    from . import product_analytics  # noqa: F401
    from . import text  # noqa: F401
    from . import dedup  # noqa: F401
    from . import similarity  # noqa: F401
    from . import multimodal_queries  # noqa: F401
    from . import clustering  # noqa: F401
    from . import search_linkage  # noqa: F401
    from . import ann_eval  # noqa: F401
    from . import tokenizer  # noqa: F401
    from . import delta_queries  # noqa: F401
    from . import iceberg_queries  # noqa: F401
    _LOADED = True
