"""Query registry: the driver-facing catalog of implemented operators.

Every operator family from SURVEY.md §2 registers one or more named
queries here. A query is a callable ``(spark, sf_dir) -> DataFrame`` plus
(optionally) an ANSI-SQL oracle string DuckDB runs on the same parquet
tables. ``__spark_entry__.queries()`` / ``oracle_sql()`` read this
registry.

Column names in the Spark result and the oracle MUST match (the driver
sorts columns by name before hashing).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hadoop_common_spark.session import configure_for_scale
from hadoop_common_spark.tables import register_views


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query. The wrapped fn gets a prepared
    session (UTC tz, AQE on) and pre-registered temp views."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_for_scale(spark)
            register_views(spark, sf_dir)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY and REGISTRY[name].fn.__name__ != fn.__name__:
            # same-name re-registration from a module reload is fine;
            # two DIFFERENT functions claiming one name is a bug
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return wrapped

    return deco


_QUERY_MODULES = [
    "hadoop_common_spark.queries.tpch",
    "hadoop_common_spark.queries.examples",
    "hadoop_common_spark.queries.aggregates",
    "hadoop_common_spark.queries.rowops",
    "hadoop_common_spark.queries.sortpart",
    "hadoop_common_spark.queries.joins",
    "hadoop_common_spark.queries.setops",
    "hadoop_common_spark.queries.windows",
    "hadoop_common_spark.queries.dedup",
    "hadoop_common_spark.queries.similarity",
    "hadoop_common_spark.queries.textstats",
    "hadoop_common_spark.queries.multimodal",
    "hadoop_common_spark.queries.synthetic",
    "hadoop_common_spark.queries.olap",
    "hadoop_common_spark.queries.subqueries",
    "hadoop_common_spark.queries.pipeline",
    "hadoop_common_spark.queries.graph",
]


# Driver-facing iteration order. The external correctness harness walks the
# registry in dict order and has a bounded budget (~50 rows/round), so the
# order is part of the evidence strategy. Round-13 rotation (VERDICT r12
# #8, continuing the cadence): the 14 r08-remainder rows lead (their
# newest driver row is r08 — the oldest evidence in the fleet; staged
# at the r12 overflow head), backfilled with the 36 oldest r09-checked
# rows to fill the ~50-row budget. After this round no query's newest
# driver row is older than r09, holding the steady ≤4-round re-proof
# cadence. Overflow = the 14 r09-remainder rows (r14 rotation head) ->
# r10-checked -> r11-checked -> the just-checked r12 window (freshest
# hard rows in the fleet). Names not in either list are slotted right
# after the window block, BEFORE the overflow, so a new query is never
# silently pushed out of the checked window.
PRIORITY_WINDOW: list[str] = [
    # -- r08-checked remainder (newest driver row r08 — the oldest
    #    evidence in the fleet; staged at the r12 overflow head) --
    "join_override",
    "theta_join_acctbal",
    "union_distinct_nations",
    "distinct_user_event_pairs",
    "pricing_summary",
    "top_unshipped_orders",
    "order_priority_count",
    "nation_trade_volume",
    "top_returning_customers",
    "customer_order_distribution",
    "brand_part_stats",
    "promo_revenue_share",
    "market_share_by_year",
    "nation_profit_by_year",
    # -- oldest 36 of the 50 r09-checked rows --
    "events_user_ewma_segmented",
    "events_value_percentiles_sampled",
    "events_outlier_counts",
    "top_supplier_by_revenue",
    "quantity_band_revenue",
    "small_quantity_revenue",
    "large_volume_orders",
    "inactive_rich_customers",
    "disjunctive_bracket_revenue",
    "similarity_lsh_recall_eval",
    "corpus_boilerplate_strip",
    "graph_label_propagation",
    "events_enrich_segment",
    "supplier_diversity_by_part",
    "bulk_suppliers_of_brand",
    "intersect_nations",
    "except_nations",
    "dedup_minhash_recall_eval",
    "dedup_incoming_flag",
    "corpus_gopher_filter",
    "text_hard_negatives",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_cluster_resolution",
    "similarity_cosine_topk",
    "similarity_lsh_buckets",
    "similarity_ivf_topk",
    "similarity_pq_topk",
    "corpus_semantic_dedup",
    "graph_pagerank",
    "window_sliding_10m_5m",
    "window_sessionize",
    "view_click_attribution",
]

# ---- 50-entry checked-window boundary ----
# (the driver checks ~50 rows/round — the window must fit; unlisted
# newcomers auto-slot right after it, BEFORE the overflow)
# Overflow order = oldest evidence first: the 14 r09-checked rows the
# window cap displaced (r14 rotation head), then r10-checked,
# r11-checked, and the just-checked r12 window at the tail (freshest
# hard rows in the fleet).
PRIORITY_OVERFLOW: list[str] = [
    # -- r09-checked remainder (r14 rotation head): window-cap displacements --
    "window_user_running_total",
    "window_user_analytics",
    "asof_join_next_purchase",
    "corpus_tfidf_topterms",
    "pipeline_clean_corpus",
    "corpus_split_counts",
    "corpus_token_shards",
    "corpus_decontamination",
    "corpus_mixture_sample",
    "corpus_profile",
    "corpus_incremental_ingest",
    "corpus_domain_caps",
    "corpus_global_shuffle",
    "corpus_quality_bins",
    # -- r10-checked (the old r10 window) --
    "join_salted_enrich",
    "corpus_contamination_scores",
    "text_lang_id",
    "text_quality_scores",
    "text_token_stats",
    "text_fingerprints",
    "text_bpe_token_stats",
    "text_bpe_merge_pairs",
    "text_winnow_fingerprint",
    "text_repetition_stats",
    "text_pii_scan",
    "multimodal_metadata",
    "multimodal_fake_decode",
    "multimodal_frame_sample",
    "events_ab_value_ttest",
    "events_signup_conversion_latency",
    "nation_share_of_region",
    "orders_revenue_mom",
    "customers_revenue_gini",
    "events_first3_journeys",
    "entity_link_clusters",
    "bloom_fpr_eval",
    "events_wau_rolling_kmv",
    "events_value_ohlc_hourly",
    "events_wau_rolling_7d",
    "events_distinct_users_kmv",
    "events_audience_overlap_kmv",
    "events_value_kmv_quantiles",
    "events_hll_distinct_users",
    "events_cdc_scd2_history",
    "embedding_kcenter_seeds",
    "events_audience_overlap",
    "lineitem_qty_price_correlation",
    "events_mode_band_by_type",
    "corpus_weighted_sample_by_source",
    "entity_link_fuzzy_ids",
    "supplier_balance_band_match",
    "text_score_calibration",
    "events_l_diversity",
    "embedding_drift_by_label",
    "corpus_version_diff",
    "privacy_erasure_cascade",
    "graph_bfs_distances",
    "embedding_kmeans_step",
    "text_quality_linear_score",
    "events_k_anonymity",
    "events_cdc_merge",
    "corpus_dsir_weights",
    "orders_market_basket",
    "events_user_ewma",
    # -- r11-checked (the old r11 window) --
    "stream_distinct_types_batch",
    "supplier_balance_wide_band_match",
    "customers_rfm_segments",
    "similarity_knn_label_eval",
    "events_key_skew_report",
    "tpch_fk_integrity",
    "text_inverted_index",
    "corpus_weighted_sample",
    "text_pmi_pairs",
    "dedup_containment_pairs",
    "dedup_canonical_quality",
    "corpus_dedup_rate_by_source",
    "corpus_temperature_mixture",
    "similarity_pq_recall_eval",
    "local_supplier_volume",
    "forecast_revenue_change",
    "dedup_shared_span_pairs",
    "events_close_pairs",
    "corpus_ngram_novelty",
    "similarity_matryoshka_recall_eval",
    "dedup_shared_span_pairs_capped",
    "zorder_layout_keys",
    "join_semi_anti",
    "returnflag_priority_pivot",
    "rollup_region_nation_revenue",
    "cube_status_priority",
    "grouping_sets_events",
    "dedup_embedding_cosine",
    "similarity_ivfpq_topk",
    "similarity_lsh_multiprobe_topk",
    "dedup_winnow_pairs",
    "dedup_exact_normalized",
    "embedding_quantize_int8",
    "hybrid_search_rerank",
    "text_bm25_topk",
    "corpus_bigram_familiarity",
    "text_fuzzy_word_pairs",
    "text_boilerplate_ngrams",
    "text_token_cms_topk",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "events_funnel",
    "events_cohort_retention",
    "events_weekday_heatmap",
    "events_gapfill_minutes",
    "events_multires_rollup",
    "events_rolling_1h_stats",
    "events_value_percentiles",
    "events_value_ntile_deciles",
    "events_transition_matrix",
    # -- r12-checked (the old r12 window — freshest hard rows) --
    "corpus_pack_sequences",
    "corpus_stratified_sample",
    "corpus_split_leakage",
    "corpus_chunk_overlap",
    "orders_scd2_intervals",
    "lineitem_unpivot_measures",
    "multimodal_audio_features",
    "multimodal_resize_plan",
    "above_nation_avg_balance",
    "customers_without_urgent_orders",
    "parts_in_urgent_orders",
    "brands_with_many_parts",
    "important_parts_share",
    "waiting_suppliers",
    "min_cost_supplier",
    "stream_session_expiry_batch",
    "stream_topk_per_user_batch",
    "flagship_revenue_by_nation",
    "random_text_wordcount",
    "terasort_head",
    "sudoku_distributed",
    "pentomino_count",
    "bbp_pi_digits",
    "pivot_status_priority",
    "above_avg_balance",
    "teragen_checksum",
    "montecarlo_pi",
    "asof_join_last_purchase",
    "window_tumbling_hourly",
    "secondary_sort_window",
    "secondary_sort_collected",
    "top_k_events",
    "top_k_per_group",
    "total_order_sort_head",
    "keyspec_sort_head",
    "grep_count",
    "wordcount",
    "word_length_stats",
    "multi_source_wordcount",
    "aggregate_framework",
    "uniq_value_count",
    "value_histogram",
    "events_basic_stats",
    "field_selection",
    "inverse_map",
    "json_field_extract",
    "percent_sampled_scan",
    "regex_filtered_scan",
    "join_inner_pairs",
    "join_full_outer",
]


PRIORITY = PRIORITY_WINDOW + PRIORITY_OVERFLOW


def _ordered(reg: dict[str, QueryDef]) -> dict[str, QueryDef]:
    """Registry reordered: the hand-curated checked-window block first,
    then UNLISTED newcomers (a query that forgot to update the lists
    lands at the window boundary — ahead of every overflow entry, never
    silently last), then the overflow, then the known-green remainder
    (stable within each block)."""
    prio_w = [n for n in PRIORITY_WINDOW if n in reg]
    prio_o = [n for n in PRIORITY_OVERFLOW if n in reg]
    listed = set(PRIORITY)
    rest = [n for n in reg if n not in listed]
    newcomers = [n for n in rest if n not in _R01_GREEN]
    tail = [n for n in rest if n in _R01_GREEN]
    return {n: reg[n] for n in prio_w + newcomers + prio_o + tail}


# Queries fully green in CORRECTNESS_r01.json — safe to defer past the
# harness's checked window (their hard-signal rows already exist).
_R01_GREEN = {
    "pricing_summary", "top_unshipped_orders", "order_priority_count",
    "nation_trade_volume", "top_returning_customers",
    "customer_order_distribution", "brand_part_stats", "promo_revenue_share",
    "market_share_by_year", "nation_profit_by_year", "top_supplier_by_revenue",
    "quantity_band_revenue", "small_quantity_revenue", "large_volume_orders",
    "inactive_rich_customers", "disjunctive_bracket_revenue",
    "supplier_diversity_by_part", "bulk_suppliers_of_brand", "grep_count",
    "word_length_stats", "multi_source_wordcount", "aggregate_framework",
    "uniq_value_count", "value_histogram", "events_basic_stats",
    "field_selection", "inverse_map", "json_field_extract",
    "percent_sampled_scan", "regex_filtered_scan", "total_order_sort_head",
    "secondary_sort_window", "secondary_sort_collected", "keyspec_sort_head",
    "top_k_events", "top_k_per_group", "join_inner_pairs", "join_full_outer",
    "join_override", "theta_join_acctbal", "union_distinct_nations",
    "intersect_nations", "except_nations", "distinct_user_event_pairs",
}


def load_all() -> dict[str, QueryDef]:
    """Import every query module (idempotent) and return the registry
    in driver-facing priority order (see PRIORITY above)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return _ordered(REGISTRY)
