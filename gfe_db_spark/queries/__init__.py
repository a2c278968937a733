"""Query registry: every operator from SURVEY.md §2 exposed as a named
(spark_fn, oracle_sql) pair.

Each module contributes a ``QUERIES: dict[str, QuerySpec]``;
``all_queries()`` merges them into the full registry that the CLI and the
local oracle sweep run. The driver contract (`__spark_entry__.py`) exposes
only the GFE engine's entries, ``GFE_ENTRIES``, as ``queries()`` /
``oracle_sql()``. Oracle SQL is ANSI SQL runnable by DuckDB over the same
parquet tables; queries whose semantics aren't SQL-expressible set
``sql=None`` and get the weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One named query: the Spark implementation and its DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB-runnable ANSI SQL, or None for rows-only check
    doc: str = ""


#: The GFE engine's entries: release build and naming, the Cypher front end
#: and the reference's three validation queries, the alignment join, and the
#: manifest-table commit (txtable). Every one is hash-checked against its
#: oracle. This is the system the driver contract exposes.
GFE_ENTRIES: tuple[str, ...] = (
    "gfe_end_to_end",
    "gfe_naming",
    "cypher_front_end",
    "cypher_validation_node_counts",
    "cypher_validation_release_histogram",
    "cypher_validation_accession_counts",
    "alignment_join",
    "txtable_upsert",
    "txtable_time_travel_diff",
)


# Explicit ordering of the full registry. It dates from when the driver
# contract was the whole registry; the contract is now GFE_ENTRIES, which
# the driver checks in full. The driver's correctness gate walks the
# registry in insertion order and (observed in round 1) checks a bounded
# prefix, so the prefix must cover every operator family. Entries NOT
# listed here follow in module order — they are the shapes that already
# earned driver-green rows in CORRECTNESS_r01.json (generic SQL forms and
# the classic TPC-H suite).
#: Entries whose PLAN changed this round (new/behavior-changed since the
#: last driver check). They lead the driver window ahead of the staleness
#: rotation; reset this each round. Enforced by
#: tests/test_window_policy.py.
PLAN_CHANGED: tuple[str, ...] = (
    # r14 rotation (VERDICT r13 item 1): every entry whose plan was
    # rewritten in r13 but sat OUTSIDE the r13 driver window, so the
    # driver's independent oracle has not re-checked it post-rewrite.
    # Derivation (pinned by tests/test_window_policy.py::
    # test_plan_changed_covers_plan_dumps): all plans/r13/*_after.txt
    # entries absent from CORRECTNESS_r13.json, plus transitive consumers
    # of the r13-changed operators (shingles element_at/in-array-distinct,
    # hash-keyed spread_small_input, _bucketed_candidate_scores spread,
    # CC-family lineage cut, extract_features spread) that have no dump of
    # their own. Checked-in-r13 rewrites (corpus_prep_pipeline_v3,
    # dedup_simhash_hamming, text_ngram_novelty, text_repetition_stats,
    # rolling_distinct_users_7d_approx, sketch_distinct_accuracy,
    # ann_topk_join, multimodal_real_decode) rotate out; comment-only or
    # reverted touches (graph_pagerank/bfs, semdedup_prune,
    # text_quality_scores/bigram_lm/lm_score) never changed plan.
    "benchmark_contamination",
    "bloom_decontaminate",
    "corpus_prep_pipeline",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "entity_match_blocking",
    "gfe_end_to_end",
    "leakage_safe_split",
    "multimodal_metadata",
    "range_band_join",
    "set_similarity_join",
    "text_fingerprint",
    "text_redact_pii",
    "text_tfidf_top_terms",
    "corpus_prep_pipeline_v2",
    "dedup_embedding_cosine",
    "dedup_keep_list",
    "dedup_minhash_est",
    "dedup_minhash_signatures",
    "multimodal_features",
)

#: Driver-window size: the driver's correctness gate checks this many
#: entries from the head of the registry each round.
DRIVER_WINDOW = 50

PRIORITY: tuple[str, ...] = (
    # ---- Round-15 window, positions 1-50 (policy-pinned by
    # tests/test_window_policy.py): PLAN_CHANGED first (the 23 r13
    # rewrites the driver has not re-checked), then
    # stalest-driver-check-first computed from the committed
    # CORRECTNESS_r*.json (alphabetical within a round). Everything past
    # the window is checked by the full sf0.001 oracle sweep inside
    # pytest each run.
    "benchmark_contamination",
    "bloom_decontaminate",
    "corpus_prep_pipeline",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "entity_match_blocking",
    "gfe_end_to_end",
    "leakage_safe_split",
    "multimodal_metadata",
    "range_band_join",
    "set_similarity_join",
    "text_fingerprint",
    "text_redact_pii",
    "text_tfidf_top_terms",
    "corpus_prep_pipeline_v2",
    "dedup_embedding_cosine",
    "dedup_keep_list",
    "dedup_minhash_est",
    "dedup_minhash_signatures",
    "multimodal_features",
    "a1_dedup_distinct",
    "a8_explode_distinct_count",
    "a_count_distinct",
    "a_cube",
    "a_grouping_sets",
    "a_having_filter",
    "a_rollup",
    "c10_date_kit",
    "c12_json_extraction",
    "c5_version_format",
    "copurchase_pairs",
    "division_all_regions",
    "domain_cap_sample",
    "f1_processability_filter",
    "f2_skip_list_filter",
    "f5_regex_predicate",
    "f6_conditional_pivot",
    "fixed_k_per_group_sample",
    "imgt_stream_scan",
    "j1_broadcast_lookup",
    "j2_dimension_chain",
    "j4_composite_key_join",
    "j6_cross_join_singleton",
    "nation_revenue_share",
    "order_backlog_daily",
    "pack_sequences",
    "pctl_quantity_by_flag",
    "bpe_train_merges",
    "bpe_vocab_stats",
    "chisq_independence",
    "corpus_shuffle",
    "cypher_front_end",
    "cypher_validation_accession_counts",
    "cypher_validation_node_counts",
    "cypher_validation_release_histogram",
    "dedup_exact_substrings",
    "doc_chunk_overlap",
    "dsir_importance_weights",
    "embedding_standardize",
    "event_crosstab",
    "gfe_naming",
    "graph_3hop_motif",
    "graph_bfs_hops",
    "graph_degree_distribution",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_undirected_2hop",
    "incremental_agg_merge",
    "knn_ivf_pq",
    "knn_pq_adc",
    "tumbling_window",
    "txtable_time_travel_diff",
    "txtable_upsert",
    "w6_dense_rank_accession",
    "rolling_distinct_users_7d_approx",
    "sketch_distinct_accuracy",
    "table_profile",
    "text_ngram_novelty",
    "text_repetition_stats",
    "w_relative_rank",
    "weighted_sample_priority",
    "zorder_layout",
    "ann_lsh_buckets",
    "attribution_last_touch",
    "attribution_linear",
    "bpe_encode_corpus",
    "cdc_apply_changelog",
    "corpus_prep_pipeline_v3",
    "dedup_simhash_hamming",
    "dq_constraint_suite",
    "ewma_user_value",
    "fk_integrity_check",
    "histogram_quantity",
    "imgt_datasource_scan",
    "join_cardinality_estimate",
    "keep_latest_per_user",
    "multimodal_dedup",
    "multimodal_frame_sample",
    "multimodal_phash_dedup",
    "multimodal_real_decode",
    "outlier_mad_values",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q17_small_quantity",
    "q2_min_price_part",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "random_projection_distortion",
    "scd2_point_in_time_join",
    "sessionize",
    "sketch_heavy_hitters",
    "sketch_quantile_accuracy",
    "stream_cdc_apply",
    "stream_upsert_sink",
    "stream_user_totals",
    "table_content_checksum",
    "text_boilerplate_strip",
    "alignment_join",
    "ann_index_append",
    "ann_topk_join",
    "association_rules_lift",
    "knn_ivf_trained",
    "semdedup_prune",
    "q8_market_share",
    "a12_bool_all_reduce",
    "a13_monotonicity_guard",
    "a6_array_set_union",
    "a7_label_counts",
    "j7_anti_join",
    "j_full_outer_join",
    "j_semi_join",
    "q11_important_balance",
    "q16_supplier_count_distribution",
    "q9_profit_by_nation_year",
    "so_intersect",
    "asof_last_purchase",
    "c_scalar_suite",
    "corpus_sample",
    "dedup_exact",
    "embedding_quantize",
    "event_funnel",
    "knn_brute_force",
    "knn_ivf",
    "q20_quantity_threshold_suppliers",
    "skew_salted_count_distinct",
    "text_bigram_lm",
    "text_lang_id",
    "text_quality_scores",
    "text_split_assign",
    "text_token_stats",
    "text_vocab_top",
    "logreg_quality_train",
    "mixture_resample",
    "mode_per_group",
    "q12_priority_class",
    "q21_waiting_suppliers",
    "regression_moments_by_flag",
    "retention_cohorts",
    "rfm_segmentation",
    "rolling_spend_7d",
    "shard_by_token_budget",
    "stream_static_enrich",
    "stream_stream_join",
    "stratified_sample",
    "stream_dedup",
    "rolling_distinct_users_7d",
    "timeseries_gapfill_locf",
    "reorder_interval_stats",
    "revenue_pareto_deciles",
    "unpivot_measures",
    "scd2_customer_history",
    "quality_decile_stats",
    "text_lm_score",
    "skew_salted_join",
    "skew_stats_hot_keys",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "w2_topk_per_group",
    "so1_except",
    "w_lead_lag_delta",
    "q22_global_sales_opportunity",
    "q19_disjunctive_predicates",
    "q18_large_volume_customer",
    "w_running_total",
)


def all_queries() -> dict[str, QuerySpec]:
    """Aggregate every module's QUERIES. Import here (not module top-level)
    so a syntax error in one module is attributable."""
    from gfe_db_spark.queries import (
        bpe,
        dedup,
        graph,
        layout,
        multimodal,
        relational,
        similarity,
        streaming,
        text,
        tpch_plus,
        tpch_rest,
        warehouse,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        tpch_plus,
        tpch_rest,
        graph,
        dedup,
        similarity,
        layout,
        bpe,
        text,
        multimodal,
        streaming,
        warehouse,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)

    missing = [name for name in PRIORITY if name not in merged]
    if missing:
        raise ValueError(f"PRIORITY names not in registry: {missing}")
    ordered = {name: merged[name] for name in PRIORITY}
    ordered.update({name: spec for name, spec in merged.items() if name not in ordered})
    return ordered


def gfe_queries() -> dict[str, QuerySpec]:
    """The GFE engine's entries, in ``GFE_ENTRIES`` order."""
    specs = all_queries()
    return {name: specs[name] for name in GFE_ENTRIES}
