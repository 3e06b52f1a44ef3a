"""Merged driver contract: every operator module's SPECS in one place.

``__spark_entry__.py`` re-exports these as ``queries()`` /
``oracle_sql()``.  Import side effects are kept light; modules that
need optional deps (pyspark.ml) import them lazily inside builders.

Ordering is load-bearing: the driver's correctness gate checks the
FIRST 50 queries in dict iteration order (CORRECTNESS_r01 contains
exactly the first 50 registry entries of round 1 — module order —
leaving timeseries/multimodal/pipeline/udx unverified).  ``PRIORITY``
pins the verification window each round: queries whose semantics
changed this round plus queries with no driver row yet come first,
then the reference §2.A/§2.B parity surface, then the long-green
remainder.  Everything (229 queries as of round 15) still runs in
tests/parity.py, whose committed PARITY_r{N}.json covers the overflow.

The window contract is self-tested: tests/test_registry.py asserts
that ``list(queries())[:50]`` equals ``PRIORITY[:50]`` exactly, so an
unregistered/misspelled PRIORITY name (which would silently let
module-order queries eat verification slots) fails the suite.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .spec import Spec

#: The round this PRIORITY window was derived FOR: the derivation in
#: tests/test_registry.py reads only CORRECTNESS_r{1..N-1}, so the
#: driver committing round N's artifact at the round boundary does
#: NOT turn the suite red (VERDICT r9 item 1 / ADVICE r9: the r9 test
#: globbed ALL artifacts, guaranteeing a red suite at every
#: boundary).  The test fails with a "rotate me" message only when an
#: artifact NEWER than this round exists — i.e. a whole rotation was
#: skipped.  Bump this and re-derive PRIORITY at the start of each
#: round.
DERIVED_FOR_ROUND: int = 15

#: Queries whose kernels/oracles CHANGED this round — the one input
#: to the window derivation that cannot be recomputed from committed
#: artifacts (the other inputs — never-checked queries and per-query
#: newest driver rows — come from CORRECTNESS_r*.json).  Curated per
#: round; tests/test_registry.py derives the mandatory window from
#: (new ∪ TOUCHED) + oldest-rows backfill and fails naming any
#: dropped query.
TOUCHED_THIS_ROUND: tuple[str, ...] = (
    # round 15: every Arrow kernel lost its switch-selected reference
    # arm (one implementation per kernel) — the consumer query of each
    # kernel family re-verifies against its oracle
    "q_ann_ivf", "q_ann_ivfpq", "q_ann_ivfpq_residual", "q_kcenter_coreset",
    "q_dedup_embedding", "q_knn_graph", "q_dedup_minhash_lsh",
    "q_suffix_ranks", "q_rare_trigram_rate", "q_ngram_counts",
    "q_repetition_signals", "q_ngram_jaccard", "q_dedup_simhash",
    "q_winnowing", "q_cms_counts", "q_bpe_encode", "q_dedup_paragraph",
    "q_dedup_paragraph_apply",
)

#: Names the driver must re-verify this round, in order: (1) queries
#: fixed/changed since their last green row, (2) queries that have
#: never had a CORRECTNESS row, (3) the reference-parity §2.A/§2.B
#: surface.  Names not listed (or not registered) follow in module
#: order; unknown names here are ignored, so the list is safe to
#: curate ahead of the code — but the FIRST 50 are contract (see
#: tests/test_registry.py).  (229 queries as of round 15.)
PRIORITY: tuple[str, ...] = (
    # ---- round-15 window (slots 1-50) -----------------------------
    # DERIVED (see DERIVED_FOR_ROUND): never-driver-checked queries +
    # TOUCHED_THIS_ROUND first, then the globally oldest driver rows
    # from the CORRECTNESS_r01-r14 union sorted by (newest round,
    # name) until the 50 slots fill.  As of this rotation every
    # registered query has a CORRECTNESS row, so that is the 18 kernel
    # consumers, the remaining r09 tail and the oldest r10 rows.
    "q_ann_ivf", "q_ann_ivfpq", "q_ann_ivfpq_residual", "q_kcenter_coreset",
    "q_dedup_embedding", "q_knn_graph", "q_dedup_minhash_lsh",
    "q_suffix_ranks", "q_rare_trigram_rate", "q_ngram_counts",
    "q_repetition_signals", "q_ngram_jaccard", "q_dedup_simhash",
    "q_winnowing", "q_cms_counts", "q_bpe_encode", "q_dedup_paragraph",
    "q_dedup_paragraph_apply", "q_quarantine", "q_retention_cohort",
    "q_rrf_fusion", "q_seasonal_profile", "q_source_cap", "q_window_rank",
    "q_zorder", "q_ann_brp", "q_ann_lsh_pairs", "q_asof_join", "q_bpe_train",
    "q_decontaminate", "q_dedup_normalized", "q_fingerprint", "q_flagship",
    "q_fuzzy_join", "q_gopher_lines", "q_gopher_rules", "q_group_agg",
    "q_group_ols", "q_hash_embed", "q_interval_join", "q_json_extract",
    "q_kv_pivot", "q_lag_lead", "q_lang_id", "q_linestring", "q_mahalanobis",
    "q_negative_pairs", "q_ntile", "q_partition_by_type", "q_path_join",
    # ---- overflow (covered by tests/parity.py PARITY_r{N}) ---------
    "q_semdedup_recall_report", "q_dedup_clusters", "q_dedup_apply",
    "q_dedup_keep_best", "q_skew_report", "q_stateful_counts",
    "q_topk_cosine_incremental", "q_train_split", "q_triangles", "q_unpivot",
    "q_variant_extract", "q_vocab_topk", "q_abtest", "q_agg_sum",
    "q_ann_lsh_buckets", "q_bm25", "q_bm25_forget", "q_bm25_pruned_forget",
    "q_bpe_extend", "q_chunk_overlap", "q_collect_events",
    "q_collect_stats_map", "q_conditional_agg", "q_cusum", "q_date_parse",
    "q_dedup_exact", "q_dedup_forget", "q_dedup_incremental", "q_dedup_near",
    "q_dsir_resample", "q_dsir_weights", "q_embed_norms", "q_exact_substring",
    "q_exists_in", "q_filter_between", "q_filter_or_isin", "q_funnel_ordered",
    "q_heavy_hitters", "q_hll_sliding", "q_inverted_index",
    "q_inverted_index_append", "q_kcore", "q_khop_reach", "q_lm_perplexity",
    "q_manifest_multi", "q_media_dedup", "q_quality_retrain",
    "q_quantize_int8", "q_bitext_append", "q_bitext_recall_report",
    "q_facet_page", "q_ivf_postings", "q_ivf_rebalance", "q_ann_index_build",
    "q_ann_query_from_index", "q_ann_index_append", "q_ann_batch_queries",
    "q_ann_recall_report", "q_ann_filtered", "q_ann_filtered_from_index",
    "q_dv_fraction", "q_ann_dv_rewrite", "q_ann_retrain", "q_ann_forget",
    "q_dedup_semantic", "q_dedup_semantic_from_index", "q_proto_prune",
    "q_proto_prune_from_index", "q_bitext_from_index", "q_bitext_forget",
    "q_hybrid_from_index", "q_full_outer", "q_funnel_join", "q_funnel_left",
    "q_gapfill", "q_global_shuffle", "q_grouping_sets", "q_histogram",
    "q_hll_merge", "q_mixture_rebalance", "q_moving_avg", "q_multimodal_embed",
    "q_multimodal_frames", "q_multimodal_resize", "q_pagerank",
    "q_percentiles", "q_quality_funnel", "q_resample_ffill", "q_rollup",
    "q_semi_anti", "q_session_window", "q_set_ops", "q_skew_join_adaptive",
    "q_bm25_mrr", "q_decontaminate_fuzzy", "q_incremental_agg", "q_kll_merge",
    "q_manifest_merge", "q_mmr_rerank", "q_mrl_rerank", "q_nation_trade",
    "q_pivot", "q_quality_classifier", "q_quality_classifier_eval",
    "q_quality_quantile", "q_range_frame", "q_returned_customers", "q_scd2",
    "q_skyline", "q_snapshot_diff", "q_snowflake_join", "q_span_scrub",
    "q_temporal_join", "q_theta_sets", "q_window_analytics",
    "q_winnowing_pairs", "q_anomaly_zscore", "q_approx_distinct",
    "q_bloom_prune", "q_bm25_pruned", "q_bm25_pruned_append", "q_cogroup_asof",
    "q_communities_lpa", "q_containment", "q_correlated_scalar", "q_cube",
    "q_dedup_audit", "q_embed_covariance", "q_expectations",
    "q_curriculum_order", "q_manifest_roundtrip", "q_merge_upsert",
    "q_multimodal_decode", "q_multimodal_meta", "q_pack_sequences",
    "q_pca_project", "q_pii_scrub", "q_pipeline_e2e", "q_posexplode",
    "q_salted_agg", "q_salted_join", "q_sessionize", "q_sliding_window",
    "q_stratified_sample", "q_topk_cosine_pandas", "q_tumbling_window",
    "q_udaf_median", "q_analyze_stats", "q_ann_binary", "q_ann_pq",
    "q_autocorr", "q_big_orders", "q_bm25_from_index", "q_bm25_index_append",
    "q_bpe_fertility", "q_bpe_pairs", "q_corpus_profile", "q_dedup_from_index",
    "q_dedup_index_append", "q_entity_resolution", "q_ewma", "q_first_touch",
    "q_graph_jaccard", "q_project_arith", "q_quality_score", "q_schema_infer",
    "q_schema_unify", "q_simhash_near", "q_string_funcs",
    "q_temperature_sample", "q_tfidf", "q_token_budget_mix",
    "q_token_count_bpe", "q_token_counts", "q_topk", "q_topk_cosine",
    "q_udtf_chunks", "q_udtf_chunks_arrow", "q_udtf_poly",
)


def _all_specs() -> dict[str, Spec]:
    specs: dict[str, Spec] = {}
    for mod_name in ("relational", "restructure", "schema_infer", "dedup",
                     "similarity", "text", "timeseries", "multimodal",
                     "pipeline", "udx"):
        try:
            mod = __import__(f"healthkit_to_sqlite_spark.operators.{mod_name}",
                             fromlist=[mod_name])
        except ImportError:
            continue
        specs.update(getattr(mod, "SPECS", {}))
    ordered: dict[str, Spec] = {}
    for name in PRIORITY:
        if name in specs:
            ordered[name] = specs[name]
    for name, spec in specs.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.build for name, spec in _all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _all_specs().items()
            if spec.oracle is not None}
