"""Driver-checkable query registry.

Every implemented operator from SURVEY.md §2 registers one named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL can
express the same semantics) a DuckDB oracle SQL string.  The driver runs
both at sf0.01 and compares row-count + schema + order-insensitive
value hash, so:

- every computed column is aliased identically on both sides
- double-valued outputs that could drift by summation order are rounded
  on BOTH sides (integers and deterministic single-op doubles are exact)
- all randomness goes through the engine-portable ``mix()`` so even
  shuffle/sample ORDER is oracle-checked
"""

from scdataset_spark.queries.registry import REGISTRY, QuerySpec, query  # noqa: F401

# importing the modules populates the registry
from scdataset_spark.queries import sampling  # noqa: F401,E402
from scdataset_spark.queries import relational  # noqa: F401,E402
from scdataset_spark.queries import llm  # noqa: F401,E402
from scdataset_spark.queries import streaming_batch  # noqa: F401,E402
from scdataset_spark.queries import metrics  # noqa: F401,E402
from scdataset_spark.queries import extended  # noqa: F401,E402
from scdataset_spark.queries import quality  # noqa: F401,E402

# External sweeps sample the registry in REGISTRATION ORDER (typically the
# first 50 entries), so ordering is part of the verification contract, not
# cosmetics.  Round-16 priority (VERDICT r15 tasks 2/3): (a) queries whose
# PHYSICAL PLAN changes this round lead (the external check of the old
# shape is invalidated), then (b) the r15 semantic-preserving rewrites
# that missed the r15 sample (q10/q11/q18/g6 + the weighted family), then
# (c) the round-12-checked entries now at the 4-round staleness ceiling,
# then rounds 13/14 by staleness, with the 50 entries checked in round 15
# at the back (freshest).
#
# Staleness floor (codified per VERDICT r10 task 7): with 171+ entries
# and a ~50-slot external sweep, the worst-case age of any entry's
# latest check is ceil(171/50) = 4 rounds — i.e. "≤3 rounds stale" is
# the steady-state bound this rotation maintains, and one extra round
# for spillover when a round adds new entries.  Every entry still runs
# LOCALLY every round via tests/test_oracle_parity.py (the full
# parametrized DuckDB mirror), so external staleness bounds re-CHECK
# latency, not untested surface.
# Names and semantics are frozen; only iteration order changes.
_PLAN_CHANGED = [
    # --- physical plan changed: connected components label a pair graph
    # below the driver bound on the driver, so the component map is a
    # local relation instead of the min-label propagation rounds ---
    "dd_components",
    "dd_dedup_corpus",
    "dd_keep_best",
    "dd_embed_components",
    "pipe_curation",
    "pipe_curation_gated",
    "o22_component_split",
    # --- physical plan changed since the last external check: the
    # with-replacement weighted draws' persisted, coalesced interval frame
    # (o3, o5_subset, o6, o16), the hook stage's fetch-ordered exchange
    # (t_hook_pipeline, o11, o12, o18), the weighted strategies' bigint
    # ``pos`` cast (o3-o6, o16), the grouped bucket-offset joins (null-safe
    # only on nullable group columns), o16's proportions as a literal
    # relation instead of a createDataFrame scan; the two dedup queries
    # are carried over from the round-13 cohort ---
    "o3_weighted_replace",
    "o5_subset_weighted",
    "o6_class_balanced",
    "o16_mixture_sample",
    "t_hook_pipeline",
    "o11_drop_last_batches",
    "o12_exact_len",
    "o18_fetch_shuffle",
    "o4_weighted_noreplace",
    "tx_token_budget_per_source_bucketed",
    "tx_quality_rank_by_source_bucketed",
    "o23_interleave",
    "tx_curriculum_order",
    "dd_minhash_lsh",
    "dd_exact_groups",
]

_SWEEP_PRIORITY = [
    *_PLAN_CHANGED,
    # --- physical plan changed in round 16 (similarity Python-stage partitioning, block-permute offsets scale path, weighted-draws single scan, bytes-gated top-k shape) — external check invalidated; q3 rides along for the r15 drift-closure re-check ---
    "dd_embed_cosine_fast",
    "o1_block_shuffle",
    "o9_epoch_reshuffle",
    "o15_block_shuffle_droplast",
    "q3_shipping_priority",
    "sim_topk_cosine",
    "sim_ivf_recall",
    "sim_mmr_topk",
    # --- rewritten in round 15 (fact-broadcast/window fixes, weighted family composition) but NOT in the r15 external sample (VERDICT r15 task 3) ---
    "q10_returned_revenue",
    "q11_important_stock",
    "q18_large_orders",
    "g6_batch_normalize",
    "o5_positional_weights",
    "o7_smoothed_weights",
    "o17_temperature_mixture",
    "o19_stratified_sample",
    # --- last externally checked in round 12 — 4 rounds stale, at the rotation ceiling ---
    "o24_mixture_plan",
    "tx_chunk_documents",
    "sim_random_projection",
    "sim_projected_ann",
    "dq_volume_anomalies",
    "ml_tfidf",
    "mm_binary_decode",
    "mm_feature_extract",
    "ev_sliding_window",
    "ev_session_window",
    "ev_stream_stream_join",
    "ev_first_event_dedup",
    "g5_sample_size_estimate",
    "g7_cube",
    "g7_grouping_sets",
    "sq_scalar_subquery",
    "sq_in_subquery",
    "dt_date_functions",
    "str_functions",
    "arr_functions",
    "dd_ngram_jaccard",
    "dd_lsh_verified",
    "dd_simhash",
    "o2_buffer_shuffle",
    "o10_batch_plan",
    # --- last externally checked in round 13 ---
    "sim_ivf_index_compacted",
    "sim_pq_adc_agreement",
    "sim_ann_ingest_consistency",
    "dd_incremental_ingest",
    "o13_ddp_partition",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q12_shipmode_priority",
    "q13_customer_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q19_disjunctive_predicates",
    "q22_idle_wealthy_customers",
    "w5_running_revenue",
    "sim_pq_encode",
    "sim_pq_ann",
    "dd_edit_verified",
    "dq_profile_drift",
    "dd_contamination_report",
    "dq_profile",
    "dq_outliers",
    "ts_gap_fill",
    "w5_distribution",
    "o20_per_source_cap",
    "tx_bm25",
    "dd_duplicate_spans",
    "dd_semantic_dedup",
    "dd_incremental_verified",
    "w5_top3_orders_per_customer",
    "w5_lag_lead_gaps",
    "w5_range_frame",
    "g3_batch_entropy",
    "g7_rollup_lineitem",
    "g7_pivot_status_by_flag",
    "g7_distinct_aggregates",
    "g7_percentiles",
    "g7_correlation",
    "j_semi_active_customers",
    "j_anti_customers_without_orders",
    # --- last externally checked in round 14 ---
    "sim_semantic_ingest",
    "dq_snapshot_diff",
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q9_product_profit",
    "q20_potential_promotion",
    "g7_unpivot_flag_metrics",
    "tx_unigram_logprob",
    "ev_user_stats",
    "setops_union_distinct",
    "setops_repeat_customers",
    "setops_lapsed_customers",
    "sq_correlated_group_max",
    "null_handling",
    "scalar_functions_events",
    "ev_session_capped",
    "ev_session_funnel",
    "tx_token_stats",
    "tx_langid",
    "tx_fingerprint",
    "tx_sequence_pack",
    "tx_token_budget",
    "j4_asof_join",
    "dd_winnowing",
    "dd_winnowing_pairs",
    "tx_bpe_count",
    "g4_shuffle_quality",
    "mm_frame_sample",
    "skew_salted_count",
    "q17_small_quantity",
    "sim_ivf_index",
    "sim_pq_index",
    "tx_token_budget_per_source",
    "q2_min_cost_supplier",
    "tx_repetition",
    "emb_quantize",
    "dd_embed_exact",
    "tx_vocabulary",
    "o21_split_assign",
    "dq_drift",
    "dd_ngram_decontam",
    "j_full_outer_nation_activity",
    "tx_length_buckets",
    # --- externally checked in round 15 (freshest) ---
    "o26_unimax_budget",
    "tx_gopher_rules",
    "dq_embedding_drift",
    "tx_distinct_ngrams",
    "tx_dsir_select",
    "q5_local_supplier_volume",
    "s1_streaming_scan",
    "s2_subset_split",
    "g7_approx_sketches",
    "q21_waiting_supplier",
    "tx_quality_score",
    "dd_simhash_pairs",
    "dd_decontamination",
    "dd_embed_cosine",
    "sim_lsh_ann",
    "sim_ivf_ann",
    "mm_multimodal_zip",
    "tx_normalize",
    "tx_pii_scrub",
    "sim_ivf_index_stats",
    "sim_ivf_index_rebuild",
    "tx_quality_rank_by_source",
    "ev_tumbling_window",
    "dd_components_star",
    "dd_incremental_novel",
    "src_custom_datasource",
    "s4_sparse_densify",
    "s3_anndata_ingest",
    "ml_label_encode",
    "dq_foreign_key",
    "dq_constraints",
    "dd_remove_spans",
]

def _apply_sweep_priority() -> None:
    if len(set(_SWEEP_PRIORITY)) != len(_SWEEP_PRIORITY):
        dupes = sorted({n for n in _SWEEP_PRIORITY if _SWEEP_PRIORITY.count(n) > 1})
        raise ValueError(f"_SWEEP_PRIORITY has duplicate names: {dupes}")
    missing = [n for n in _SWEEP_PRIORITY if n not in REGISTRY]
    if missing:  # a renamed query must update the priority list too
        raise ValueError(f"_SWEEP_PRIORITY names not in REGISTRY: {missing}")
    ordered = {n: REGISTRY[n] for n in _SWEEP_PRIORITY}
    for n, spec in REGISTRY.items():
        if n not in ordered:
            ordered[n] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_sweep_priority()


def queries():
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql():
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def headline_queries():
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}
