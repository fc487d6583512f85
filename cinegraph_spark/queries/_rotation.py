"""GENERATED by `python scripts/gen_rotation.py --write`
— do not hand-edit; rebuild instead (r15 verdict task 8).

The driver-slot rotation: CHANGED_CODE_CANARIES first,
then every never-driver-checked query, then the stalest
latest-check buckets in registry order, 50 slots total.
tests/test_registry_order.py re-derives these buckets
from CORRECTNESS_r01..r19.json and fails on
any divergence."""

# freshness over CORRECTNESS_r01..r19: [(13, 13), (14, 44), (15, 45), (16, 46), (17, 47), (19, 50)];
# never-checked: 0
# 8 canaries + 0 never + 42 stalest = 50 slots

#: Freshness snapshot this rotation was derived from —
#: see cinegraph_spark/queries/__init__.py for the full
#: contract docs on all three constants.
ROTATION_BUILT_FROM_ROUND: int = 19

#: Queries whose implementation changed since their last
#: driver row: they jump the freshness order to re-prove
#: oracle-identical output under the real driver.
CHANGED_CODE_CANARIES: tuple[str, ...] = (
    "vec_ann_hnsw_incremental_knn",
    "vec_ann_hnsw_stream_update_knn",
    "vec_ann_hnsw_erasure_knn",
    "vec_ann_pq_served_topk",
    "vec_ann_pq_incremental_topk",
    "vec_ann_pq_stream_update_topk",
    "vec_ann_ivf_stream_update_topk",
    "vec_ann_ivf_erasure_topk",
)

DRIVER_PRIORITY: tuple[str, ...] = CHANGED_CODE_CANARIES + (
    # last checked round 13 (registry order)
    "subq_scalar_orders_above_avg",
    "subq_correlated_top_heavy_customers",
    "subq_not_exists_parts_unordered_1997",
    "window_ntile_percent_cume",
    "window_first_last_nth_order",
    "agg_minby_maxby_nation",
    "agg_incremental_mv_refresh",
    "sample_hash_mod_documents",
    "sample_weighted_wor_topk",
    "src_stream_listing_pages",
    "media_feature_extract",
    "layout_compact_small_files_stats",
    "pipeline_stream_ingest_compact",
    # last checked round 14 (registry order)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume_by_nation",
    "agg_distinct_parts_per_supplier",
    "window_lag_lead_user_events",
    "scalar_json_events",
    "scalar_datetime_parts_events",
    "strfn_fuzzy_name_pairs_blocked",
    "vec_ann_pq_topk",
    "vec_ann_hnsw_served_knn",
    "vec_ann_ivf_incremental_topk",
    "vec_ann_ivf_filtered_topk",
    "vec_ann_pq_filtered_topk",
    "sample_token_budget_greedy",
    "text_vocab_oov_rate",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_buckets",
    "stream_join_left_outer_attribution",
    "stream_join_full_outer_attribution",
    "stream_mv_cdc_retract",
    "q15_top_supplier_ties",
    "agg_incremental_mv_retract",
    "script_trailing_quarter_report",
    "agg_incremental_mv_hll_distinct",
    "sample_stratified_topn_per_source",
    "sample_lang_quota",
    "pack_chunks_per_source",
    "text_domain_mix_weights",
    "text_bigram_surprisal",
)
