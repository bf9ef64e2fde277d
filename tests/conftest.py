import pytest

from gedixr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gedixr-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Two-tier suite (r16, r15 VERDICT #3). The driver's verify window is
# shorter than the full suite's wall (~54 min at 895 tests), so the
# measured slow tail — every test whose call/setup took >= 5 s in the
# round-16 baseline run (PYTEST durations, /tmp-free: the table below
# IS the record) — carries the `slow` marker and is excluded by
# pytest.ini's default `-m "not slow"`. Slow-inclusive runs
# (`-m "slow or not slow"`) commit their transcript: PYTEST_slow_tier.txt
# (pruning and storage suites) and PYTEST_slow_tier_spatial.txt
# (spatial-join, PIP and ANN suites). Marking is
# centralized here so the tier is one auditable table, not 120
# scattered decorators.
_SLOW = {
    "tests/test_advice_r12.py::test_merge_across_additive_schema_evolution",
    "tests/test_advice_r15.py::test_recreate_with_advanced_oldest_is_detected",
    "tests/test_bench_contract.py::test_bench_final_line_is_compact_parseable_metric",
    "tests/test_bm25.py::test_incremental_index_equals_from_scratch",
    "tests/test_bpe.py::test_encode_ids_roundtrip_and_unk",
    "tests/test_cdc_cursor.py::test_merge_based_refresh_handles_retraction_and_insert",
    "tests/test_cdc_cursor.py::test_small_churn_rewrites_only_churned_state_files",
    "tests/test_cdc_long_range.py::test_append_runs_split_by_other_ops_keep_exact_semantics",
    "tests/test_cdc_long_range.py::test_consumer_loop_over_200_commit_backlog_is_bounded",
    "tests/test_cdc_long_range.py::test_fifty_append_range_plans_o1_scan_legs",
    "tests/test_cdc_long_range.py::test_fifty_upsert_range_plans_bounded_scan_legs",
    "tests/test_cdc_long_range.py::test_untouched_dv_does_not_break_diff_coalescing",
    "tests/test_classify_epoch.py::test_logreg_differential_vs_numpy",
    "tests/test_classify_epoch.py::test_logreg_l2_differential_and_shrinkage",
    "tests/test_classify_epoch.py::test_logreg_predict_separates",
    "tests/test_classify_epoch.py::test_quality_feature_vector_end_to_end",
    "tests/test_colmap_manifest.py::test_manifest_predating_colmap_bails_to_dict_path",
    "tests/test_colmap_manifest.py::test_point_lookup_through_mapped_manifest",
    "tests/test_colmap_manifest.py::test_renamed_column_prunes_through_manifest",
    "tests/test_colmap_manifest.py::test_swapped_columns_prune_on_the_right_physical_stats",
    "tests/test_column_mapping.py::test_mapped_scan_known_schema_path_equals_inference",
    "tests/test_column_mapping.py::test_randomized_history_matches_duckdb_alter_table_replay",
    "tests/test_compact_merge.py::test_cdc_batches_then_partition_compaction",
    "tests/test_compact_merge.py::test_compact_reduces_file_count_in_place",
    "tests/test_cursor_retention.py::test_consumer_at_cutoff_boundary_survives_expiry",
    "tests/test_cursor_retention.py::test_vacuum_retains_pending_cursor_range",
    "tests/test_deletion_vectors.py::test_randomized_dv_history_matches_duckdb_replay",
    "tests/test_deletion_vectors.py::test_shallow_clone_carries_dvs",
    "tests/test_embeddings_pca.py::test_opq_rotation_improves_trained_pq_recall",
    "tests/test_funnel_retention.py::test_funnel_matches_python_reference",
    "tests/test_geo.py::test_wkb_encode_decode",
    "tests/test_graph.py::test_dangling_mass_is_conserved",
    "tests/test_graph.py::test_fixed_mode_in_plan_scalar_matches_collect_path",
    "tests/test_graph.py::test_tol_early_stop_matches_converged_ranks",
    "tests/test_graph.py::test_tol_mode_adds_no_extra_jobs_per_round",
    "tests/test_graph.py::test_triangle_count_matches_brute_force",
    "tests/test_graph.py::test_triangle_count_star_graph_has_none_and_clique_is_complete",
    "tests/test_hybrid_search.py::test_hybrid_search_query_equals_python_fusion_of_its_legs",
    "tests/test_incremental_segment.py::test_incremental_dedup_store_path_equivalent",
    "tests/test_ingest_lifecycle.py::test_ingest_lifecycle_composes",
    "tests/test_layout.py::test_pruning_report_before_and_after_clustering",
    "tests/test_packed_materialize_trained_pq.py::test_train_pq_codebooks_cluster_precision",
    "tests/test_packed_materialize_trained_pq.py::test_trained_pq_recall_beats_fixed_on_offcenter_data",
    "tests/test_packing.py::test_packing_properties_hypothesis",
    "tests/test_parquet_checkpoint.py::test_conjunctive_prune_fast_path_equals_dict_path",
    "tests/test_parquet_checkpoint.py::test_point_lookup_through_manifest",
    "tests/test_parquet_checkpoint.py::test_range_prune_fast_path_equals_dict_path",
    "tests/test_parquet_checkpoint.py::test_twin_tables_agree_on_everything",
    "tests/test_pipeline_api.py::test_prepare_corpus_is_lazy_without_counts",
    "tests/test_pipeline_api.py::test_prepare_corpus_stages_and_invariants",
    "tests/test_pipeline_api.py::test_prepare_corpus_token_budget_stage",
    "tests/test_pipeline_end_to_end.py::test_prepare_training_shards_end_to_end",
    "tests/test_pipeline_end_to_end.py::test_training_data_pipeline_composes",
    "tests/test_pipeline_end_to_end.py::test_training_data_pipeline_v2_composes_r5_operators",
    "tests/test_plan_audit_global.py::test_no_undocumented_nested_loop_or_cartesian",
    "tests/test_prefix_jaccard.py::test_matches_bruteforce_adversarial_sizes",
    "tests/test_properties.py::test_bloom_semi_join_equals_set_semijoin",
    "tests/test_properties.py::test_contamination_spans_are_merged_valid_intervals",
    "tests/test_properties.py::test_jaccard_pairs_bounded_and_ordered",
    "tests/test_properties.py::test_merge_on_unique_keys_never_duplicates",
    "tests/test_properties.py::test_merge_upsert_is_dict_merge",
    "tests/test_properties.py::test_versioned_table_matches_dict_model",
    "tests/test_properties_r11.py::test_full_op_surface_matches_dict_model",
    "tests/test_properties_r12.py::test_schema_ops_interleaved_match_dict_model",
    "tests/test_properties_r15.py::test_mirror_crash_mode_sweep",
    "tests/test_properties_r15.py::test_mirror_crash_model",
    "tests/test_properties_r6.py::test_pagerank_mass_conservation",
    "tests/test_rebase_and_cdc_view.py::test_cdc_view_equals_scratch_after_any_churn",
    "tests/test_rebase_threaded.py::test_threaded_disjoint_upserts_match_dict_model",
    "tests/test_remote_manifest.py::test_remote_range_prune_fast_path_equals_dict_path",
    "tests/test_remote_manifest.py::test_remote_twin_lifecycle_agrees",
    "tests/test_round2_ops.py::test_star_cc_handles_long_chain_in_log_rounds",
    "tests/test_round2_ops.py::test_star_cc_matches_union_find_random",
    "tests/test_scale_plan.py::test_scale_plan_declines_colmap_and_missing_bounds",
    "tests/test_scale_plan.py::test_scale_plan_equals_standard_path",
    "tests/test_scale_plan.py::test_scale_plan_stays_off_below_threshold",
    "tests/test_scale_plan.py::test_scale_point_lookup_equals_standard",
    "tests/test_scale_plan.py::test_scale_read_results_equal_standard",
    "tests/test_semantic_dedup.py::test_degenerate_mega_cluster_raises_with_named_alternative",
    "tests/test_semantic_dedup.py::test_prefitted_centroids_identical_to_inline_fit",
    "tests/test_semantic_dedup.py::test_semantic_dedup_farthest_from_centroid_policy",
    "tests/test_semantic_dedup.py::test_sub_bucket_shards_skewed_but_distinct_vectors",
    "tests/test_similarity_events.py::test_asof_bucketed_equivalence_randomized_hot_key",
    "tests/test_sketches.py::test_bloom_semi_join_matches_duckdb",
    "tests/test_streaming_cdc.py::test_mirror_equals_source_and_resumes",
    "tests/test_streaming_cdc.py::test_mirror_forwards_rename_widen_drop",
    "tests/test_streaming_cdc.py::test_stream_of_micro_batches_equals_one_batch_read",
    "tests/test_table_changes.py::test_delete_modes_emit_identical_delete_rows",
    "tests/test_table_changes.py::test_merge_cdc_batch_classifies_all_three",
    "tests/test_table_changes.py::test_overwrite_and_rollback_changes",
    "tests/test_table_changes.py::test_randomized_history_feed_matches_duckdb_replay",
    "tests/test_table_changes.py::test_rollback_over_dv_delete_resurrects_rows_as_inserts",
    "tests/test_utm.py::test_auto_zone_matches_fixed_zone",
    "tests/test_utm.py::test_utm_roundtrip_and_symmetry",
    "tests/test_vectorstore.py::test_compaction_recovers_pruning_after_upsert_churn",
    "tests/test_vectorstore.py::test_lifecycle_search_equals_flat",
    "tests/test_weighted_sample.py::test_k1_inclusion_probability_is_w_over_sum",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        nodeid = item.nodeid.split("[")[0]
        if nodeid in _SLOW:
            item.add_marker(pytest.mark.slow)
