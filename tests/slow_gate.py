"""Slow-test gate (r16 verdict ask #1).

The full suite grew to ~49 min serial — past the grading driver's pytest
budget (VERIFY_r15 recorded tests_ok=false with zero failures visible: the
run was cut off mid-suite). The driver cannot grade a suite it cannot
finish, so the long tail — soaks, degenerate-corpus sweeps over every
registered query, streaming crash/replay equivalences, multi-engine
index-maintenance roundtrips — is gated behind ``HRI_RUN_SLOW=1`` and run
in the repo's own closing gate instead of the driver's budgeted pass.

NOTHING is deleted: every gated test runs verbatim with the env var set
(``HRI_RUN_SLOW=1 python -m pytest tests/``), and the default pass still
covers every operator through the fast tests. The list below is exactly
the tests whose measured call time was >= 8 s in the r16 baseline run
(sum ~2070 s of ~2920 s total); regenerate with
``pytest --durations=0`` if the suite's shape changes.

New long tests should use ``@pytest.mark.slow`` instead of growing this
list; conftest honors both.
"""

SLOW_NODEIDS = frozenset({
    "tests/test_ann_quality.py::test_pq_adc_rerank_recall_vs_exact",
    "tests/test_bench_contract.py::test_stream_passthrough_auto_bounds_past_the_bar",
    "tests/test_empty_corpus.py::test_every_registered_query_survives_a_null_heavy_corpus",
    "tests/test_empty_corpus.py::test_every_registered_query_survives_a_one_row_corpus",
    "tests/test_empty_corpus.py::test_every_registered_query_survives_an_all_null_corpus",
    "tests/test_empty_corpus.py::test_every_registered_query_survives_an_empty_corpus",
    "tests/test_index_catalog.py::test_fresh_session_resolves_trained_index_from_metadata_alone",
    "tests/test_index_catalog.py::test_memo_staleness_same_session_regen",
    "tests/test_index_catalog.py::test_trained_upsert_appends_without_rewriting_base",
    "tests/test_index_catalog.py::test_trained_upsert_equals_one_shot_with_frozen_centroids",
    "tests/test_iofs.py::test_stream_epochs_and_fold_on_remote_root",
    "tests/test_llm_operators.py::test_iterative_trainers_release_their_caches",
    "tests/test_llm_operators.py::test_min_label_components_matches_union_find_on_random_graphs",
    "tests/test_oracle_parity.py::test_query_matches_oracle[bfs_hops_from_hub]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_graph_pagerank]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[frequent_triples_apriori]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[pca_power_iteration]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[stream_ann_index_maintenance]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[stream_dedup_incremental]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[stream_ivfpq_maintenance]",
    "tests/test_round10_ops.py::test_balanced_index_is_left_alone",
    "tests/test_round10_ops.py::test_codes_only_index_refuses_retrain",
    "tests/test_round10_ops.py::test_fold_delta_epochs_codes_only_index",
    "tests/test_round10_ops.py::test_fold_delta_epochs_preserves_reads",
    "tests/test_round10_ops.py::test_ivfpq_trained_upsert_equals_one_shot_with_frozen_artifacts",
    "tests/test_round10_ops.py::test_ivfpq_trained_upsert_reads_from_sidecar_alone",
    "tests/test_round10_ops.py::test_retrain_consumes_stream_epochs",
    "tests/test_round10_ops.py::test_stream_ann_maintenance_both_backends[hdfs]",
    "tests/test_round10_ops.py::test_stream_ann_maintenance_both_backends[rocksdb]",
    "tests/test_round10_ops.py::test_stream_ann_maintenance_crash_and_resume_same_checkpoint",
    "tests/test_round10_ops.py::test_stream_ann_maintenance_equals_batch_trained_upsert",
    "tests/test_round10_ops.py::test_stream_ann_maintenance_leaves_base_untouched",
    "tests/test_round10_ops.py::test_stream_ann_maintenance_replay_idempotent",
    "tests/test_round10_ops.py::test_stream_ivfpq_maintenance_crash_and_resume_same_checkpoint",
    "tests/test_round10_ops.py::test_stream_ivfpq_maintenance_equals_batch_codes_upsert",
    "tests/test_round10_ops.py::test_stream_ivfpq_maintenance_replay_and_drift",
    "tests/test_round10_ops.py::test_stream_maintained_read_prunes_every_source",
    "tests/test_round10_ops.py::test_stream_maintenance_after_fold_does_not_duplicate",
    "tests/test_round10_ops.py::test_stream_maintenance_after_retrain_serves_rebalanced_index",
    "tests/test_round10_ops.py::test_stream_maintenance_cleans_work_dir",
    "tests/test_round10_ops.py::test_upsert_records_drift_stats",
    "tests/test_round6_ops.py::test_ttl_eviction_actually_clears_state",
    "tests/test_round6_ops.py::test_ttl_metrics_survive_checkpoint_restart",
    "tests/test_round7_ops.py::test_hll_integer_harmonic_sum_is_exact",
    "tests/test_round8_ops.py::test_ivf_upsert_index_compaction_roundtrip",
    "tests/test_streaming.py::test_passthrough_route_auto_bounded_replay",
    "tests/test_streaming.py::test_streaming_data_before_started_at_volume",
    "tests/test_streaming.py::test_streaming_lifecycle_end_to_end",
    "tests/test_streaming.py::test_streaming_multi_batch_interleaving",
    "tests/test_streaming.py::test_streaming_terminate_drops_later_records",
    "tests/test_streaming.py::test_streaming_terminate_mid_trigger_splits_by_event_order",
    "tests/test_streaming.py::test_streaming_unknown_batch_and_overcount",
    "tests/test_streaming_restart.py::test_restart_from_checkpoint_no_loss_no_dup",
    "tests/test_streaming_watermark.py::test_watermark_closes_windows_and_drops_late",
    "tests/test_trained_pq.py::test_durable_ivfpq_decodes_from_sidecar_alone",
    "tests/test_trained_pq.py::test_trained_codebook_shrinks_recon_err_on_driver_corpus",
    "tests/test_trained_quantizer.py::test_trained_holds_recall_and_balance_on_isotropic_corpus",
})
