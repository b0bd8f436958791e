import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------
# Slow-test lane (round 11, VERDICT r10 ask #1): the driver's verify
# window could not finish the grown suite (r10: truncated at ~54%, no
# failure markers — the round lost its independent full-suite
# confirmation).  The tests below are the measured heavy tail of a full
# clean run (durations in comments, seconds, from the r11 baseline run
# of 925 tests / 44 min): together ~1,300 s of ~2,650.  They are marked
# `slow` here centrally (exact names — parametrized oracle entries need
# per-param marking a decorator can't express) and excluded by default
# via pytest.ini `addopts = -m "not slow"`.
#
# Selection rule: nothing that covers code CHANGED in the current round
# may be marked slow — r11 touches the similarity Column-surface Arrow
# paths (classifier_score / kmeans assign / PQ encode+ADC), the azure
# writer codec, q46's pipeline and bench.py, so
# test_classifier_score_paths_and_plan, test_kmeans_fit_converges…,
# test_pq_fuzz_vs_numpy, oracle parity q127/q46/q73/q30,
# test_azure_sas_loader_and_writers and
# test_prepare_training_corpus_end_to_end all STAY in the default lane.
# (q64/q78 oracle parity moved to slow in the second trim below — their
# operators are unchanged this round.)
# ---------------------------------------------------------------------
SLOW_TESTS = {
    # streaming parity end-to-ends (stream==batch, stable since r8-r9)
    "test_stream_stream_join_matches_batch",            # 120.0
    "test_near_dup_stream_ttl_recall_trade",            # 74.1
    "test_funnel_stream_matches_batch_with_out_of_order_batches",  # 36.2
    "test_dedup_stream_matches_batch",                  # 33.1
    "test_near_dup_stream_out_of_order_ids_lose_no_pairs",  # 26.5
    "test_near_dup_candidates_stream_matches_batch_star_pairs",  # 22.2
    "test_near_dup_candidates_stream_ttl_plumbing",     # 19.8
    "test_enrich_stream_with_static_dim",               # 19.4
    "test_stream_event_rate_anomaly_matches_batch",     # 16.7
    "test_windowed_agg_matches_batch",                  # 16.4
    "test_near_dup_candidates_stream_string_ids",       # 15.5
    "test_stateful_running_totals",                     # 13.3
    "test_funnel_stream_string_user_ids",               # 12.6
    "test_ingest_corpus_stream_matches_batch",          # 11.1
    # heaviest oracle-parity replays (the 50-query driver sample plus
    # the remaining 166 in-lane entries keep value-level coverage)
    "test_oracle_parity[q108_best_quality_dedup]",      # 111.1
    "test_oracle_parity[q53_corpus_boilerplate]",       # 74.4
    "test_oracle_parity[q124_train_quality_classifier]",  # 53.9
    # operator end-to-ends / adversarial-corpus studies
    "test_fuzzy_join_segment_scheme_matches_length_scheme",  # 46.7
    "test_write_to_json_streams_without_collect",       # 41.3
    "test_ivf_fit_numpy_speed",                         # 29.7
    "test_ivf_residual_beats_raw_codes_on_clustered_data",  # 21.6
    "test_fuzzy_join_qgram_prunes_shared_prefix_corpus",  # 20.5
    "test_train_logreg_standardize",                    # 20.0
    "test_fuzzy_join_blocking_is_lossless",             # 18.1
    "test_hashed_tf_features_portable_and_train_chain",  # 18.0
    "test_incremental_minhash_equals_batch_difference",  # 16.7
    "test_knn_join_cluster_cap_and_pipeline_xent_gate",  # 15.2
    "test_ivf_residual_search_matches_numpy_replay",    # 13.8
    "test_parquet_single_file_roundtrip_append",        # 12.9
    "test_rrf_fuse_batched_matches_per_query_loop",     # 12.7
    "test_csv_append_no_duplicate_header",              # 12.4
    "test_folder_loader_with_filename",                 # 12.3
    "test_train_logreg_learns_and_is_deterministic",    # 11.0
    "test_dedup_keep_cluster_best_quality",             # 10.8
    "test_folder_loader_schema_mismatch",               # 10.2
    "test_lm_save_load_and_pipeline_drop_contained",    # 9.7
    # services / dataframe heavy end-to-ends
    "test_readme_shim_writers_roundtrip",               # 38.4
    "test_delta_fallback_concurrent_append_commit_race",  # 9.8
    "test_union_distinct_and_append",                   # 22.9
    "test_order_insensitive_clauses",                   # 16.2
    # second trim (r11): the default lane measured 1888 s contended —
    # thin against the window that truncated r10 — so the next-heaviest
    # tests NOT covering r11-changed code move over too (their operators
    # are unchanged since r8-r10 and keep oracle/unit coverage in-lane
    # via their query families)
    "test_oracle_parity[q78_incremental_dedup]",        # 13.7
    "test_oracle_parity[q64_repetition_signals]",       # 13.3
    "test_cast_pipeline",                               # 13.1
    "test_scd2_merge_versions_and_idempotency",         # 9.4
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from elusion_spark.session import get_spark

    s = get_spark("elusion_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
