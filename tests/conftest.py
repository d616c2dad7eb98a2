import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_db_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running tests (sf0.1-scale fixtures, restart storms)"
    )


#: Fast-tier exclusion list (round-13 verdict item 8): every test that
#: read ≥ ~7.5 s in the round-14 full-suite duration profile — streaming
#: processAllAvailable waits, restart/replay storms, multi-fit k-means
#: families, and the two harness end-to-end runs. Marked centrally here
#: (one list, re-derivable from `pytest --durations`) instead of 40
#: scattered decorators; a handful of tests also carry an inline
#: @pytest.mark.slow where the cost is structural.
#:   fast tier:  python -m pytest tests/ -q -m "not slow"   (< 5 min)
#:   full suite: python -m pytest tests/ -q                 (~20-30 min)
_SLOW_TESTS = {
    "test_ann_recall_regression_sf01",
    "test_bench_harness_runs_and_emits_json",
    "test_bfs_broadcast_degrade_path_matches",
    "test_bfs_levels",
    "test_bpe_fit_local_and_distributed_paths_equal",
    "test_bpe_greedy_batched_fit_cuts_jobs",
    "test_checkpoint_and_replay_suffix",
    "test_checkpoint_false_hatch_result_equivalence",
    "test_compact_log",
    "test_connected_components_star_matches_naive",
    "test_crash_between_commits",
    "test_engine_matches_sequential_model",
    "test_iterative_loops_release_checkpoint_blocks",
    "test_ivfpq_contract",
    "test_kmeans_sampled_fit_contract",
    "test_load_falls_back_to_archived_checkpoint",
    "test_load_skips_unreadable_checkpoint",
    "test_lsh_near_dup_recall_matches_exact",
    "test_persisted_registry_queries_have_no_build_stage",
    "test_pipelined_client_equivalence_and_batching",
    "test_registry_outputs_are_scalar",
    "test_remote_equivalent_to_local_session",
    "test_remove",
    "test_remove_target",
    "test_replay_across_runs",
    "test_restart_equivalence_random_updates",
    "test_semantic_dedup_default_entry_point",
    "test_semantic_dedup_hier_matches_exact_mostly",
    "test_semantic_dedup_tree_generalizes_exact_and_hier",
    "test_set_value_reindexes",
    "test_stats",
    "test_stream_apply_wal",
    "test_stream_crash_recovery_equals_sequential_replay",
    "test_stream_dedup_builtin_claim_lag_bounds_rows_state",
    "test_stream_dedup_near_banded_builtin_matches_python_route",
    "test_stream_dedup_near_banded_state_expires_with_watermark",
    "test_stream_durable_epochs_serve_bucketed_persisted_route",
    "test_walk_chains_server_side_single_round_trip",
    # second tier (≥ ~5.5 s each) — trimmed to bring the fast tier under
    # 5 minutes; all remain in the full suite
    "test_set_value_reindexes_src_referencing_specs",
    "test_simhash_wide_signatures_prefix_compatible",
    "test_bpe_greedy_cap1_equals_sequential_fit",
    "test_simhash_banded_no_cross_product",
    "test_persisted_tpch_snapshot_traversal_steady_state",
    "test_incremental_dedup_persisted_matches_recompute",
    "test_pca_power_scores_finds_dominant_direction",
    "test_stream_dedup_near_banded_matches_batch_lsh",
    "test_time_travel_versions",
    "test_emission_copartition_equals_broadcast",
    "test_ivfpq_residual_recall_beats_raw",
    # round-15 additions (~18-30 s each) — keep the fast tier under 5 min
    "test_ivfpq_residual_persisted_equals_inquery",
    "test_hard_negative_mining_finds_cross_label_neighbors",
    "test_cluster_best_quality_keeps_best_member_not_min_id",
}


def pytest_collection_modifyitems(config, items):
    matched = set()
    for item in items:
        base = item.name.split("[")[0]
        if base in _SLOW_TESTS:
            matched.add(base)
            item.add_marker(pytest.mark.slow)
    # A renamed/deleted slow test silently no-ops its _SLOW_TESTS entry
    # (and its renamed successor silently lands in the fast tier, eroding
    # the <5-min guarantee). Only meaningful on full collection — a
    # targeted `pytest tests/test_x.py` run legitimately collects few.
    leftovers = _SLOW_TESTS - matched
    if leftovers and len(items) > 100:
        import warnings

        warnings.warn(
            f"_SLOW_TESTS entries matched no collected test (stale after a "
            f"rename/delete?): {sorted(leftovers)}",
            stacklevel=1,
        )


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS") or os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="graph_db_spark_tests", cpus=cpus, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
