from __future__ import annotations

import duckdb
import pytest

from big_data_hadoop_spark.session import get_spark
from big_data_hadoop_spark.sources.io import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup (sf0.01)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_smoke():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def golden_lines(spark):
    """FIXTURES.md §B golden corpus — reference worked examples + edges."""
    rows = [
        (0, "I am in A group of 3 20 year adults with Weight 2.5.5"),
        (1, "i study In 1 luxembourg"),
        (2, "i am 20"),
        (3, "i Am a boy"),
        (4, "i am good"),
        (5, "foo  bar baz"),
        (6, "- _ -- a-b_c"),
        (7, "3. +4 -5 1.25 12 3"),
        (8, "the cat the cat the"),
        (9, "x y z x y z"),
        (10, "solo"),
        (11, "A B C"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# Slow tier (VERDICT r12 item 7): the full battery (~47 min) outruns the
# verification driver's pytest window, so the default run deselects the
# measured slow end — every test above ~8.5 s in the round-13 full-suite
# timing (--durations=80), ~22 min of wall clock, mostly store-lifecycle /
# streaming-drain / property batteries. ``pytest tests/`` therefore
# finishes inside the window (pytest.ini pins ``-m "not slowtier"``);
# the FULL battery stays one flag away: ``pytest tests/ -m ""`` — the
# builder's closing runs use it. Node ids are matched on the
# param-stripped test id; a renamed test simply rejoins the default tier
# (fail-safe: slower, never less checked at close).
_SLOWTIER_IDS = {
    "tests/test_asof.py::test_asof_join_matches_pandas_merge_asof",
    "tests/test_bfs.py::test_bfs_matches_python",
    "tests/test_cli.py::test_cli_embedding_store_rebuild_and_audit",
    "tests/test_cli.py::test_cli_fingerprint_store_simhash_lifecycle",
    "tests/test_cli.py::test_cli_ingest_incremental",
    "tests/test_cli.py::test_cli_neardup_graph_refresh_honors_meta_columns",
    "tests/test_clusters.py::test_star_converges_in_log_rounds_on_10k_chain",
    "tests/test_clusters.py::test_stats_hook_reports_log_rounds",
    "tests/test_copurchase.py::test_copurchase_feeds_weighted_pagerank",
    "tests/test_crossengine_fuzz.py::test_corpus_profile_agrees_with_duckdb_on_random_text",
    "tests/test_crossengine_fuzz.py::test_curation_gate_agrees_with_duckdb_on_random_text",
    "tests/test_crossengine_fuzz.py::test_token_counts_agree_with_duckdb_on_random_text",
    "tests/test_crossengine_fuzz.py::test_token_stats_and_fingerprint_agree_with_duckdb",
    "tests/test_edit_distance.py::test_matches_duckdb_on_documents_with_twins",
    "tests/test_embedding_store.py::test_check_cells_store_matches_greedy_oracle",
    "tests/test_embedding_store.py::test_greedy_property_random_batches",
    "tests/test_embedding_store.py::test_hot_cell_valve",
    "tests/test_embedding_store.py::test_rebuild_changes_check_cells_row_identical_to_fresh_build",
    "tests/test_embedding_store.py::test_rebuild_row_identical_to_fresh_build",
    "tests/test_embedding_store.py::test_recall_audit_measures_planted_cross_cell_miss",
    "tests/test_embedding_store.py::test_recall_sweep_books_equal_single_p_audits",
    "tests/test_embedding_store.py::test_refusals_and_validation",
    "tests/test_embedding_store.py::test_streaming_sink_health_log_equals_sequential_control",
    "tests/test_empty_inputs.py::test_round5_operators_empty",
    "tests/test_empty_inputs.py::test_round6_operators_empty",
    "tests/test_fingerprint_store.py::test_matches_read_path",
    "tests/test_framehash_store.py::test_greedy_property_random_batches",
    "tests/test_framehash_store.py::test_refusals_and_validation",
    "tests/test_framehash_store.py::test_streaming_sink_health_log_equals_sequential_control",
    "tests/test_io_formats.py::test_incremental_commit_never_collects_manifest",
    "tests/test_io_formats.py::test_incremental_legacy_manifest_upgrades_cleanly",
    "tests/test_io_formats.py::test_incremental_legacy_null_mtime_backfilled_on_commit",
    "tests/test_io_formats.py::test_incremental_read_picks_up_only_new_files",
    "tests/test_io_formats.py::test_incremental_read_reprocesses_changed_length",
    "tests/test_io_formats.py::test_incremental_read_reprocesses_same_length_overwrite",
    "tests/test_io_formats.py::test_read_parquet_evolving_merges_schemas",
    "tests/test_ivf_index.py::test_lsh_multi_table_backcompat_and_monotone_recall",
    "tests/test_ivf_index.py::test_topk_recall_audit_books",
    "tests/test_label_propagation.py::test_lpa_matches_python_rule",
    "tests/test_label_propagation.py::test_wlpa_matches_python_rule",
    "tests/test_layout.py::test_bloom_null_values_excluded",
    "tests/test_neardup_graph.py::test_graph_consumers_run_off_loaded_table",
    "tests/test_pagerank.py::test_directed_matches_numpy_with_dangling",
    "tests/test_pagerank.py::test_null_endpoints_dropped_mass_conserved",
    "tests/test_pagerank.py::test_personalized_matches_numpy",
    "tests/test_pagerank.py::test_weighted_matches_numpy",
    "tests/test_pagerank.py::test_weighted_raw_validation_and_selfloop_parity",
    "tests/test_plans.py::test_no_cartesian_products_anywhere",
    "tests/test_plans.py::test_no_row_wise_python_anywhere",
    "tests/test_pq.py::test_ivfpq_save_load_roundtrip_both_modes",
    "tests/test_properties.py::test_bpe_roundtrip_property",
    "tests/test_properties.py::test_canonical_url_idempotent",
    "tests/test_properties.py::test_dedup_lines_equals_python_reference",
    "tests/test_properties.py::test_materialize_packs_equals_python_greedy",
    "tests/test_properties.py::test_pairs_m1_equals_stripes_flattened",
    "tests/test_properties.py::test_salted_counts_equal_plain",
    "tests/test_properties.py::test_split_partition_and_atomicity_property",
    "tests/test_properties.py::test_stripe_mass_equals_pair_mass",
    "tests/test_properties.py::test_topk_is_prefix_of_full_sort",
    "tests/test_properties.py::test_window_m_is_union_of_distances",
    "tests/test_properties.py::test_winnow_pairs_equal_python_reference",
    "tests/test_properties_graph_ts.py::test_triangles_match_bruteforce",
    "tests/test_semantic_dedup.py::test_zero_norm_vectors_never_pair",
    "tests/test_session_agg.py::test_session_agg_streams_and_equals_batch_when_drained",
    "tests/test_shared_stores.py::test_graph_probes_equal_consumers_off_loaded_store",
    "tests/test_sketches.py::test_streaming_agg_state_checkpoint_reset_not_suppressed",
    "tests/test_sketches.py::test_streaming_cms_equals_batch",
    "tests/test_streaming.py::test_reconcile_flags_inplace_overwrite_not_appends",
    "tests/test_streaming.py::test_streaming_dedup_state_survives_restart",
    "tests/test_streaming.py::test_streaming_funnel_drained_equals_batch",
    "tests/test_streaming.py::test_streaming_interval_join_inner_equals_batch",
    "tests/test_streaming.py::test_streaming_interval_join_left_outer_flushes_after_watermark",
    "tests/test_streaming.py::test_streaming_pair_counts_equals_batch_when_drained",
    "tests/test_streaming.py::test_streaming_sessionize_equals_batch_when_drained",
    "tests/test_streaming.py::test_streaming_upsert_cdc_equals_latest_per_key",
    "tests/test_streaming.py::test_streaming_upsert_guards",
    "tests/test_train_hashed.py::test_l2_shrinks_weights",
    "tests/test_train_hashed.py::test_trained_model_matches_numpy_replication",
    "tests/test_train_hashed.py::test_trained_model_separates_and_scores_udf_free",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.nodeid.split("[", 1)[0]
        if base in _SLOWTIER_IDS:
            item.add_marker(pytest.mark.slowtier)


def pytest_terminal_summary(terminalreporter):
    """Make the default slowtier deselection visible after every run."""
    n = sum(
        1
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slowtier")
    )
    if n:
        terminalreporter.write_line(
            f"{n} slowtier test(s) deselected by pytest.ini; run the "
            'full battery with: pytest tests/ -m ""'
        )
