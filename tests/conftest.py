from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXTURES = Path(__file__).parent / "fixtures"
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


#: one JVM class-initialization line of ``-Xlog:class+init=info``
_CLASS_INIT = re.compile(r"Initializing '([^']+)'")


def run_in_fresh_session(snippet: str, app: str,
                         conf: dict[str, str] | None = None) -> str:
    """Run ``snippet`` in a fresh Python process, with ``spark`` bound to
    a new ``local[1]`` session from ``session.builder`` (UI off, plus
    ``conf``), and return what it printed. Static confs such as the
    codegen cache cap act only in a JVM launched this way."""
    conf = {"spark.ui.enabled": "false", **(conf or {})}
    program = (
        "from polars_fastx_spark.session import builder\n"
        f"spark = builder({app!r}, master='local[1]', extra_conf={conf!r})"
        ".getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"{textwrap.dedent(snippet)}\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", program], capture_output=True, text=True,
        timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def jvm_initialized_classes(snippet: str, workdir: Path) -> set[str]:
    """Run ``snippet`` in a fresh session (``run_in_fresh_session``) and
    return the classes its JVM initialized (``org/apache/...`` names, as
    the JVM logs them).

    It counts instead of timing: a class whose static initializer is
    expensive shows up here whatever the machine's load. The JVM writes
    its ``-Xlog:class+init=info`` log under ``workdir``."""
    log = Path(workdir) / "class-init.log"
    run_in_fresh_session(snippet, "class-init", {
        "spark.driver.extraJavaOptions": f"-Xlog:class+init=info:file={log}",
    })
    return set(_CLASS_INIT.findall(log.read_text()))


def codegen_compiles(spark) -> int:
    """Classes the session's JVM has compiled from generated code so far
    (whole-stage, projection, ordering...): every compile that missed
    Spark's codegen class cache. A count, so it holds under any load."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def spark():
    from polars_fastx_spark.session import builder

    s = (
        builder("polars_fastx_spark-tests", master="local[8]",
                extra_conf={"spark.sql.shuffle.partitions": "8",
                            "spark.ui.enabled": "false",
                            # one session serves ~240 tests incl. plan
                            # sweeps over the full 159-query catalog;
                            # broadcast/checkpoint blocks accumulate
                            # between GCs and the 1g default heap OOMs
                            # mid-suite. Periodic GC keeps the context
                            # cleaner's reference queue draining.
                            # 6g OOM'd once at minute ~35 of the full
                            # tier (heap exhausted building a plan
                            # string during localCheckpoint in the
                            # crawl e2e tests); 8g gives the shared
                            # session headroom for the full -m "" run
                            "spark.driver.memory": "8g",
                            "spark.cleaner.periodicGC.interval": "1min"})
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def persistent_rdd_ids(spark):
    """Callable returning the ids of the RDDs the session holds in
    storage (``SparkContext.getPersistentRDDs``): every cache and every
    local checkpoint not yet released."""

    def _ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    return _ids


@pytest.fixture(scope="session")
def sf001(spark):
    """sf0.001 testdata views registered on the session."""
    from polars_fastx_spark.session import load_tables

    return load_tables(spark, str(TESTDATA / "sf0.001"))


# ------------------------------------------------------------- fast tier
#: Tests measured >= 5 s wall clock on local[8] (full-suite
#: --durations profile). pytest.ini deselects them by default so the
#: default `pytest tests/` run (the automated verify window) finishes
#: in ~10-14 min instead of ~46; `pytest tests/ -m ""` runs everything
#: (the builder's pre-commit gate). Curated, not automatic: every
#: module keeps a fast smoke subset (see the per-module counts in
#: OPTIMIZATION_r10.md), and a renamed test FAILS OPEN — it runs in the
#: fast tier until re-listed here.
SLOW_TESTS = {
    "test_ann_index.py::test_build_if_absent_after_compact_is_noop",
    "test_ann_index.py::test_empty_id_edge_cases",
    "test_ann_index.py::test_index_sync_from_index_float_vectors_no_spurious_changes",
    "test_ann_index.py::test_redelivered_pinned_epoch_add_is_idempotent",
    "test_bgzf.py::test_bgzf_fasta_scan_splits_and_matches_whole",
    "test_charset.py::test_decode_payloads_on_streaming_warc",
    "test_codegen_cache.py::test_warm_catalog_pass_compiles_nothing",
    "test_containment_index.py::test_add_extends_history_without_reshingling",
    "test_containment_index.py::test_compact_applies_tombstones_physically",
    "test_containment_index.py::test_compaction_preserves_gate_results",
    "test_containment_index.py::test_delete_then_readd_revives",
    "test_containment_index.py::test_maintained_df_cap_cuts_hot_shingles",
    "test_containment_index.py::test_stream_containment_gate_end_to_end",
    "test_dedup_recall.py::test_containment_hashed_shingles_match_strings",
    "test_epochs.py::test_compaction_converges_after_a_crash_at_every_mutation",
    "test_dedup_recall.py::test_lsh_collapse_preserves_components",
    "test_graph.py::test_iterative_loops_do_not_leak_storage",
    "test_multimodal.py::test_image_neardup_gate_grows_like_text_gate",
    "test_opt_r09.py::test_pq_dim_hint_is_identity",
    "test_pq.py::test_ivfpq_prunes_to_probed_cells",
    "test_pq.py::test_pq_codes_shape_and_range",
    "test_pq.py::test_pq_training_reduces_reconstruction_error",
    "test_sampling.py::test_weighted_take_weight_proportional",
    "test_sitemaps.py::test_recrawl_schedule_politeness_cap",
    "test_streaming.py::test_stream_containment_gate_fresh_checkpoint_never_overwrites",
    "test_streaming.py::test_streaming_composes_with_seq_functions",
    "test_streaming.py::test_streaming_ewma_matches_batch_operator",
    "test_streaming.py::test_update_mode_reemits_growing_windows",
    "test_streaming.py::test_watermark_drops_late_rows",
    "test_streaming.py::test_windowed_quantiles_kll",
    "test_timeseries.py::test_backfill_rollup_day_touches_one_partition",
    "test_urls.py::test_domain_cap_null_domain_rows_are_capped",
    "test_warc_html.py::test_stream_warc_ingests_new_archives_and_resumes",
    "test_warc_html.py::test_streaming_crawl_pipeline_dedups_canonical_urls",
    "test_ann_index.py::test_build_if_absent_reuses_complete_rebuilds_partial",
    "test_ann_index.py::test_compact_applies_tombstones_and_drops_them",
    "test_ann_index.py::test_crashed_add_epoch_is_reused_on_retry",
    "test_ann_index.py::test_delete_hides_and_readd_revives",
    "test_ann_index.py::test_drift_stats_flag_distribution_shift",
    "test_ann_index.py::test_filtered_search_composes_with_tombstones",
    "test_ann_index.py::test_filtered_search_prefilters_candidates",
    "test_ann_index.py::test_incremental_add_equals_rebuild",
    "test_ann_index.py::test_index_compact_folds_epochs_search_unchanged",
    "test_ann_index.py::test_index_recall_report",
    "test_ann_index.py::test_index_sync_from_index_matches_two_snapshot_sync",
    "test_ann_index.py::test_index_sync_pays_only_for_changes",
    "test_ann_index.py::test_persisted_search_matches_in_query_ivfpq",
    "test_ann_index.py::test_rebuild_into_used_path_starts_clean",
    "test_ann_index.py::test_retrain_after_crashed_swap_uses_callers_corpus",
    "test_ann_index.py::test_retrain_does_not_resurrect_deletions",
    "test_ann_index.py::test_retrain_restores_recall_and_distortion",
    "test_ann_index.py::test_retrain_swap_survives_midswap_crash",
    "test_ann_index.py::test_search_many_matches_single_query_search",
    "test_ann_index.py::test_search_spans_epochs_and_stats_count_them",
    "test_ann_index.py::test_upsert_replaces_vector_without_doubling",
    "test_bpe.py::test_bpe_random_corpora_match_python_reference",
    "test_catalog_contract.py::test_every_oracle_query_matches_column_names",
    "test_charset.py::test_crawl_to_corpus_recovers_planted_legacy_pages",
    "test_containment_index.py::test_compact_tombstone_midswap_crash_recovers",
    "test_containment_index.py::test_delete_equals_index_built_without",
    "test_containment_index.py::test_gate_epoch_retry_is_idempotent",
    "test_dedup_recall.py::test_lsh_bucket_cap_preserves_components",
    "test_dedup_recall.py::test_lsh_collapse_identical_flood_is_linear",
    "test_driver_contract.py::test_ensure_conf_applies_engine_tuning_on_bare_session",
    "test_driver_contract.py::test_entry_and_queries_on_vanilla_session",
    "test_fastx_source.py::test_fasta_stats_starts_only_the_worker_daemon",
    "test_seq_functions.py::test_fasta_stats_on_ascii_skips_the_icu_case_mapper",
    "test_daemon.py::test_fasta_stats_over_unix_domain_sockets",
    "test_daemon.py::test_local_workers_import_the_package_from_any_cwd",
    "test_zipcache.py::test_installed_before_a_workers_first_call",
    "test_gopher.py::test_crawl_to_corpus_quality_tier",
    "test_html_dom.py::test_crawl_to_corpus_dom_extractors",
    "test_linkgraph.py::test_pagerank_warm_start_same_fixed_point",
    "test_plans.py::test_no_row_at_a_time_python_in_catalog",
    "test_plans.py::test_whole_catalog_avoids_cartesian",
    "test_pq.py::test_ivfpq_recall_on_clustered_data",
    "test_randomized_differential.py::test_kmv_random_sets_match_python_reference",
    "test_rangejoin_chunk.py::test_kmeans_recovers_separated_clusters",
    "test_similarity.py::test_blocked_knn_multi_block_at_8k_vectors",
    "test_sinks_pruning.py::test_compact_recovery_completes_stage_despite_smaller_upto",
    "test_streaming.py::test_applyinpandaswithstate_running_totals",
    "test_streaming.py::test_fastx_stream_follows_directory",
    "test_streaming.py::test_neardup_gate_compaction_bounds_epoch_count",
    "test_streaming.py::test_neardup_gate_compaction_recovers_interrupted_swap",
    "test_streaming.py::test_session_window_late_data_golden_states",
    "test_streaming.py::test_sliding_counts_stream",
    "test_streaming.py::test_stateful_op_runs_on_rocksdb_state_store",
    "test_streaming.py::test_stream_fetch_frontier_paces_across_batches",
    "test_streaming.py::test_stream_fetch_frontier_retry_is_idempotent",
    "test_streaming.py::test_stream_index_add_fresh_checkpoint_never_overwrites",
    "test_streaming.py::test_stream_index_add_grows_persisted_ann_index",
    "test_streaming.py::test_stream_index_add_monitors_drift_and_policy_retrains",
    "test_streaming.py::test_stream_media_neardup_gate_grows_index",
    "test_streaming.py::test_stream_neardup_gate_epoch_retry_is_idempotent",
    "test_streaming.py::test_stream_stream_join",
    "test_urls.py::test_domain_cap_keeps_at_most_n_deterministically",
    "test_warc_encodings.py::test_crawl_quarantines_undecodable_bodies",
    "test_warc_html.py::test_crawl_to_corpus_containment_tier_and_timings",
    "test_warc_html.py::test_crawl_to_corpus_front_door",
    "test_warc_html.py::test_crawl_to_corpus_holds_no_cache_after_it_returns",
    "test_warc_html.py::test_crawl_to_corpus_posthoc_robots_gate",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # originalname drops a "[param]" suffix, so a listed test that
        # gains parametrization stays in the slow tier
        key = f"{item.fspath.basename}::{item.originalname}"
        if key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
