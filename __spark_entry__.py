"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship TPC-H Q1-style aggregation at sf0.001.
``queries()`` — every declared operator from SURVEY.md §2, backed by
``polars_fastx_spark.catalog.QUERIES``.
``oracle_sql()`` — matching DuckDB SQL for each SQL-expressible query.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ensure_conf(spark: SparkSession) -> None:
    """Apply session-settable engine defaults on a driver-provided session.

    The driver may hand us a vanilla session. Correctness confs
    (``nanosAsLong``, UTC timezone, ANSI — SURVEY.md §4.4.1) AND the
    performance posture (shuffle partitions, AQE coalesce/skew, Arrow,
    scan split sizing) are all runtime-settable SQL confs, so the full
    engine tuning from ``session._DEFAULTS`` lands here too: on a
    vanilla 200-shuffle-partition session the iterative queries
    (pagerank, dedup closure) run ~6x slower without this.

    Keys the session reports as not modifiable act only at JVM launch
    and are skipped: the codegen class-cache cap
    (``spark.sql.codegen.cache.maxEntries``) and the worker
    ``spark.executorEnv.*`` settings. So the cap reaches only JVMs that
    ``session.builder`` launches; a driver's session keeps its own. Any
    other key that fails to apply raises.
    """
    from polars_fastx_spark.session import _DEFAULTS

    for k, v in _DEFAULTS.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_conf(spark)
    from polars_fastx_spark.catalog import QUERIES

    return QUERIES["q_agg_tpch1"].fn(spark, "/root/testdata/sf0.001")


#: never-checked queries whose driver verification carries the most
#: information this round — sampled ahead of the rest of the unchecked
#: block (which keeps catalog order). Round-3 additions lead (salted
#: skew join, fuzzy join, span dedup, DSIR, MAD outliers, triangles,
#: profiling, distinctive terms, null-safe join), then the r2 red row
#: (l_quantize_int8, now JSON-canonicalized) and the block that had no
#: driver row in any CORRECTNESS_r*.json.
_PRIORITY = [
    # round-8 additions + the queries whose oracles round 8 re-derived
    # (robots fragment/octet fixes, PSL full-host fix) lead: the
    # zero-err invariant needs their driver rows this round
    # round-9 additions lead
    "l_ce_quarantine", "l_manifest_travel", "l_gopher_multilingual",
    "l_manifest_skip", "l_lang_report", "l_recrawl_schedule",
    "l_manifest_evolve",
    "l_charset_decode", "l_gopher_gates", "l_manifest_merge",
    "l_fetch_schedule", "l_span_remove",
    "l_fingerprint", "l_lang_id", "l_token_stats",
    "l_robots_gate", "l_sitemap_seed", "l_url_normalize",
    "l_domain_cap", "l_anchor_text", "l_psl_domain",
    # round-7 additions next
    "l_crawl_rank_incr",
    # round-6 queries whose domains are now Public-Suffix-List
    # accurate (functions/psl.py) re-verify next
    "l_containment_gate", "l_ann_index_drift",
    "l_html_extract", "l_crawl_pipeline",
    "l_link_graph",
    "l_snapshot_diff", "l_snapshot_diff_summary", "l_shuffle_shards",
    "l_crawl_rank", "l_ann_index_sync", "l_diff_apply",
    "l_release_drift", "l_crawl_frontier", "l_containment_delete",
    "l_ann_index_sync_fp",
    "l_ann_index_search", "l_ann_index_add", "l_ann_index_search_many",
    "l_ann_index_stats",
    "x_sketch_kmv", "l_mmr_rerank", "l_bpe_merges", "l_bpe_encode",
    "l_random_project", "x_sketch_join_size", "l_neardup_gate", "l_hard_negatives", "x_sketch_kmv_by_key",
    "q_tpch15", "x_sketch_cms", "x_sketch_kll",
    "l_pq_topk_pinned", "l_ivfpq_topk_pinned", "l_minhash_collapse",
    "j_asof_nearest", "x_sketch_hll_exact",
    "l_lsh_bucket_cap", "l_lsh_bucket_profile", "l_bloom_decontam",
    "j_salted_skew", "j_fuzzy", "l_span_dedup", "l_dsir_sample",
    "t_mad_outliers", "l_triangles", "q_profile", "l_distinctive_terms", "j_nullsafe", "t_islands", "l_bm25_multi", "j_fuzzy2", "l_pq_topk", "l_ivfpq_topk", "l_temperature_mix", "l_winnow_fingerprint", "l_incr_dedup_perm", "u_except_all", "g_mode", "w_nth_value", "k_revcomp", "k_translate_protein", "k_longest_orf", "k_gc_skew", "k_n50",
    "l_quantize_int8", "l_rrf_hybrid", "l_group_splits", "l_pack_ffd_1p",
    "l_minhash_perm", "l_semdedup", "l_knn_per_query", "l_weighted_sample",
    "l_vocab", "l_tfidf", "l_bigram_quality", "l_source_mix", "l_novel_docs",
    "l_dedup_keep_perm", "l_incr_dedup", "l_tokenize_ids", "l_leakage_audit",
    "q_tpch5", "q_tpch6", "q_tpch10", "q_tpch13", "q_tpch14", "q_tpch18",
    "q_tpch19",
    "l_det_sample", "l_split_assign", "l_stratified_take",
    "l_stratified_sample",
    "t_ewma", "t_rollup_hier", "t_interpolate", "t_sessionize",
    "q_funnel", "l_corpus_pipeline", "x_sketch_topk",
    "q_scd2", "q_scd2_lookup",
    "j_binned_range", "j_asof_tolerance",
    "l_chunk_text", "l_chunk_tokens", "l_redact_pii",
    "q_expectations", "g_histogram", "g_string_agg", "g_corr_covar",
    "l_word_repetition", "l_centroids", "w_percent_rank",
    "u_union_evolve", "p_zorder_key", "f_bitwise",
    "l_pack_ffd", "x_sketch_hll",
]


#: queries whose SEMANTICS or oracle changed this round: their old
#: green rows no longer certify the current code, so they re-enter
#: the unchecked tier regardless of CORRECTNESS history. Reset each
#: round to the round's blast radius.
_RECHECK = {
    # round 9: BOM precedence over the HTTP header (fixture grew the
    # BOM-vs-conflicting-header lane, m%6 -> m%7 reshuffles every
    # lane), span surgery scoped to whitespace-tokenizable docs
    # (oracle regenerated with the unseg passthrough gate), and the
    # null-safe robots_gate semi-join (gate consumers re-sampled)
    "l_charset_decode", "l_span_remove",
    "l_robots_gate", "l_crawl_pipeline",
    # round 9: lang_id's Latin tier extended to 11 languages and its
    # fixture regrown to 12 planted lanes — the old green row
    # certifies neither
    "l_lang_id",
}


def _coverage_order(names: list[str]) -> list[str]:
    """Order queries so the driver's per-round sample (~50) lands on
    queries that do NOT yet have a green row in any committed
    CORRECTNESS_r*.json — never-checked (or red/err) queries first
    (priority list, then catalog order), then the already-green ones.
    Across rounds this converges to a green driver row for every
    catalog query. Queries in ``_RECHECK`` (semantics changed this
    round) always sort with the unchecked tier.
    """
    import json

    green: set[str] = set()
    for p in sorted(Path(_REPO).glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(p.read_text())
        except Exception:
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                green.add(name)
    green -= _RECHECK
    prio = {n: i for i, n in enumerate(_PRIORITY)}
    unchecked = [n for n in names if n not in green]
    unchecked.sort(key=lambda n: prio.get(n, len(prio)))  # stable: catalog order within tiers
    return unchecked + [n for n in names if n in green]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered
    never-driver-checked first (see :func:`_coverage_order`).

    Queries with no DuckDB oracle (iterative k-means training,
    partition-parallel FFD fold, opaque HLL registers) are NOT
    exported: under the driver protocol an oracle-less row records as
    ``err: no_oracle`` even though nothing is broken. Each has a
    driver-green pinned/exact companion in the catalog that IS
    exported (``l_pq_topk_pinned``, ``l_ivfpq_topk_pinned``,
    ``l_pack_ffd_1p``, ``x_sketch_hll_exact``); the oracle-less forms
    remain first-class API covered by pytest (recall bounds,
    differential vs naive references, three-scale SELFCHECK).
    """
    from polars_fastx_spark.catalog import QUERIES

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_conf(spark)
            return fn(spark, sf_dir)

        return run

    exported = [n for n in QUERIES if QUERIES[n].oracle is not None]
    return {
        name: _wrap(QUERIES[name].fn)
        for name in _coverage_order(exported)
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    from polars_fastx_spark.catalog import QUERIES

    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }
