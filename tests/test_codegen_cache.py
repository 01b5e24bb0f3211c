"""Spark's codegen class cache holds what the catalog compiles.

Spark keeps the classes it compiles from generated code in one JVM-wide
cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
The benchmark's 11 catalog queries make ~142 classes a pass, so at 100 the
cache evicts in a cycle and every warm pass compiles ~126 classes again.
``session.builder`` sizes the cache for a whole catalog sweep. The cap is
a static conf, so the pass counts run in a JVM of their own."""

from __future__ import annotations

import json

from polars_fastx_spark.session import _DEFAULTS, builder
from tests.conftest import TESTDATA, run_in_fresh_session

CAP = "spark.sql.codegen.cache.maxEntries"

#: the benchmark's catalog workload (perfbench/workloads.py)
CATALOG_WORKLOAD = (
    "q_agg_tpch1", "j_inner_3way", "w_rank_topk", "o_topk",
    "g_count_distinct", "f_json_extract", "l_exact_dedup", "l_cosine_topk",
    "l_minhash_lsh", "l_simhash_neardup", "t_ewma",
)


def test_builder_carries_the_cap():
    assert int(_DEFAULTS[CAP]) > 100  # Spark's own default
    assert builder("conf", master="local[2]")._options[CAP] == _DEFAULTS[CAP]


def test_callers_cap_wins():
    options = builder("conf", master="local[2]", extra_conf={CAP: "100"})._options
    assert options[CAP] == "100"


def test_shared_session_carries_the_cap(spark):
    assert spark.sparkContext.getConf().get(CAP) == _DEFAULTS[CAP]


def test_warm_catalog_pass_compiles_nothing():
    """A second pass of the catalog workload finds every class it needs
    in the cache. At Spark's default cap it compiled ~126 of ~142."""
    snippet = f"""
        import json
        from polars_fastx_spark.catalog import QUERIES
        from tests.conftest import codegen_compiles
        passes = []
        for _ in range(2):
            before = codegen_compiles(spark)
            for q in {CATALOG_WORKLOAD!r}:
                QUERIES[q].fn(spark, {str(TESTDATA / "sf0.001")!r}).collect()
            passes.append(codegen_compiles(spark) - before)
        print(json.dumps(passes))
    """
    out = run_in_fresh_session(snippet, "codegen-cache")
    first, second = json.loads(out.strip().splitlines()[-1])
    assert first > 100, first  # more than Spark's default cap holds
    assert second == 0, second
