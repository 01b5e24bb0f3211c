"""Cache lifecycle: every cache an operator makes for itself is released
through ``polars_fastx_spark.session`` (``persisted`` / ``cache_scope`` /
``release`` / ``release_on_terminate``), raised or not."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

PKG = Path(__file__).resolve().parent.parent / "polars_fastx_spark"

#: direct cache calls allowed outside session.py, per file. None are
#: left: a frame returned lazily (the blocked-kNN self-join blocks, the
#: MMR pool and picks, read_fastx's cache, l_leakage_audit's pairs) is
#: cached through the helpers too, stays cached outside any scope, and
#: is released with an enclosing ``cache_scope``.
_LAZY_RETURN_SITES: dict[str, int] = {}
#: a frame's own cache methods; ``session.persist(...)`` is the helper
_DIRECT_CACHE_CALL = re.compile(
    r"(?<!session)\.(?:persist|unpersist|localCheckpoint)\("
    r"|\.cache\(\)|_release_checkpoint"
)


def test_caches_go_through_the_session_helpers():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        n = len(_DIRECT_CACHE_CALL.findall(path.read_text()))
        if n:
            found[rel] = n
    assert found == _LAZY_RETURN_SITES


def test_cache_scope_releases_on_raise_and_keep_hands_a_frame_out(
    spark, persistent_rdd_ids
):
    from polars_fastx_spark.session import (
        cache_scope,
        keep,
        local_checkpoint,
        persist,
        persisted,
    )

    before = persistent_rdd_ids()
    with pytest.raises(ZeroDivisionError):
        with cache_scope():
            cached = persist(spark.range(10))
            assert cached.count() == 10
            local_checkpoint(spark.range(5))
            1 / 0
    assert not cached.is_cached
    assert not persistent_rdd_ids() - before

    with pytest.raises(ZeroDivisionError):
        with persisted(spark.range(3)) as held:
            held.count()
            1 / 0
    assert not held.is_cached

    with cache_scope():
        with cache_scope():
            kept = keep(local_checkpoint(spark.range(7)))
        # the inner scope handed it out: still readable here
        assert persistent_rdd_ids() - before
        assert kept.count() == 7
    assert not persistent_rdd_ids() - before


def test_lazily_returned_caches_follow_the_enclosing_scope(
    spark, persistent_rdd_ids
):
    """``read_fastx``'s cache and ``mmr_rerank``'s checkpoints stay
    while their scope is open and are freed when it closes."""
    from polars_fastx_spark.operators.retrieval import mmr_rerank
    from polars_fastx_spark.session import cache_scope
    from polars_fastx_spark.sources.fastx import read_fastx
    from tests.conftest import FIXTURES

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    before = persistent_rdd_ids()
    with cache_scope():
        reads = read_fastx(spark, str(FIXTURES / "basic.fasta"))
        picks = mmr_rerank(emb, "vec_id", "embedding", [0, 1], k=3)
        assert reads.is_cached
        assert picks.count() == 6
        assert persistent_rdd_ids() - before
    assert not reads.is_cached
    assert not persistent_rdd_ids() - before


def test_pagerank_releases_its_tables_when_the_loop_raises(
    spark, persistent_rdd_ids
):
    from polars_fastx_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    before = persistent_rdd_ids()
    # a string damping fails in the first round, after edges, nodes,
    # ed and dangling_nodes are cached
    with pytest.raises(TypeError):
        pagerank(edges, damping="0.85")
    assert not persistent_rdd_ids() - before


def test_connected_components_releases_everything_when_it_raises(
    spark, persistent_rdd_ids
):
    from polars_fastx_spark.operators.graph import connected_components

    chain = spark.range(40).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    before = persistent_rdd_ids()
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(chain, max_iterations=1)
    assert not persistent_rdd_ids() - before


def test_cc_string_path_holds_no_more_storage_than_the_integral_path(
    spark, persistent_rdd_ids, monkeypatch
):
    """The string-id path used to hold the edge projection (``ein``)
    for the whole loop; now both paths drop it at their first
    materialization, so each round holds the same tables."""
    from polars_fastx_spark.operators.graph import connected_components

    held_per_round: list[int] = []
    frame_type = type(spark.range(1))
    checkpoint = frame_type.localCheckpoint

    def _counting_checkpoint(self, *args, **kwargs):
        held_per_round.append(len(persistent_rdd_ids() - before))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", _counting_checkpoint)
    ids = spark.range(16).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    strings = ids.select(
        F.format_string("n%03d", "id_a").alias("id_a"),
        F.format_string("n%03d", "id_b").alias("id_b"),
    )
    held = []
    for edges in (ids, strings):
        before = persistent_rdd_ids()
        held_per_round.clear()
        connected_components(edges)
        held.append(held_per_round[1:3])
    assert len(held[0]) == 2
    assert held[1] == held[0]
