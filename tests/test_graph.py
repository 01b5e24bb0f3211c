"""Connected components (dup-group clustering) — hand-built graphs."""

from __future__ import annotations

import pytest

from polars_fastx_spark.operators.graph import (
    connected_components,
    duplicate_groups_from_pairs,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2-3-4 chain: candidates never compared 1 vs 4 directly, but the
    # component must still unify (the reason pair→group needs CC at all)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components(spark):
    got = _cc(spark, [(1, 2), (5, 6), (6, 7), (10, 11)])
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5, 10: 10, 11: 10}


def test_dense_clique(spark):
    edges = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0} and len(got) == 20


def test_groups_rollup(spark):
    df = spark.createDataFrame([(3, 7), (7, 9), (20, 21)], ["id_a", "id_b"])
    groups = {
        r["component"]: (r["group_size"], list(r["members"]))
        for r in duplicate_groups_from_pairs(df).collect()
    }
    assert groups == {3: (3, [3, 7, 9]), 20: (2, [20, 21])}


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(30)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(df, max_iterations=2)


def test_pagerank_matches_dense_power_iteration(spark):
    from polars_fastx_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
         ("c", "e")],  # e is dangling (no out-edges)
        "src string, dst string",
    )
    got = {r.node: r.rank for r in pagerank(edges, iterations=12).collect()}

    import numpy as np
    nodes = sorted(got)
    idx = {v: i for i, v in enumerate(nodes)}
    n, d = len(nodes), 0.85
    out = {"a": 2, "b": 1, "c": 2, "d": 1, "e": 0}
    M = np.zeros((n, n))
    for s, t in [("a","b"),("a","c"),("b","c"),("c","a"),("d","c"),("c","e")]:
        M[idx[t], idx[s]] = 1.0 / out[s]
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        dangling = r[idx["e"]]
        r = (1 - d) / n + d * (M @ r) + d * dangling / n
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_cc_long_chain_converges_logarithmically(spark):
    """Pointer doubling: a 400-edge chain (diameter 400) must converge
    well inside the default 20 rounds — O(log d), not O(d)."""
    from polars_fastx_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "id_a long, id_b long"
    )
    cc = connected_components(chain, max_iterations=20)
    comps = {r.component for r in cc.collect()}
    assert comps == {0}
    assert cc.count() == 401


# ------------------------------------------------------------ triangles

def test_triangle_count_k4(spark):
    from polars_fastx_spark.operators.graph import triangle_count

    # K4: every vertex sits in C(3,2) = 3 triangles
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["vertex"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_path_has_none(spark):
    from polars_fastx_spark.operators.graph import triangle_count

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    assert triangle_count(df).count() == 0


def test_triangle_count_two_sharing_an_edge(spark):
    from polars_fastx_spark.operators.graph import triangle_count

    # triangles {0,1,2} and {1,2,3} share edge (1,2)
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "u long, v long"
    )
    got = {r["vertex"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 3: 1}


def test_iterative_loops_do_not_leak_storage(spark, persistent_rdd_ids):
    """Each checkpoint round must release the previous round's blocks:
    DataFrame.unpersist() does NOT free localCheckpoint storage, so
    without explicit release a 20-round run piles 20 materialized
    tables into executor memory."""
    from pyspark.sql import functions as F

    from polars_fastx_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    # a 2000-node chain forces many pointer-doubling rounds
    edges = spark.range(1999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    before = persistent_rdd_ids()
    cc = connected_components(edges)
    assert cc.filter(F.col("component") != 0).count() == 0
    leaked = persistent_rdd_ids() - before
    assert len(leaked) <= 2, leaked  # returned checkpoint only

    # 8 rounds: a checkpoint at round 5, then cached rounds 6-8
    before = persistent_rdd_ids()
    pr = pagerank(edges, "id_a", "id_b", iterations=8)
    assert abs(pr.agg(F.sum("rank")).first()[0] - 1.0) < 1e-9
    leaked = persistent_rdd_ids() - before
    assert len(leaked) <= 2, leaked


def test_pagerank_empty_edges_returns_empty_frame(spark):
    from polars_fastx_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(edges)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_cc_string_ids_match_numeric_twin(spark):
    # string node ids take the join-based convergence path (no exact
    # sum over strings); the grouping must match the numeric twin,
    # which converges on the Σcomponent scan instead
    edges = [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 10)]
    numeric = _cc(spark, edges)
    df = spark.createDataFrame(
        [(f"n{a:04d}", f"n{b:04d}") for a, b in edges], ["id_a", "id_b"]
    )
    strings = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert strings == {
        f"n{k:04d}": f"n{v:04d}" for k, v in numeric.items()
    }


def test_pagerank_short_run_never_checkpoints_but_stays_linear(spark):
    # iterations < the checkpoint period (5): no in-loop lineage cut
    # ever fires, the regime where the old cache lifecycle recomputed
    # the whole chain per round; values must still match the dense power
    # iteration and the returned frame must be materialized (collect
    # twice — second touch must not recompute from a dropped cache)
    from polars_fastx_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "dst"]
    )
    out = pagerank(edges, iterations=3)
    first = {r["node"]: r["rank"] for r in out.collect()}
    second = {r["node"]: r["rank"] for r in out.collect()}
    assert first == second
    # dense twin
    import numpy as np

    nodes = [1, 2, 3, 4]
    idx = {n: i for i, n in enumerate(nodes)}
    out_deg = {1: 1, 2: 1, 3: 1, 4: 1}
    r = np.full(4, 0.25)
    for _ in range(3):
        contrib = np.zeros(4)
        for s, d in [(1, 2), (2, 3), (3, 1), (4, 1)]:
            contrib[idx[d]] += r[idx[s]] / out_deg[s]
        dangling = 0.0  # every node has out-edges
        r = (1 - 0.85) / 4 + 0.85 * (contrib + dangling / 4)
    for n in nodes:
        assert abs(first[n] - r[idx[n]]) < 1e-9, (n, first[n], r[idx[n]])
