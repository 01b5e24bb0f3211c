"""Round-10 optimization pins — each test pins an internal the r10
changes rely on, so a future edit that silently breaks the invariant
fails CI instead of regressing a query.

1. SimHash scalar-fold restructure (operators/dedup.py): null-text
   signatures stay NULL (the scalar folds would otherwise yield null
   ELEMENTS -> an all-zero signature -> the banding join would stop
   excluding null-text docs), and golden signatures pin the
   bit-identity of the getbit/word formulation for BOTH families
   (verified identical to the pre-change code via an old-tree
   differential when authored).
2. ivf_centroids (operators/similarity.py): the factored-out lazy
   centroid frame must stay row-identical to what ivf_assign's
   returned centroids produce — ivfpq_topk and the ANN index build
   collect it ONCE and feed assignment/probe/write from the literal.
3. Assignment parity: routing assignment through ivf_assign_to with
   the collected literal table equals ivf_assign's own assignment
   (the r10 ivfpq_topk/index_build path).
4. tests/conftest.py SLOW_TESTS hygiene: every listed nodeid resolves
   to a real test (the runtime marker deliberately fails open; this
   keeps the list from rotting), and a listed test keeps its marker
   once parametrized.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from polars_fastx_spark.operators import dedup


def test_simhash_null_text_keeps_null_signature(spark):
    df = spark.createDataFrame(
        [(0, None), (1, "a b"), (2, "")], "doc_id long, text string"
    )
    for fam in ("md5", "xxhash64"):
        rows = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", dedup.simhash("text", family=fam).alias("s")
            ).collect()
        }
        assert rows[0] is None, fam          # null text -> null signature
        assert rows[1] is not None and len(rows[1]) == 64, fam
        # empty text tokenizes to [""] and carries a real signature
        assert rows[2] is not None and set(rows[2]) <= {0, 1}, fam


def test_simhash_golden_signatures_both_families(spark):
    """Golden bits captured from the pre-r10 expression tree (verified
    byte-identical across the restructure with an old-tree
    differential): pins that the two-word getbit formulation keeps the
    exact md5-nibble / xxhash64-getbit bit order."""
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "single")],
        "doc_id long, text string",
    )
    golden = {
        "md5": {
            0: "0000111111010100001111001111100011001101100010110110011011001110",
            1: "1101110101011100000001110000001101101111001010010111010111111111",
        },
        "xxhash64": {
            0: "0100101100000101110100101010110001110111110001000010011101101001",
            1: "0100010100111000100100100100110010001000101110101000001100101010",
        },
    }
    for fam, want in golden.items():
        rows = df.select(
            "doc_id", dedup.simhash("text", family=fam).alias("s")
        ).collect()
        for r in rows:
            assert "".join(str(b) for b in r.s) == want[r.doc_id], fam


def _vec_df(spark, n=40, dim=8):
    import hashlib

    rows = []
    for i in range(n):
        h = hashlib.md5(f"v{i}".encode()).digest()
        rows.append((i, [float(b) / 255.0 for b in h[:dim]]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_ivf_centroids_matches_ivf_assign_centroids(spark):
    from polars_fastx_spark.operators import similarity as sim

    df = _vec_df(spark)
    _, cents = sim.ivf_assign(df, "vec_id", "v", num_cells=4)
    lazy = sim.ivf_centroids(df, "vec_id", "v", num_cells=4)
    a = sorted((r.cell, tuple(r.centroid_vec), r.centroid_norm)
               for r in cents.collect())
    b = sorted((r.cell, tuple(r.centroid_vec), r.centroid_norm)
               for r in lazy.collect())
    assert a == b and len(a) == 4


def test_assign_to_literal_centroids_equals_ivf_assign(spark):
    """The r10 ivfpq/index-build path: collect ivf_centroids once,
    assign via ivf_assign_to over the literal table — must reproduce
    ivf_assign's own assignment exactly (struct-max tie-break is
    deterministic)."""
    from polars_fastx_spark.operators import similarity as sim

    df = _vec_df(spark)
    assigned_ref, _ = sim.ivf_assign(df, "vec_id", "v", num_cells=4)
    lazy = sim.ivf_centroids(df, "vec_id", "v", num_cells=4)
    rows = lazy.collect()
    lit = spark.createDataFrame(rows, lazy.schema)
    assigned_lit = sim.ivf_assign_to(df, "vec_id", "v", lit)
    a = sorted((r["__id"], r["cell"]) for r in assigned_ref.collect())
    b = sorted((r["__id"], r["cell"]) for r in assigned_lit.collect())
    assert a == b


def test_slow_tests_list_resolves_to_real_tests():
    from tests.conftest import SLOW_TESTS

    tdir = Path(__file__).parent
    stale = []
    for entry in SLOW_TESTS:
        fname, test = entry.split("::", 1)
        p = tdir / fname
        if not p.exists() or f"def {test}(" not in p.read_text():
            stale.append(entry)
    assert not stale, f"SLOW_TESTS entries no longer resolve: {stale}"


def test_slow_marker_survives_parametrization():
    from types import SimpleNamespace

    from tests.conftest import SLOW_TESTS, pytest_collection_modifyitems

    fname, test = sorted(SLOW_TESTS)[0].split("::", 1)
    marked = []

    def item(originalname):
        return SimpleNamespace(
            fspath=SimpleNamespace(basename=fname),
            name=f"{originalname}[p0]", originalname=originalname,
            add_marker=lambda m: marked.append((originalname, m.name)),
        )

    pytest_collection_modifyitems(None, [item(test), item("test_not_listed")])
    assert marked == [(test, "slow")]
