"""scripts/catalog_bench.py — the sentinel-normalized diff gate
(round-8 #5): two rounds of container drift flagged untouched queries;
the gate now divides every ratio by the drift factor the sentinel set
estimates, so it fires on code, not on the host."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from catalog_bench import SENTINELS, compute_regressions, sentinel_factor


def _base(n_extra: int = 10) -> dict:
    t = {s: 1.0 + 0.1 * i for i, s in enumerate(SENTINELS)}
    for i in range(n_extra):
        t[f"q_{i}"] = 2.0
    return t


def test_uniform_drift_stays_quiet():
    """A 2x-slower container (every query 2x) must flag NOTHING —
    exactly the r6/r7 false-positive class."""
    old = _base()
    new = {k: v * 2.0 for k, v in old.items()}
    factor, bad = compute_regressions(old, new)
    assert abs(factor - 2.0) < 1e-9
    assert bad == []


def test_real_regression_fires_through_drift():
    """A genuinely 4x-slower query still fires even when the whole
    container also drifted 1.5x (normalized ratio 4x > 1.5x)."""
    old = _base()
    new = {k: v * 1.5 for k, v in old.items()}
    new["q_3"] = old["q_3"] * 6.0  # 4x after drift normalization
    factor, bad = compute_regressions(old, new)
    assert abs(factor - 1.5) < 1e-9
    assert [n for n, *_ in bad] == ["q_3"]
    # and the reported time is drift-normalized
    _, t_old, t_norm = bad[0]
    assert abs(t_norm - old["q_3"] * 4.0) < 1e-9


def test_fast_container_does_not_mask_regression():
    """Container got FASTER (factor 0.5): a query that stayed flat in
    wall-clock actually regressed 2x in code terms."""
    old = _base()
    new = {k: v * 0.5 for k, v in old.items()}
    new["q_7"] = old["q_7"]  # flat wall-clock = 2x after normalizing
    factor, bad = compute_regressions(old, new)
    assert abs(factor - 0.5) < 1e-9
    assert [n for n, *_ in bad] == ["q_7"]


def test_broken_sentinels_fall_back_to_raw():
    """Fewer than 3 comparable sentinels (errored runs record -1):
    factor pins at 1.0 — never extrapolate from a broken artifact."""
    old = _base()
    new = dict(old)
    for s in list(SENTINELS)[:3]:
        new[s] = -1.0
    assert sentinel_factor(old, new) == 1.0


def test_sentinels_are_catalog_queries_and_untouched_classes():
    from polars_fastx_spark.catalog import QUERIES

    for s in SENTINELS:
        assert s in QUERIES, s
    # spanning distinct plan classes by prefix
    assert len({s.split("_")[0] for s in SENTINELS}) == 5


# ---- headline-bench normalization (round-9 #2: BENCH_r{N} carries
# the sentinel block and drift-normalized numbers, same machinery) ----


def test_bench_normalized_divides_out_drift():
    import bench

    t = {"q_a": 2.0, "q_b": 4.0}
    assert bench.normalized(t, 2.0) == {"q_a": 1.0, "q_b": 2.0}
    # degenerate factor never divides by zero / negative
    assert bench.normalized(t, 0.0) == t
    assert bench.normalized(t, -3.0) == t


def test_bench_previous_sentinels_picks_latest_with_block(tmp_path):
    import json

    import bench

    (tmp_path / "BENCH_r07.json").write_text(json.dumps({"value": 1}))
    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps({"value": 1, "sentinels": {"p_filter_project": 0.5}})
    )
    (tmp_path / "BENCH_r09.json").write_text("{not json")
    name, sent = bench.previous_sentinels(tmp_path)
    assert name == "BENCH_r08"
    assert sent == {"p_filter_project": 0.5}
    # no sentinel-bearing artifact at all -> baseline round
    for p in tmp_path.glob("BENCH_r*.json"):
        p.unlink()
    assert bench.previous_sentinels(tmp_path) == (None, {})


def test_bench_previous_sentinels_skips_other_core_count(tmp_path):
    """A direct-run artifact (bench.py's own JSON line, with its
    ``cpus``) is a drift reference only for runs at the same core count."""
    import json

    import bench

    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps({"sentinels": {"p_filter_project": 0.5}, "cpus": "4"})
    )
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"sentinels": {"p_filter_project": 0.9}, "cpus": "8"})
    )
    assert bench.previous_sentinels(tmp_path, cpus="4")[0] == "BENCH_r08"
    assert bench.previous_sentinels(tmp_path, cpus="8")[0] == "BENCH_r09"
    assert bench.previous_sentinels(tmp_path, cpus="32") == (None, {})


def test_bench_suite_and_sentinels_disjoint():
    """The drift estimate must come from queries the headline suite
    does not itself time (a suite regression would otherwise shift
    its own normalizer)."""
    import bench

    assert not set(SENTINELS) & set(bench.SUITE.values())
