#!/usr/bin/env python
"""Time EVERY catalog query (Spark side only) and write a structured
artifact, so long-tail regressions are diffable round-over-round
instead of only the 8-query headline in bench.py.

Each query runs once after one warm-up of the session (a per-query
min-of-N at 240+ queries would cost more wall-clock than it buys
precision — the purpose is regression DIFFING, not absolute
benchmarking). So every query is timed cold for its own generated
code: one sweep compiles ~3.1k distinct classes, each once, and they
all fit the session's codegen class cache (``session.builder`` sizes
it at 4096; Spark's default of 100 held only the last few queries'
classes). The JIT is shared across queries.

Usage: python scripts/catalog_bench.py [sf_dir] [out.json]
Defaults: /root/testdata/sf0.1  BENCH_catalog_rN.json (N from env
SPARK_GRAFT_ROUND or 'x').

Output: {"sf_dir": ..., "total_seconds": N, "queries": {name: sec},
"sentinel_factor": f}
Compare two artifacts:
    python scripts/catalog_bench.py --diff old.json new.json
prints queries slower by >1.5x and >0.3s AFTER dividing out the
container-drift factor estimated from the sentinel set (below).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

#: the drift sentinels: stable, never-touched core-relational queries
#: spanning plan classes (scan+filter, shuffle join, aggregate,
#: window, pure expression). Their round-over-round ratio estimates
#: the CONTAINER's speed change — code changes never touch them — and
#: the diff gate divides every ratio by the sentinel median before
#: applying its 1.5x threshold, so the gate fires on code, not on the
#: host. Two consecutive rounds of adjudication effort (r6/r7: median
#: drift 1.11x flagged six untouched queries) motivated this.
SENTINELS = (
    "p_filter_project",
    "j_left_outer",
    "g_histogram",
    "w_nth_value",
    "f_bitwise",
)


def sentinel_factor(old: dict, new: dict) -> float:
    """Median new/old ratio over the sentinel set — the estimated
    container drift. 1.0 when fewer than 3 sentinels are comparable
    (never extrapolate from a broken artifact)."""
    ratios = [
        new[s] / old[s]
        for s in SENTINELS
        if old.get(s, 0) > 0 and new.get(s, 0) > 0
    ]
    if len(ratios) < 3:
        return 1.0
    return statistics.median(ratios)


def compute_regressions(
    old: dict, new: dict, ratio: float = 1.5, floor: float = 0.3
) -> tuple[float, list[tuple[str, float, float]]]:
    """(sentinel factor, [(name, old_s, drift-normalized new_s)]) —
    a query flags when its DRIFT-NORMALIZED time exceeds both the
    ratio threshold and the absolute floor over its old time."""
    factor = sentinel_factor(old, new)
    bad = []
    for name, t_new in sorted(new.items()):
        t_old = old.get(name)
        if t_old is None or t_old <= 0 or t_new <= 0:
            continue
        t_norm = t_new / factor
        if t_norm > t_old * ratio and t_norm - t_old > floor:
            bad.append((name, t_old, t_norm))
    return factor, bad


def diff(old_path: str, new_path: str) -> int:
    old = json.loads(Path(old_path).read_text())["queries"]
    new = json.loads(Path(new_path).read_text())["queries"]
    factor, bad = compute_regressions(old, new)
    print(f"sentinel drift factor: {factor:.3f} "
          f"(ratios divided by this before the 1.5x gate)")
    for name, a, b in bad:
        print(
            f"REGRESSED {name}: {a:.2f}s -> {b:.2f}s drift-normalized "
            f"({b / a:.1f}x)"
        )
    gone = sorted(set(old) - set(new))
    if gone:
        print("removed:", ", ".join(gone))
    print(f"{len(bad)} regressions / {len(new)} queries")
    return 1 if bad else 0


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--diff":
        raise SystemExit(diff(sys.argv[2], sys.argv[3]))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "x")
    out_path = (
        sys.argv[2] if len(sys.argv) > 2 else str(_REPO / f"BENCH_catalog_r{rnd}.json")
    )

    import polars_fastx_spark as pfs
    from polars_fastx_spark.catalog import QUERIES

    spark = pfs.get_spark("catalog-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # one warm-up action so session/codegen startup isn't billed to the
    # first query
    QUERIES["o_topk"].fn(spark, sf_dir).collect()

    # ... and one Arrow + BLAS warm-up so the first query to reach the
    # pandas-UDF / numpy-gemm path isn't billed their import/JIT cost
    # either (round-6 --diff flagged 3 untouched queries purely
    # because sweep order moved which query hit these paths first)
    import pandas as _pd

    def _warm(it):
        import numpy as _np

        for batch in it:
            v = _np.ones((8, 8))
            yield _pd.DataFrame(
                {"id": batch["id"], "x": float((v @ v).sum())}
            )

    spark.range(64).repartition(32).mapInPandas(
        _warm, "id long, x double"
    ).count()

    times: dict[str, float] = {}
    prep_times: dict[str, float] = {}
    t_all = time.time()
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        try:
            # Lifecycle queries declare their one-time BUILD via
            # prepare= (VERDICT r5 'missing #4'): time it separately so
            # the per-query number measures QUERY cost and the
            # regression diff compares like with like. Shared builds
            # amortize — later queries' prepare records ~0.
            if spec.prepare is not None:
                t0 = time.time()
                spec.prepare(spark, sf_dir)
                prep_times[name] = round(time.time() - t0, 3)
            t0 = time.time()
            spec.fn(spark, sf_dir).collect()
            times[name] = round(time.time() - t0, 3)
        except Exception as exc:  # record, don't abort the sweep
            times[name] = -1.0
            print(f"ERR  {name}: {exc}", file=sys.stderr)
        ptxt = (
            f"  (+{prep_times[name]:.2f}s build)"
            if prep_times.get(name) else ""
        )
        print(f"{times[name]:8.2f}s  {name}{ptxt}")
    total = round(time.time() - t_all, 1)

    Path(out_path).write_text(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "total_seconds": total,
                "queries": times,
                "prepare_seconds": prep_times,
                "sentinels": {
                    s: times.get(s, -1.0) for s in SENTINELS
                },
            },
            indent=1,
            sort_keys=True,
        )
        + "\n"
    )
    slow = sorted(times.items(), key=lambda kv: -kv[1])[:10]
    print(f"\n{len(times)} queries in {total}s -> {out_path}")
    print("slowest:", ", ".join(f"{n}={t:.1f}s" for n, t in slow))


if __name__ == "__main__":
    main()
