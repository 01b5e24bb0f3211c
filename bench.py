#!/usr/bin/env python
"""Headline benchmark suite — mirrors the 8 baseline queries in BASELINE.md.

Runs each catalog query against $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], warm session, and
prints ONE JSON line:

    {"metric": "suite_seconds", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1,
     "sentinels": {...}, "sentinel_factor": f,
     "value_normalized": N/f, "queries_normalized": {...}}

Timing counts the full action (plan + execute + fetch) per query;
session/JVM startup and view setup are excluded, consistent with how
BASELINE.md was measured. ``value`` stays the raw headline;
``value_normalized`` divides out the container-drift factor estimated
from the 5 never-touched sentinel queries vs the latest BENCH_r*.json
that carries them (scripts/catalog_bench.py machinery) — compare
THAT round-over-round.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "scripts"))

# name → catalog entry; mirrors BASELINE.md's 8-query suite
SUITE = {
    "q_agg_tpch1": "q_agg_tpch1",
    "q_join3": "j_inner_3way",
    "q_window": "w_rank_topk",
    "q_topk": "o_topk",
    "q_distinct": "g_count_distinct",
    "q_events_json": "f_json_extract",
    "q_docs_dedup": "l_exact_dedup",
    "q_vec_knn": "l_cosine_topk",
}


def previous_sentinels(repo_dir: Path, cpus: str | None = None,
                       sf: float | None = None) -> tuple[str | None, dict]:
    """Latest committed BENCH_r*.json that carries a ``sentinels``
    block — the reference run the drift factor is computed against.
    (round label, times) or (None, {}) on the first sentinel-bearing
    round; older artifacts predate the block and are skipped (their
    drift was adjudicated manually — r6→r7 +17%, r7→r8 +22% on
    untouched code, the cost this normalization removes)."""
    for p in sorted(repo_dir.glob("BENCH_r*.json"), reverse=True):
        try:
            data = json.loads(p.read_text())
        except Exception:
            continue
        # drift is only comparable between runs at the SAME core count
        # (the driver also benches at a lower count into *_c8.json) —
        # skip artifacts whose recorded cpus differ from this run's
        ref_cpus = data.get("cpus")
        if cpus is not None and ref_cpus is not None and str(ref_cpus) != str(cpus):
            continue
        ref_sf = data.get("sf")
        if sf is not None and ref_sf is not None and float(ref_sf) != float(sf):
            continue
        # the driver's BENCH_r*.json wraps bench.py's JSON line under
        # "parsed" ({"n": .., "tail": .., "parsed": {...}}); our own
        # direct runs keep it top-level — accept either, else the
        # reference lookup silently misses and factor pins to 1.0
        for block in (data, data.get("parsed") or {}):
            sent = block.get("sentinels")
            if isinstance(sent, dict) and sent:
                return p.stem, sent
    return None, {}


def normalized(timings: dict[str, float], factor: float) -> dict[str, float]:
    """Per-query times with the container-drift factor divided out —
    the numbers to compare round-over-round; raw stays alongside."""
    if factor <= 0:
        factor = 1.0
    return {k: round(v / factor, 3) for k, v in timings.items()}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", Path(sf_dir).name)
    sf = float(m.group(1)) if m else 0.1

    from polars_fastx_spark.catalog import QUERIES
    from polars_fastx_spark.session import builder

    spark = (
        builder("polars-fastx-spark-bench", master=f"local[{cpus}]",
                extra_conf={"spark.ui.enabled": "false",
                            "spark.driver.memory": "8g",
                            # Scale-appropriate scan splits: the sf0.1
                            # tables are single ~10 MB files, which at the
                            # 128 MB default scan on ONE core. 4 MB splits
                            # spread the scan across the executor threads —
                            # the same work/core ratio a 100 TB run gets
                            # for free from its many 128 MB row groups
                            # (measured 2x suite speedup, 5x on q_agg_tpch1).
                            "spark.sql.files.maxPartitionBytes": "4m",
                            "spark.sql.files.openCostInBytes": "1m"})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM once (excluded from timings, like BASELINE.md's
    # warm-session measurement): run the same queries at sf0.001 so
    # codegen/JIT paths compile before the timed pass — first-query cost
    # is JVM warm-up, not plan cost, and would drown the sf0.1 signal.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        # two passes: the first compiles codegen, the second lets the JVM
        # JIT the compiled stages (single-pass warmup left ~0.1-0.2 s of
        # first-execution JIT noise in the per-query timings)
        for _ in range(2):
            for qname in SUITE.values():
                try:
                    QUERIES[qname].fn(spark, warm_dir).collect()
                except Exception:
                    pass
    else:
        spark.range(1).count()

    # Register the benchmark tables (schema + file index) before the
    # timed pass — the "view setup" the docstring excludes, mirroring
    # the DuckDB baseline's pre-registered views. catalog._t memoizes
    # the relation per session, so the timed queries resolve tables
    # like a metastore-backed engine instead of re-listing files.
    from polars_fastx_spark import catalog as _catalog
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            _catalog._t(spark, sf_dir, tbl)
        except Exception:
            pass

    # n=5 with full dispersion reported: the uniform +18% r4→r5 drift
    # was unattributable from a bare min — medians and maxima make an
    # environment-wide shift (all maxima move together) distinguishable
    # from a real per-query regression (one query's MIN moves).
    timings: dict[str, float] = {}
    dispersion: dict[str, dict[str, float]] = {}
    for label, qname in SUITE.items():
        fn = QUERIES[qname].fn
        runs = []
        for _ in range(5):
            t0 = time.time()
            rows = fn(spark, sf_dir).collect()
            runs.append(time.time() - t0)
            assert rows is not None
        runs.sort()
        timings[label] = round(runs[0], 3)  # headline stays min (cont.)
        dispersion[label] = {
            "min": round(runs[0], 3),
            "median": round(runs[len(runs) // 2], 3),
            "max": round(runs[-1], 3),
        }

    # Sentinel pass (r8 verdict task 2): time the same 5 never-touched
    # drift sentinels the catalog gate uses, under THIS protocol
    # (same session/conf, min-of-3), so the next round's run can
    # divide out container drift instead of adjudicating +17–22%
    # moves on untouched code by hand (r6→r7→r8). The factor here is
    # computed against the latest BENCH_r*.json that carries a
    # sentinels block; the first sentinel-bearing round records the
    # reference times with factor 1.0.
    from catalog_bench import SENTINELS, sentinel_factor

    sentinels: dict[str, float] = {}
    for qname in SENTINELS:
        fn = QUERIES[qname].fn
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            runs.append(time.time() - t0)
        sentinels[qname] = round(min(runs), 3)

    prev_round, prev_sent = previous_sentinels(_REPO, cpus=cpus, sf=sf)
    factor = sentinel_factor(prev_sent, sentinels) if prev_sent else 1.0

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "dispersion": dispersion,
        "runs_per_query": 5,
        "sentinels": sentinels,
        "sentinel_factor": round(factor, 3),
        "sentinel_reference": prev_round,
        "value_normalized": round(sum(normalized(timings, factor).values()), 3),
        "queries_normalized": normalized(timings, factor),
        "sf": sf,
        # lets previous_sentinels match a committed direct-run artifact
        # to runs at the same core count
        "cpus": cpus,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
