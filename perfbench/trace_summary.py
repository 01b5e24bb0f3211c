"""Summarize the span files a traced run writes.

    python3 perfbench/trace_summary.py .perfbench/traces/*.json

For each workload: self time per layer (a span's duration minus the
part its child spans cover), the status-store counters summed per
layer, and the tracing overhead: the median, over the run's pairs of
one untraced and one traced pass run back to back, of traced minus
untraced. Layer-probe spans (the FASTX pipeline run one layer at
a time) are reported apart from the passes.
"""

from __future__ import annotations

import json
import statistics
import sys

COUNTERS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb",
            "arrow_mb", "driver_s", "failed_tasks")


def summarize(doc: dict) -> str:
    rows: dict[tuple[str, str], dict] = {}
    for s in doc["spans"]:
        kind = "probe" if s["pass"] == "probe" else "passes"
        r = rows.setdefault((kind, s["layer"]), {"self_s": 0.0, "spans": 0})
        r["self_s"] += s["self_s"]
        r["spans"] += 1
        for k in COUNTERS:
            r[k] = r.get(k, 0) + s.get("counters", {}).get(k, 0)
    untraced = statistics.median(doc["untraced_pass_s"])
    traced = statistics.median(doc["traced_pass_s"])
    overhead = statistics.median(
        t - u for t, u in zip(doc["traced_pass_s"], doc["untraced_pass_s"])
    )
    lines = [
        f"trace summary: workload={doc['workload']} seed={doc['seed']} "
        f"local[{doc['n_cores']}]",
        f"  pass_s untraced={untraced:.3f} traced={traced:.3f} "
        f"overhead={overhead:+.3f} s ({overhead / untraced:+.1%})",
        "  " + f"{'spans':7s}{'layer':10s}{'n':>4s}{'self_s':>9s}"
        + "".join(f"{k:>17s}" for k in COUNTERS),
    ]
    for (kind, layer), r in sorted(rows.items()):
        lines.append(
            "  " + f"{kind:7s}{layer:10s}{r['spans']:4d}{r['self_s']:9.3f}"
            + "".join(f"{r[k]:17.3f}" for k in COUNTERS)
        )
    return "\n".join(lines)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    for p in paths:
        with open(p) as fh:
            print(summarize(json.load(fh)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
