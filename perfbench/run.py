"""One benchmark for the FASTX pipeline and the catalog.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Load model: a closed loop with one
client; one driver thread issues one action at a time against
``local[N]``, N = min(4, cores available). A pass runs the workload's
operation list once. The run:

1. builds the workload's inputs and expected answers from the seed
   (cached per seed under ``.perfbench/``; never timed);
2. sets up ``SETUPS`` times, each time starting the session and
   registering the inputs: the first set-up also launches the JVM and is
   reported as ``first_setup_s`` (what a one-shot user pays); the others
   restart the session in the same JVM, and the median of all is
   ``setup_s``. The last session stays up for the passes;
3. runs one cold pass, then warm passes until ``--seconds`` have gone
   and at least the workload's ``min_warm`` have run, checking every
   operation's output after each pass;
4. with ``--trace 1``, runs one warm-up pass and then the warm passes
   in pairs of one untraced and one traced pass instead, and (FASTX
   workloads) the pipeline one layer at a time; it reports the
   per-layer metrics and writes the spans under ``.perfbench/traces/``.

Every session setting is the engine's ``session.builder`` default
except the master, the Spark UI and console progress bar (off), the
workers' ``PYTHONPATH`` (the repository, so executors can unpickle
``polars_fastx_spark``) and the scratch directories (inside the
checkout).

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
report with the run's context (seed, N, versions, load flag, samples).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
SETUPS = 3
_MB = 1024 * 1024
KEEP_SEEDS = 3  # cached inputs kept per workload kind
MIN_PAIRS = 2  # untraced/traced pass pairs of a traced run, in ABBA order


def _load(path: Path) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _prune_cache(cache: Path, keep: int) -> None:
    """Keep the ``keep`` newest cached inputs of each kind."""
    kinds: dict[str, list[Path]] = {}
    for d in cache.iterdir():
        kinds.setdefault(d.name.rsplit("-seed", 1)[0], []).append(d)
    for dirs in kinds.values():
        for d in sorted(dirs, key=lambda p: p.stat().st_mtime)[:-keep]:
            shutil.rmtree(d, ignore_errors=True)


class Session:
    """The engine session, started with the benchmark's few settings,
    and the JVM it launched (stopped and waited for by :meth:`close`)."""

    def __init__(self, n_cores: int):
        self.n = n_cores
        self.spark = None
        self._old = []  # stopped sessions stay referenced: see start()

    def _conf(self) -> dict[str, str]:
        tmp = WORK / "tmp"
        return {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def start(self) -> float:
        """Stop the current session (if any) and start a new one, which
        launches the JVM the first time; return the seconds
        ``getOrCreate`` took. Stopped sessions are kept referenced so a
        new session never reuses a dead one's ``id()``, which the fastx
        source uses to remember its registration."""
        from polars_fastx_spark.session import builder

        if self.spark is not None:
            self.spark.stop()
            self._old.append(self.spark)
        t0 = time.perf_counter()
        self.spark = builder(
            "perfbench", master=f"local[{self.n}]", extra_conf=self._conf()
        ).getOrCreate()
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, shut the JVM down and wait until it ends."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_pass(wl, ops, tracer=None, pass_id=None) -> tuple[float, list]:
    """One pass: every operation once, in order. Returns (seconds,
    [(name, result or exception, seconds)]); nothing is checked inside
    the timing."""
    results = []
    outer = tracer.span("pass", "pass", pass_id, spark_jobs=False) if tracer else nullcontext()
    t0 = time.perf_counter()
    with outer:
        for name, fn in ops:
            inner = tracer.span(name, wl.layer, pass_id) if tracer else nullcontext()
            t_op = time.perf_counter()
            try:
                with inner:
                    res = fn()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                res = e
            results.append((name, res, time.perf_counter() - t_op))
    return time.perf_counter() - t0, results


def check_pass(wl, results) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) for one pass's results."""
    failed, problems = 0, []
    for name, res, _ in results:
        if isinstance(res, Exception):
            bad = [f"{name}: {type(res).__name__}: {str(res)[:300]}"]
        else:
            try:
                bad = wl.check(name, res)
            except Exception as e:  # noqa: BLE001 - a broken output is a failure
                bad = [f"{name}: check raised {type(e).__name__}: {e}"]
        if bad:
            failed += 1
            problems += bad
    return len(results), failed, problems


def per_layer(bench: dict, wl, tracer, setups, traced, untraced, probed) -> dict:
    """Every per-layer metric; layers this workload never calls did no
    work in it and read 0."""
    from spans import median

    values = {m["name"]: 0.0 for m in bench["per_layer"]}
    values["session.start_s"] = median([s[0] for s in setups])
    values.update(probed)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["pass"] != "probe" and "counters" in s:
            by_name.setdefault(s["name"], []).append(s)
    if "fasta_stats" in by_name:
        spans = by_name["fasta_stats"]
        values["pipeline.fasta_stats_s"] = median([s["end"] - s["start"] for s in spans])
        values["pipeline.jobs"] = median([s["counters"]["jobs"] for s in spans])
    fields = ("jobs", "task_s", "gc_s", "shuffle_write_mb", "spill_mb", "arrow_mb", "driver_s")
    for q in getattr(wl, "queries", ()):
        spans = by_name.get(q, [])
        if not spans:
            continue
        values[f"catalog.{q}.s"] = median([s["end"] - s["start"] for s in spans])
        for f in fields:
            values[f"catalog.{q}.{f}"] = median([s["counters"][f] for s in spans])
    values["spark.failed_tasks"] = sum(
        s["counters"]["failed_tasks"] for s in tracer.spans if "counters" in s
    )
    # pair i is untraced[i] and traced[i], run back to back
    values["trace.overhead_s"] = median([t - u for t, u in zip(traced, untraced)])
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description="FASTX pipeline and catalog benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(HERE), str(ROOT)]
    t_import = time.perf_counter()
    try:  # the program and the oracle helpers come from the checkout
        import polars_fastx_spark  # noqa: F401
        import pyspark
        import tests.oracle_utils  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t_import
    import spans as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench = _load(ROOT / "BENCHMARK.json")
    design = _load(HERE / "design.json")
    for d in ("cache", "tmp", "spark-local", "traces", "out"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    n_cores = min(4, len(os.sched_getaffinity(0)))

    wl = WORKLOADS[args.workload]()
    wl.prepare(args.seed, str(WORK / "cache"), str(WORK))
    _prune_cache(WORK / "cache", KEEP_SEEDS)

    session = Session(n_cores)
    attempted = failed = 0
    problems: list[str] = []
    calib: list[float] = []
    try:
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            start_s = session.start()
            wl.register(session.spark)
            setups.append((start_s, time.perf_counter() - t0))
        spark = session.spark
        ops = wl.operations(spark)

        op_times: dict[str, list[float]] = {}

        def record(results, warm_pass=False):
            nonlocal attempted, failed
            if warm_pass:
                for name, _, took in results:
                    op_times.setdefault(name, []).append(took)
            a, f, p = check_pass(wl, results)
            attempted, failed = attempted + a, failed + f
            problems.extend(p)

        with tr.MemorySampler(session.jvm_pid()) as mem:

            def probe():
                # the sampler's /proc walk would take the GIL from the probe
                mem.active = False
                calib.append(tr.calibration_probe())
                mem.active = True

            probe()
            cold, results = run_pass(wl, ops)
            record(results)
            probe()
            warm: list[float] = []
            warm_jvm_cpu: list[float] = []
            traced: list[float] = []
            tracer = tr.Tracer(spark, wl.name) if args.trace else None

            def warm_pass(trace: bool) -> None:
                if trace:
                    took, results = run_pass(wl, ops, tracer, len(traced))
                    traced.append(took)
                    record(results)
                    return
                cpu0 = tr.cpu_seconds(session.jvm_pid())
                took, results = run_pass(wl, ops)
                warm_jvm_cpu.append(tr.cpu_seconds(session.jvm_pid()) - cpu0)
                warm.append(took)
                record(results, warm_pass=True)

            t_end = time.perf_counter() + args.seconds
            if args.trace:
                # the first warm pass is still much slower than the rest,
                # so it belongs to neither kind; after it the order flips
                # every pair (untraced first, then traced first): passes
                # keep speeding up as the JIT compiles, and in ABBA order
                # neither kind gains from that
                record(run_pass(wl, ops)[1])
                probe()
                while (len(traced) < MIN_PAIRS or len(traced) % 2
                       or time.perf_counter() < t_end):
                    for trace in (False, True) if len(traced) % 2 == 0 else (True, False):
                        warm_pass(trace)
                    probe()
            else:
                while len(warm) < wl.min_warm or time.perf_counter() < t_end:
                    warm_pass(False)
                    probe()
            mem.active = False
            if args.trace:
                tracer.collect()
                layer_values = (
                    wl.layer_probe(spark, tracer, n_cores)
                    if hasattr(wl, "layer_probe") else {}
                )
        calib_spread = (max(calib) - min(calib)) / tr.median(calib)
        report = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "n_cores": n_cores, "nproc": os.cpu_count(),
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "import_s": import_s, "session_start_samples_s": [s[0] for s in setups],
            "setup_samples_s": [s[1] for s in setups],
            "cold_pass_s": cold, "warm_pass_samples_s": warm,
            "warm_pass_jvm_cpu_s": warm_jvm_cpu,
            "warm_op_median_s": {k: tr.median(v) for k, v in op_times.items()},
            "peak_pss_mb": {k: v / _MB for k, v in mem.peak.items()},
            "kbases_per_s": (wl.bases / 1000 / tr.median(warm)) if wl.bases else None,
            "failed_frac": failed / attempted,
            "calibration_s": calib, "calibration_median_s": tr.median(calib),
            "calibration_spread": calib_spread,
            "load_suspect": calib_spread > design["load_suspect_spread"],
            "problems": problems[:20],
        }
        if args.trace:
            layers = per_layer(bench, wl, tracer, setups, traced, warm, layer_values)
            span_file = WORK / "traces" / f"{wl.name}-seed{args.seed}.json"
            tracer.write(str(span_file), {
                "seed": args.seed, "n_cores": n_cores,
                "untraced_pass_s": warm, "traced_pass_s": traced,
            })
            report["span_file"] = str(span_file.relative_to(ROOT))
            report["traced_pass_samples_s"] = traced
            from trace_summary import summarize

            print(summarize(json.loads(span_file.read_text())))
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        else:
            metrics = {
                "setup_s": {"value": tr.median([s[1] for s in setups]), "unit": "s"},
                "first_setup_s": {"value": setups[0][1], "unit": "s"},
                "cold_pass_s": {"value": cold, "unit": "s"},
                "pass_s": {"value": tr.median(warm), "unit": "s"},
                "worker_pss_mb": {"value": mem.peak["workers"] / _MB, "unit": "MB"},
            }
    finally:
        session.close()

    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
