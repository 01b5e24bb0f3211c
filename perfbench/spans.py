"""Spans, Spark status-store counters, process-tree memory and a load probe.

A :class:`Tracer` records one span per public call the benchmark makes
into the program: name, layer, start, end, parent, workload and pass.
Each leaf span runs its Spark jobs under a job group of its own, so the
status store (live without the UI) attributes jobs, stages and SQL
executions to it. Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

_MB = 1024 * 1024
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB, "TiB": 1024 ** 2 * _MB}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _size_bytes(text: str) -> float:
    """Bytes in a formatted size metric: ``"4.2 KiB"``, or the total
    (first line after the header) of ``"total (min, med, max ...)\\n..."``."""
    line = text.split("\n", 1)[-1]
    m = _SIZE.search(line)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class StatusCounters:
    """Counters for a set of Spark jobs, read from the status stores.

    Stages are counted once, and only when they ran inside the span, so
    a shuffle stage reused (skipped) by a later job is not counted again.

    Spark's Python data source reports its worker traffic as one
    counter per JVM that only grows (each task reports the running
    total); for it the bytes of a span are the growth of that counter's
    highest reading, tracked across spans in ``_ds_seen``.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._exec_seen = 0
        self._ds_seen = 0.0
        for _, _, py in self.executions_since():  # baseline: all before now
            self._ds_seen = max(self._ds_seen, py["ds"])

    def _seq(self, scala_seq) -> list:
        return list(self._to_java(scala_seq))

    def executions_since(self) -> list[tuple[int, list[int], dict]]:
        """SQL executions recorded since the last call:
        (execution id, job ids, {metric name: bytes})."""
        total = int(self._sql.executionsCount())
        if total <= self._exec_seen:
            return []
        out = []
        for e in self._seq(self._sql.executionsList(self._exec_seen, total - self._exec_seen)):
            eid = int(e.executionId())
            jobs = [int(j) for j in self._seq(e.jobs().keys().toSeq())]
            py = {"arrow": 0.0, "ds": 0.0}
            try:
                values = self._sql.executionMetrics(eid)
                for node in self._seq(self._sql.planGraph(eid).allNodes()):
                    for m in self._seq(node.metrics()):
                        if m.name() not in _PY_METRICS:
                            continue
                        v = values.get(m.accumulatorId())
                        b = _size_bytes(v.get()) if v.isDefined() else 0.0
                        if m.metricType().startswith("v2Custom"):
                            py["ds"] = max(py["ds"], b)
                        else:
                            py["arrow"] += b
            except Exception:  # noqa: BLE001 - execution evicted: no metrics
                pass
            out.append((eid, jobs, py))
        self._exec_seen = total
        return out

    def for_groups(self, groups: list[str]) -> dict[str, dict]:
        """Counters of every job run under each job group in ``groups``,
        read together after the groups' jobs have ended."""
        out, owner = {}, {}
        for g in groups:
            out[g] = self._for_group(g)
            for j in out[g]["job_ids"]:
                owner[j] = g
        for _, ejobs, py in self.executions_since():
            g = next((owner[j] for j in ejobs if j in owner), None)
            if g is not None:
                out[g]["arrow_mb"] += py["arrow"] / _MB
                if py["ds"] > self._ds_seen:
                    out[g]["arrow_mb"] += (py["ds"] - self._ds_seen) / _MB
            self._ds_seen = max(self._ds_seen, py["ds"])
        return out

    def _for_group(self, group: str) -> dict:
        jobs = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        c = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "input_records": 0, "arrow_mb": 0.0,
            "job_ids": jobs, "job_intervals": [],
        }
        stages: dict[int, object] = {}
        first_submit = None
        for j in jobs:
            jd = self._store.job(j)
            sub = jd.submissionTime()
            done = jd.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000.0
                end = done.get().getTime() / 1000.0 if done.isDefined() else start
                c["job_intervals"].append((start, end))
                first_submit = start if first_submit is None else min(first_submit, start)
            for sid in self._seq(jd.stageIds()):
                if sid not in stages:
                    try:
                        stages[sid] = self._store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage never ran
                        pass
        for st in stages.values():
            sub = st.submissionTime()
            if not sub.isDefined() or (
                first_submit is not None and sub.get().getTime() / 1000.0 < first_submit - 0.001
            ):
                continue  # skipped here: ran (and was counted) earlier
            c["stages"] += 1
            c["tasks"] += int(st.numCompleteTasks())
            c["failed_tasks"] += int(st.numFailedTasks())
            c["task_s"] += st.executorRunTime() / 1000.0
            c["gc_s"] += st.jvmGcTime() / 1000.0
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            c["spill_mb"] += st.diskBytesSpilled() / _MB
            c["input_records"] += int(st.inputRecords())
        return c


def covered_seconds(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans around the benchmark's calls into the program.

    A span only tags its Spark jobs with a job group; the counters are
    read from the status stores by :meth:`collect`, outside the timed
    calls, so tracing adds little to the time it measures."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[dict] = []
        self.counters = StatusCounters(spark)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, pass_id, spark_jobs: bool = True):
        """Record a span; with ``spark_jobs`` its jobs get their own group."""
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "pass": pass_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if spark_jobs:
            rec["group"] = f"perfbench-{self.workload}-{sid}"
            sc.setJobGroup(rec["group"], f"{layer}:{name}")
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark_jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> None:
        """Attach status-store counters to every ended span that has a
        job group and none yet. ``driver_s`` is the span's wall time
        covered by none of its jobs."""
        todo = [s for s in self.spans if "group" in s and "counters" not in s and "end" in s]
        found = self.counters.for_groups([s["group"] for s in todo])
        for s in todo:
            c = found[s["group"]]
            intervals = c.pop("job_intervals")
            del c["job_ids"]
            c["driver_s"] = (s["end"] - s["start"]) - covered_seconds(
                intervals, s["start"], s["end"]
            )
            s["counters"] = c

    def self_seconds(self) -> dict[int, float]:
        """Span id → its duration minus the time its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - covered_seconds(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def write(self, path: str, extra: dict) -> None:
        own = self.self_seconds()
        spans = [dict(s, self_s=own[s["id"]]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, **extra, "spans": spans}, fh, indent=1)


def _children() -> dict[int, list[int]]:
    """Parent pid → child pids, for every process in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def cpu_seconds(pid: int) -> float:
    """User plus system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident memory with each shared
    page split among the processes that map it, so Python workers
    forked from one daemon are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples memory (PSS) on a background thread while ``active``:
    the whole process tree of this process, the JVM alone, and the
    Spark Python workers (every process below the JVM)."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = {"tree": 0, "jvm": 0, "workers": 0}
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> dict[str, int]:
        children = _children()
        sizes = {"tree": 0, "jvm": _pss(self.jvm_pid), "workers": 0}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            sizes["tree"] += _pss(pid)
        todo = list(children.get(self.jvm_pid, ()))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            sizes["workers"] += _pss(pid)
        return sizes

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                for k, v in self.sample().items():
                    self.peak[k] = max(self.peak[k], v)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def calibration_probe(reps: int = 8) -> float:
    """Seconds for a fixed single-thread pure-Python loop (mean of
    ``reps``, about half a second in all). A virtual CPU's speed steps
    between levels every few seconds even on an idle host; the mean
    averages over those steps the way a pass does, so a wide spread
    between probes means something else took the CPU for a while."""
    t0 = time.perf_counter()
    for _ in range(reps):
        acc = 0
        for i in range(600_000):
            acc += i * i % 7
    return (time.perf_counter() - t0) / reps


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
