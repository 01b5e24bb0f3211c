"""SparkSession builder with the engine's documented defaults.

Defaults are chosen for oracle parity (SURVEY.md §4.4) and 100 TB posture
(SURVEY.md §4.3):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — events files that
  carry INT64 TIMESTAMP(NANOS) (one generation of the driver testdata
  did) would otherwise make Spark 4 refuse the read; with the flag that
  generation arrives as bigint ns-since-epoch. Current testdata ships
  plain TIMESTAMP(MICROS); ``normalize_events_ts`` canonicalizes either
  shape to the engine's bigint-ns clock so queries are generation-proof.
- ANSI mode stays on (Spark 4 default) — overflow/div-by-zero raise like
  the DuckDB oracle; expressions that may divide by zero must guard with
  ``nullif``/``try_divide`` explicitly (e.g. gc_content of an empty
  sequence).
- AQE on (default) — runtime coalescing/skew-join handling; this is the
  knob that makes the same plans survive a 100× scale-up without
  hand-tuned partition counts.
- Arrow enabled for pandas interchange — every Python-side operator in
  this engine uses Arrow-batched pandas UDFs, never row-at-a-time UDFs.

Cache lifecycle: a cache an operator makes for its own use is released
by construction, never by a hand-written ``unpersist``. One block holds
a frame with ``persisted``; an eager operator runs in a ``cache_scope``,
which releases every frame cached through ``persist`` /
``local_checkpoint`` inside it (nested operators too), raised or not,
except the one it hands out with ``keep``. Outside any scope those
frames stay cached, which is how lazily returned frames (the MinHash
band table, ``read_fastx``, the MMR picks) keep their cache.
``tests/test_cache_lifecycle.py`` checks that no other module calls
``persist``/``cache``/``localCheckpoint`` directly.
"""

from __future__ import annotations

import os
import threading
import weakref
from contextlib import contextmanager

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

_DEFAULTS: dict[str, str] = {
    # events.parquet has INT64 TIMESTAMP(NANOS) — see SURVEY.md §4.4.1.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Explicit even though they are Spark 4 defaults: the engine's
    # correctness contract depends on them.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-optimize (esp. coalesce) stages that feed or read
    # CACHED plans — off by default, which pins every persisted frame
    # to the static shuffle width. The iterative operators (connected
    # components, pagerank, k-means) persist each round, so without
    # this their per-round shuffles keep full width no matter how tiny
    # the label table is: measured 2x on the dedup-closure queries at
    # sf0.1. Explicit-width repartitions (blocked gemm's
    # repartition(n, col), ensure_min_parallelism) are never coalesced,
    # and nothing in the engine depends on implicit partition ids.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for all pandas UDF / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let Python data sources (the fastx scan) receive pushed filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Local testing runs single-node; on a real cluster this should track
    # cluster cores (AQE coalesces down, so erring high is safe).
    "spark.sql.shuffle.partitions": "32",
    # Scan splits sized for the LOCAL posture: the test tables are single
    # ~10 MB parquet files, which at Spark's 128 MB default scan on ONE
    # core and serialize every downstream row-local stage (measured: the
    # 8-token-window fan-out over sf0.1 documents drops 4.1 s -> 0.9 s on
    # 32 threads). A 100 TB deployment gets the same work/core ratio for
    # free from its many 128 MB row groups and should RAISE this back
    # (SPARK_GRAFT_MAX_PARTITION_BYTES=128m in spark-env, or extra_conf)
    # so task count stays bounded.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"
    ),
    "spark.sql.files.openCostInBytes": "1m",
    # Session timezone pinned so timestamp formatting is deterministic
    # against the oracle regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # One BLAS thread per Python worker: Spark owns the parallelism
    # (one task per core), so an unpinned OpenBLAS/OMP pool spawns its
    # own threads PER WORKER on top of it and the blocked-gemm fan-out
    # oversubscribes the box cores×N (the standard pin for BLAS-inside-
    # tasks; guide §4.5 once-per-task posture). On THIS sandbox the
    # effect is mild — numpy's OpenBLAS is built MAX_THREADS=2, so the
    # pin halves worker thread count and measures neutral (the
    # single-cell q_vec_knn gemm is ~10 ms either way) — but a
    # full-width BLAS build (MAX_THREADS=cores, the common wheel) would
    # thrash 32 tasks × 32 threads without it. Workers read these from
    # the executor env at fork, before numpy loads.
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
}


def builder(app_name: str = "polars_fastx_spark", master: str | None = None,
            extra_conf: dict[str, str] | None = None) -> SparkSession.Builder:
    """Return a SparkSession.Builder carrying the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real cluster, leave it
    unset and spark-submit decides.
    """
    b = SparkSession.builder.appName(app_name)
    # Under spark-submit the driver JVM already exists (it launches this
    # python process and exports the gateway port) and carries the
    # submitted --master; forcing local[] there would silently pull a
    # cluster job onto the driver. Only default the master for
    # self-launched (no-gateway) processes with no explicit override.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        b = b.master(master)
    if master and master.startswith("local"):
        # In local mode the driver JVM IS the executor; Spark's 1g
        # default heap starves 32 concurrent tasks (~19 MB of unified
        # memory each — measured OOM on a 50k-doc LSH pass in the scale
        # probe). On a real cluster spark-submit sizes executors; here
        # the builder must. Only effective at JVM creation — a
        # getOrCreate() onto a live session keeps its heap.
        b = b.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    conf = {**_DEFAULTS, **(extra_conf or {})}
    if master and (master == "local" or master.startswith("local[")):
        conf = _local_conf(conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b


#: the directory this package is imported from
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def _local_conf(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` with the local-mode worker settings: the package's worker
    daemon (``_daemon``) unless the caller names one, and the package's
    parent directory in front of the workers' ``PYTHONPATH``, so they
    import the driver's copy whatever their working directory. A site
    directory is not added: workers import from it anyway, and on
    ``PYTHONPATH`` it would come before the standard library."""
    import site

    conf = {"spark.python.daemon.module": "polars_fastx_spark._daemon", **conf}
    sites = [*site.getsitepackages(), site.getusersitepackages()]
    caller = conf.get(_WORKER_PATH)
    if (os.path.realpath(_PACKAGE_PARENT)
            not in {os.path.realpath(p) for p in sites}
            and _PACKAGE_PARENT not in (caller or "").split(os.pathsep)):
        conf[_WORKER_PATH] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, caller) if p
        )
    return conf


def get_spark(app_name: str = "polars_fastx_spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Get or create the engine's SparkSession."""
    return builder(app_name, extra_conf=extra_conf).getOrCreate()


#: session -> names of the Python data sources registered on it. Weak
#: keys, so a new session that reuses a collected session's ``id()`` is
#: not mistaken for it.
_DATA_SOURCES: weakref.WeakKeyDictionary[SparkSession, set[str]] = (
    weakref.WeakKeyDictionary()
)


def register_data_source(spark: SparkSession, source: type) -> None:
    """Register a Python data source class on ``spark`` once."""
    names = _DATA_SOURCES.setdefault(spark, set())
    if source.name() not in names:
        spark.dataSource.register(source)
        names.add(source.name())


#: per thread, as foreachBatch bodies run on their own: the open cache
#: scopes, innermost last, each the frames it releases on exit
_SCOPES = threading.local()
#: frames made by ``local_checkpoint``: ``release`` frees the blocks of
#: these only, never of a checkpoint the caller made
_CHECKPOINTS: weakref.WeakSet[DataFrame] = weakref.WeakSet()


def _open_scopes() -> list[list[DataFrame]]:
    return _SCOPES.__dict__.setdefault("stack", [])


def _hold(df: DataFrame) -> DataFrame:
    scopes = _open_scopes()
    if scopes:
        scopes[-1].append(df)
    return df


def _forget(df: DataFrame) -> None:
    for held in _open_scopes():
        held[:] = [h for h in held if h is not df]


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the enclosing scope closes."""
    return _hold(df.persist())


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, released when the enclosing scope
    closes. Eager ones go through a cache of ``df``, so the checkpoint
    keeps its measured size, not an estimate, for join planning."""
    if eager:
        with persisted(df) as cached:
            ck = cached.localCheckpoint(eager=True)
    else:
        ck = df.localCheckpoint(eager=False)
    _CHECKPOINTS.add(ck)
    return _hold(ck)


def release(*dfs: DataFrame | None) -> None:
    """Unpersist each frame (``None`` is skipped) and free a
    ``local_checkpoint`` frame's blocks, which ``unpersist()`` leaves in
    executor storage. Only once nothing live recomputes through it."""
    for df in (d for d in dfs if d is not None):
        _forget(df)
        df.unpersist()
        if df in _CHECKPOINTS:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def keep(df: DataFrame) -> DataFrame:
    """Hand ``df`` out of the innermost scope to the one around it, or
    outside every scope to the caller, who then holds it cached."""
    _forget(df)
    scopes = _open_scopes()
    if len(scopes) > 1:
        scopes[-2].append(df)
    return df


@contextmanager
def cache_scope():
    """Release every frame cached through ``persist`` /
    ``local_checkpoint`` in the block, and not kept, when it exits."""
    held: list[DataFrame] = []
    scopes = _open_scopes()
    scopes.append(held)
    try:
        yield
    finally:
        scopes.pop()  # scopes nest, so the innermost is ours
        release(*held)


@contextmanager
def persisted(df: DataFrame):
    """Persist ``df`` for the ``with`` block; release it on exit."""
    with cache_scope():
        yield persist(df)


def release_on_terminate(query, *dfs: DataFrame) -> None:
    """Release ``dfs`` once the streaming ``query`` has ended (stopped,
    finished or failed), also when it ended before this call."""
    def _wait() -> None:
        try:
            query.awaitTermination()
        except StreamingQueryException:
            pass  # a failed query has ended too; its error is the caller's
        finally:
            release(*dfs)

    threading.Thread(target=_wait, daemon=True).start()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def normalize_events_ts(df):
    """Canonicalize ``events.ts`` to bigint nanoseconds since epoch.

    The driver testdata has shipped ``ts`` both as INT64 TIMESTAMP(NANOS)
    (arrives as bigint ns under ``nanosAsLong``) and as TIMESTAMP(MICROS)
    (arrives as timestamp_ntz). Everything downstream — interval joins,
    time buckets, the µs-derived ``ts_us`` — assumes one integer clock,
    so map whichever shape arrives onto bigint ns. The ntz wall-clock
    is UTC by construction, so the epoch offset is computed with an
    ntz-anchored ``timestampdiff`` — no session-timezone dependence
    (a caller-provided session with a non-UTC zone would silently
    shift a ``cast(.. as timestamp)``-based conversion).
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        return df
    return df.withColumn(
        "ts",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " CAST(ts AS TIMESTAMP_NTZ))"
        )
        * F.lit(1000),
    )


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = (
                    "region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings",
                )) -> dict[str, "object"]:
    """Load the driver testdata parquet tables and register temp views.

    Returns {name: DataFrame}. Missing files are skipped (sf dirs may not
    all carry every table).
    """
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events":
                df = normalize_events_ts(df)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
