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
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

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
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


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
