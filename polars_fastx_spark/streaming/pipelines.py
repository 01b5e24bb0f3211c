"""Structured Streaming pipelines (SURVEY.md §2.9 T1-T7).

The reference's scan is already a pull-based micro-batch stream
(reference: src/polars_fastx/fastx_parsers.py:95-127 — an unbounded
generator of ≤512-row frames with consumer-driven early stop). These
pipelines generalize that capability to event-time streams, Spark-first:

- **T1** source: ``readStream`` over a parquet/json file directory —
  the cloud-native pattern (landing bucket → micro-batches). Each
  micro-batch is distributed like any batch DataFrame; nothing here is
  single-node.
- **T2** watermarks bound state: ``withWatermark(ts, delay)`` lets the
  state store evict windows/keys older than the watermark — the thing
  that makes stateful streaming survive unbounded input at 100 TB/day.
- **T3/T4/T5** windowed aggregations share the batch operators'
  semantics exactly (the catalog declares them as batch queries with
  DuckDB oracles; streaming runs the same expressions incrementally).
- **T6** stateful dedup: ``dropDuplicatesWithinWatermark`` — exact
  dedup with bounded state (keys expire past the watermark).
- **T7** sinks: append/update/complete via any ``writeStream`` format;
  ``foreachBatch`` adapter reuses the batch TSV sink for parity with
  the reference's output (fastx_parsers.py:222).

Every builder takes and returns DataFrames, so batch tests can run the
identical transformations with ``spark.read`` (the catalog does), and
streaming tests drive them with ``trigger(availableNow=True)`` + a
memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_fastx_spark import epochs
from polars_fastx_spark.epochs import next_epoch_of, stream_epoch_base
from polars_fastx_spark.session import persist, persisted, release_on_terminate

#: events-table schema for streaming reads (ts as µs-precision
#: timestamp; the ns-parquet hazard of SURVEY.md §4.4.1 applies only to
#: the driver-generated batch files, which batch queries handle via
#: nanosAsLong).
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", StringType(), True),  # ISO-8601; parsed below
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def stream_events(
    spark: SparkSession,
    path: str,
    format: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T1 — file-directory streaming source of events rows.

    ``ts`` arrives as ISO-8601 string and becomes a proper event-time
    timestamp column; late/malformed rows get a null ts and are dropped
    (they would otherwise poison the watermark).
    """
    r = spark.readStream.format(format).schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = r.load(path)
    return df.withColumn("ts", F.to_timestamp("ts")).filter(
        F.col("ts").isNotNull()
    )


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """T2+T3 — watermarked tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_distinct_users(
    events: DataFrame, width: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window DISTINCT USERS via the HLL sketch
    aggregate — the streaming unique-visitors metric. Exact
    count-distinct is not allowed in streaming aggregations (state
    would hold every key); the sketch keeps a few KB of mergeable
    state per window, the same persist-partials-merge-later shape as
    ``functions.sketches`` — and watermark eviction bounds the number
    of live windows. Estimate error <5% is pinned by the batch-twin
    test."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                "approx_users"
            ),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "approx_users",
            "n_events",
        )
    )


def windowed_quantiles(
    events: DataFrame,
    probs: list[float] | None = None,
    width: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window VALUE QUANTILES via the KLL rank
    sketch aggregate — the streaming latency-percentile metric. Exact
    percentiles are not streamable (state would hold every value); the
    KLL sketch keeps a few KB of mergeable state per window with
    ~1.7% normalized rank error, the quantile leg of the same
    bounded-state family as :func:`windowed_distinct_users` (HLL) and
    :func:`stream_cms_counts` (frequencies). Emits one column per
    requested probability (``q50``-style names, matching the batch
    ``sketches.kll_quantiles``)."""
    probs = probs or [0.5, 0.95]
    qcols = [
        F.expr(
            "kll_sketch_get_quantile_double("
            f"kll_sketch_agg_double(value), {p})"
        ).alias(f"q{round(p * 100)}")
        for p in probs
    ]
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(*qcols)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            *[f"q{round(p * 100)}" for p in probs],
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T4 — sliding-window aggregation (each row lands in width/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_value_sums(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """T5 — session windows (gap-based) per user; state evicts past the
    watermark, so per-user session state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """T6 — stateful exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key in the state store
    only until the watermark passes it — unbounded-input-safe, unlike
    plain ``dropDuplicates`` whose state grows forever.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: right rows within ``within`` AFTER the
    left row, per key.

    Both sides carry watermarks and the join condition bounds event
    time on both ends — the two requirements that let Spark evict join
    state instead of buffering both streams forever. Column names are
    prefixed l_/r_ (both sides share the events schema).
    """
    l = left.withWatermark("ts", left_watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", right_watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts > l_ts AND r_ts <= l_ts + interval {within}"
        ),
    )


def write_tsv_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """T7 — TSV sink via foreachBatch, reusing the batch sink for parity
    with the reference's TSV output (fastx_parsers.py:222).

    Each micro-batch writes a subdirectory ``batch=<id>`` — append-only,
    idempotent per batch id (foreachBatch may retry a batch; the
    overwrite-by-batch-dir makes the retry safe).
    """
    from polars_fastx_spark.sources.sinks import stringify_nested

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            stringify_nested(batch_df)
            .write.mode("overwrite")
            .option("sep", "\t")
            .option("header", True)
            .option("escape", '"')
            .csv(f"{path}/batch={batch_id}")
        )

    w = df.writeStream.foreachBatch(_write).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_upsert_manifest(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    evolve_schema: bool = False,
) -> StreamingQuery:
    """Effectively-once streaming MERGE with SNAPSHOT ISOLATION: each
    micro-batch upserts into the manifest table at ``path``
    (``operators/manifest.py`` — immutable version dirs, one atomic
    ``_CURRENT`` pointer rename per commit). Readers concurrent with
    the stream always see one complete committed version, never a
    partition mid-swap — the guarantee a plain
    dynamic-partition-overwrite streaming upsert cannot give.

    Retry semantics: foreachBatch may redeliver a batch; replaying the
    same rows through the last-writer-wins merge converges to the same
    table STATE (one extra manifest version records the no-op — state,
    not version count, is the contract). Within-batch duplicate keys
    collapse to their ``order_col`` winner first, so the merge sees
    one row per key. The first batch CREATES the table.
    ``evolve_schema`` passes through to the batch MERGE (table-format
    evolution semantics — a mid-stream schema widening merges instead
    of failing the query); default strict."""
    from polars_fastx_spark.operators import manifest as mf

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = mf.latest_per_key(batch_df, key_cols, order_col)
        if b.isEmpty():
            return
        if mf.current_version(spark, path) is None:
            mf.create_table(spark, path, b, partition_col)
        else:
            mf.upsert_table(
                spark, path, b, key_cols, order_col,
                evolve_schema=evolve_schema,
            )

    w = df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def memory_sink(
    df: DataFrame,
    name: str,
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """T7 testing sink — materialize a stream to an in-memory table,
    processing all currently-available input (availableNow) then stopping."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str = "event_type",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static equi-join enrichment (dimension lookup).

    The static side's VALUES are re-read per micro-batch, but its file
    LISTING is pinned when the plan is built — an in-place parquet
    rewrite of the dim therefore needs a query restart (cheap from the
    checkpoint with availableNow; exactly-once is preserved) or a
    catalog table + ``REFRESH TABLE``.
    ``broadcast_dim`` keeps the join shuffle-free: the stream
    side never moves, each executor holds the dim — the only join
    shape that scales to an unbounded stream against 1000 executors.
    Left join: stream rows without a dim match survive with nulls
    (an enrichment must never drop fact rows).
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=key, how="left")


def stream_bloom_filter(
    stream: DataFrame,
    mask: DataFrame,
    col: str,
    m_bits: int = 1 << 17,
    k: int = 4,
    keep_hits: bool = False,
) -> DataFrame:
    """Streaming Bloom membership gate — the ingest-time shape of
    :func:`polars_fastx_spark.operators.text.bloom_might_contain`:
    route each arriving row by whether ``col`` is POSSIBLY in the set
    behind ``mask`` (a :func:`...text.bloom_bitmask` relation with the
    same m/k, e.g. a decontamination blocklist of benchmark n-gram
    hashes, or an already-ingested content-hash set).

    Default ``keep_hits=False`` drops possible members (the
    decontamination / already-seen gate); Bloom has no false
    negatives, so nothing contaminated survives — what is lost to
    false positives is clean rows at the filter's design rate, the
    safe direction. ``keep_hits=True`` keeps only possible members
    (route-to-exact-check topologies).

    Stateless per row: positions are computed from ``col`` alone and
    the ≤``m_bits``/63-row mask joins as a broadcast static side, so
    the stream never shuffles and no streaming state accumulates —
    unlike :func:`stream_dedup`, whose exact state grows with distinct
    keys forever. The mask's file LISTING is pinned at plan time
    (same restart caveat as :func:`stream_static_enrich`).
    """
    from polars_fastx_spark.operators.text import bloom_might_contain

    flagged = bloom_might_contain(
        stream, col, mask, m_bits=m_bits, k=k, flag_col="__hit"
    )
    return flagged.filter(
        F.col("__hit") if keep_hits else ~F.col("__hit")
    ).drop("__hit")


def stream_sample_gate(
    stream: DataFrame, id_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Stateless ingest-time downsampling: keep each arriving row iff
    its content-addressed md5 bucket falls in the first ``fraction`` of
    the space — the streaming twin of
    ``sampling.deterministic_sample``, sharing its exact bucket
    formula, so stream == batch row-for-row on the same ids (pinned in
    tests), the sample is stable across restarts/reprocessing (no RNG,
    no state), and samples NEST: a later fraction-f' re-run of the
    archive agrees with the live f-sample wherever f' >= f."""
    from polars_fastx_spark.operators.sampling import deterministic_sample

    return deterministic_sample(stream, id_col, fraction, salt)


def stream_neardup_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    family: str = "md5",
    compact_every: int | None = 8,
):
    """Streaming incremental near-duplicate dedup: gate each arriving
    micro-batch against the GROWING on-disk LSH band index, write the
    survivors, and append their bands to the index so LATER batches
    see them — the live-ingest twin of the batch incremental path
    (``dedup.neardup_gate`` + ``minhash_band_table``), completing the
    streaming dedup ladder: exact (``stream_dedup``, state grows with
    distinct keys), probabilistic membership (``stream_bloom_filter``,
    static mask), NEAR-dup (this — durable index, no state store).

    ``foreachBatch`` is the right vehicle: the per-document drop
    decision needs a band semi-join collapsed to doc ids and joined
    back — a stream-stream self-join shape no watermark expresses —
    and the index append is a side effect. State lives in the PARQUET
    index, not the state store, so it survives restarts and is
    shared/queryable by the batch pipeline. Intra-batch near-dups
    both survive their own batch (index-as-of-batch-start semantics).
    Both writes land in an ``epoch=<id>`` subdirectory overwritten
    whole (the same idempotence move as the TSV foreachBatch sink), so
    a retried epoch replaces its own output instead of duplicating it.
    Crucially the index read EXCLUDES the current epoch's partition:
    on an at-least-once retry, the failed attempt's own bands are
    already on disk under ``epoch=<id>``, and gating the batch against
    them would drop every previously-kept doc (self-collision) and
    overwrite the epoch with a near-empty frame — silent data loss.
    Reading ``epoch`` as a partition column and filtering
    ``epoch < current`` makes the retry see exactly the index the
    first attempt saw.

    ``compact_every`` bounds the index's FILE count over a long-running
    stream: once ≥ that many committed epoch partitions have accreted,
    they are folded into the newest one before the batch gates (each
    tiny epoch dir otherwise costs a list entry + a read task forever —
    the 100 TB small-files failure mode). Compaction is crash-safe:
    the union is staged to an epoch-stamped stage dir first, sources
    are deleted only once the stage is COMMITTED, and a retried batch
    resumes the swap from the stage instead of rebuilding from
    half-deleted sources (``polars_fastx_spark.epochs``). ``None``
    disables.

    Returns the started StreamingQuery (availableNow trigger).
    """

    def _gate(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        base = stream_epoch_base(
            spark, index_path, checkpoint,
            next_epoch=lambda: next_epoch_of(spark, index_path, out_path),
        )
        _neardup_gate_epoch(
            batch, base + epoch, index_path, out_path,
            id_col, text_col, shingle_k, num_hashes, bands, family,
            compact_every,
        )

    return (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_containment_gate(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    hash_shingles: bool = False,
    compact_every: int | None = 8,
):
    """Streaming incremental CONTAINMENT dedup: gate each arriving
    micro-batch against the growing persisted shingle-postings index
    (``dedup.containment_index_build``), write survivors, and append
    their postings (+ sizes + per-shingle df) so later batches see
    them — the asymmetric-near-dup member of the streaming gate
    family, catching the quotation/excerpt/boilerplate cases the
    Jaccard band gate (:func:`stream_neardup_gate`) structurally
    misses. Rides the exact same epoch discipline: per-epoch
    overwrite-whole idempotence, the gate reads only
    ``epoch < current`` partitions (an at-least-once retry never
    self-collides with its failed attempt's own append — the round-5
    data-loss lesson), and ``compact_every`` bounds file count via the
    shared crash-safe staged swap (``containment_index_compact``,
    folding all three epoch-partitioned tables). The first batch
    initializes the index (meta + epoch 0). History is NEVER
    re-shingled — per-batch cost is the batch's shingles joined to the
    on-disk postings. Returns the started StreamingQuery
    (availableNow trigger)."""

    def _gate(batch: DataFrame, epoch: int) -> None:
        # epoch ids offset per checkpoint (the ANN stream's base
        # discipline): a stream restarted with a FRESH checkpoint
        # resets micro-batch ids to 0 and would otherwise overwrite
        # the previous stream's committed index/output epochs
        spark = batch.sparkSession
        base = stream_epoch_base(
            spark, f"{index_path}/postings", checkpoint,
            next_epoch=lambda: next_epoch_of(
                spark, f"{index_path}/postings", f"{index_path}/tombstones"
            ),
        )
        _containment_gate_epoch(
            batch, base + epoch, index_path, out_path, id_col, text_col,
            k, threshold, max_shingle_df, hash_shingles, compact_every,
        )

    return (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _containment_gate_epoch(
    batch: DataFrame,
    epoch: int,
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    hash_shingles: bool = False,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of :func:`stream_containment_gate`, exposed
    module-level so the at-least-once RETRY path is directly testable:
    replaying an epoch is idempotent because the gate's history read
    excludes the current epoch's own partitions (``before_epoch``) and
    every write overwrites its epoch dir whole."""
    from polars_fastx_spark.operators import dedup as _dedup

    spark = batch.sparkSession
    if compact_every:
        _dedup.containment_index_compact(
            spark, index_path, upto_epoch=epoch, min_epochs=compact_every
        )
    meta_ok = epochs.committed(spark, f"{index_path}/meta")
    if meta_ok:
        kept = _dedup.containment_gate(
            batch, index_path, id_col, text_col, threshold,
            max_shingle_df, before_epoch=epoch,
        )
    else:  # first batch: no index yet
        kept = batch
    with persisted(kept) as kept:  # shingled again below: keep the work
        kept.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch}")
        if meta_ok:  # index params frozen in meta win over ours
            _dedup.containment_index_add(kept, index_path, text_col, epoch)
        else:
            _dedup._containment_append(
                kept, index_path, id_col, text_col, k, hash_shingles, epoch
            )


def stream_decontam_gate(
    stream: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    k: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
):
    """Streaming contamination gate: drop arriving documents that
    CONTAIN a benchmark/eval item (graded shingle containment ≥
    ``threshold`` — ``dedup.containment_pairs_between``) and write the
    clean remainder — the decontamination twin of
    :func:`stream_neardup_gate`, completing the ingest-gate family:
    exact (``stream_dedup``), membership (``stream_bloom_filter``),
    near-dup (``stream_neardup_gate``), sample (``stream_sample_gate``),
    contamination (this).

    Unlike the near-dup gate there is NO growing index — the benchmark
    is static — so every batch gates against the same persisted
    benchmark postings (cached once here; at 100 TB the benchmark side
    is MBs and broadcasts). ``foreachBatch`` only because the per-doc
    drop decision aggregates shingle hits per (doc, bench item) — a
    groupBy no unwatermarked append stream expresses. Each batch's
    output lands in ``out_path/epoch=<id>`` overwritten whole, so an
    at-least-once retry replaces itself (idempotent); with a static
    benchmark a retry trivially sees the state the first attempt saw —
    no epoch-exclusion subtlety needed.

    The benchmark is cached for the QUERY's lifetime only
    (``release_on_terminate``), so repeated gate runs in a long-lived
    session don't each pin a copy of the benchmark in executor memory.

    Returns the started StreamingQuery (availableNow trigger).
    """
    bench = persist(benchmark)

    def _gate(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        base = stream_epoch_base(
            spark, out_path, checkpoint,
            next_epoch=lambda: next_epoch_of(spark, out_path),
        )
        _decontam_gate_epoch(
            batch, base + epoch, bench, out_path, id_col, text_col,
            k, threshold, max_shingle_df,
        )

    query = (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

    release_on_terminate(query, bench)
    return query


def _decontam_gate_epoch(
    batch: DataFrame,
    epoch: int,
    benchmark: DataFrame,
    out_path: str,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> None:
    """One micro-batch of :func:`stream_decontam_gate`, module-level so
    the at-least-once RETRY path is directly testable (the same
    exposure move as ``_neardup_gate_epoch``): replaying an epoch
    overwrites its own output — with a STATIC benchmark there is no
    index to self-collide with, so idempotence is just the epoch-dir
    overwrite."""
    from polars_fastx_spark.operators import dedup as _dedup

    hits = (
        _dedup.containment_pairs_between(
            batch, benchmark, id_col, text_col,
            k=k, threshold=threshold, max_shingle_df=max_shingle_df,
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    batch.join(hits, id_col, "left_anti").write.mode(
        "overwrite"
    ).parquet(f"{out_path}/epoch={epoch}")


def _neardup_gate_epoch(
    batch: DataFrame,
    epoch: int,
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    family: str = "md5",
    compact_every: int | None = None,
) -> None:
    """One micro-batch of :func:`stream_neardup_gate`, exposed at
    module level so the at-least-once RETRY path is directly
    testable: calling it twice with the same ``epoch`` must be
    idempotent (the retry reads only ``epoch < current`` partitions,
    never the failed attempt's own bands; a retried compaction
    resumes its staged swap)."""
    from polars_fastx_spark.operators import dedup as _dedup
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    if compact_every:
        epochs.compact(spark, index_path, epoch, compact_every)
    try:
        index = (
            spark.read.option("basePath", index_path)
            .parquet(f"{index_path}/epoch=*")
            .filter(F.col("epoch") < F.lit(epoch))
            .drop("epoch")
        )
    except AnalysisException:  # first batch: no index yet
        index = None
    kept = (
        batch
        if index is None
        else _dedup.neardup_gate(
            batch, index, id_col, text_col,
            shingle_k, num_hashes, bands, family,
        )
    )
    kept.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch}")
    _dedup.minhash_band_table(
        kept, id_col, text_col, shingle_k, num_hashes, bands, family
    ).write.mode("overwrite").parquet(f"{index_path}/epoch={epoch}")


def stream_media_neardup_gate(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    max_distance: int = 6,
    signer=None,
    compact_every: int | None = 8,
):
    """Streaming incremental near-dup dedup for MEDIA (image/audio
    binary columns): gate each arriving micro-batch against the
    growing on-disk hamming signature index, write survivors, append
    their signatures so later batches see them — the media member of
    the streaming gate family, riding the same epoch discipline as
    :func:`stream_neardup_gate` (epoch-overwrite idempotence, the
    retry reads only ``epoch < current`` partitions, staged-swap
    compaction bounding file count).

    ``signer`` maps a (path, content, ...) batch to a signature frame
    with (path, sig array<int>) columns — default
    ``multimodal.image_dhash``; pass ``multimodal.audio_fingerprint``
    for clips. The per-batch decode runs ONCE (the signature frame is
    persisted for the batch — decode dominates media cost); gate
    decisions are exact-hamming-verified against stored signatures
    (``dedup.hamming_gate``); undecodable content passes and never
    indexes. Returns the started StreamingQuery (availableNow)."""

    def _gate(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        base = stream_epoch_base(
            spark, index_path, checkpoint,
            next_epoch=lambda: next_epoch_of(spark, index_path, out_path),
        )
        _media_gate_epoch(
            batch, base + epoch, index_path, out_path,
            max_distance, signer, compact_every,
        )

    return (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _media_gate_epoch(
    batch: DataFrame,
    epoch: int,
    index_path: str,
    out_path: str,
    max_distance: int = 6,
    signer=None,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of :func:`stream_media_neardup_gate`, exposed
    module-level so the retry path is directly testable — same
    contract as :func:`_neardup_gate_epoch`: replaying an epoch is
    idempotent because the index read excludes the current epoch's
    own partition."""
    from pyspark.errors import AnalysisException

    from polars_fastx_spark.operators import dedup as _dedup
    from polars_fastx_spark.operators import multimodal as _mm

    spark = batch.sparkSession
    if signer is None:
        signer = _mm.image_dhash
    if compact_every:
        epochs.compact(spark, index_path, epoch, compact_every)
    with persisted(
        signer(batch)
        .filter(F.col("sig").isNotNull())
        .select(F.col("path").alias("__id"), F.col("sig").alias("__sig"))
    ) as sig:  # decode once: hits AND the index append read it
        try:
            index = (
                spark.read.option("basePath", index_path)
                .parquet(f"{index_path}/epoch=*")
                .filter(F.col("epoch") < F.lit(epoch))
                .drop("epoch")
            )
        except AnalysisException:  # first batch: no index yet
            index = None
        if index is None:
            kept = batch
        else:
            hits = _dedup.hamming_gate(
                sig, index, max_distance, keep_hits=True
            ).select(F.col("__id").alias("path"))
            kept = batch.join(hits, "path", "left_anti")
        kept.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch}")
        kept_sig = sig.join(
            kept.select(F.col("path").alias("__id")), "__id", "left_semi"
        )
        _dedup.hamming_band_table(kept_sig, max_distance).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/epoch={epoch}")


def stream_index_add(
    stream: DataFrame,
    vec_col: str,
    index_path: str,
    checkpoint: str,
    id_col: str | None = None,
    compact_every: int | None = 8,
    monitor_drift: bool = False,
):
    """Streaming ingest into a PERSISTED ANN index
    (operators/ann_index.py): each micro-batch of vectors is encoded
    against the index's frozen coarse cells and codebooks and appended
    as a code epoch — the similarity-search twin of
    :func:`stream_neardup_gate`'s growing band index, completing the
    persisted-index pair (near-dup gate ↔ ANN index; both live in
    parquet, both queryable by the batch side mid-stream, both cost
    per-batch, never per-history).

    The index must already exist (``ann_index.index_build`` — the
    quantizers are FROZEN; training belongs to the build, not the
    stream). Epoch ids are PINNED to ``base + micro_batch_id`` (base =
    the index's next free epoch when the stream first writes, recorded
    once in ``codes/_stream_base``): a retried OR
    committed-but-redelivered batch overwrites its own epoch instead
    of appending a duplicate — duplicate codes would DOUBLE a vector's
    summed ADC distance, corrupting every later search, not just
    duplicating rows. ``compact_every`` bounds the code-table file
    count; compaction is capped below the current batch's pinned epoch
    so a redelivered batch's history is never folded and re-written.

    ``monitor_drift=True`` additionally lands each batch's
    ``index_drift_stats`` under ``drift/epoch=<id>`` — the per-ingest
    drift TREND (the frozen quantizers' fit to ARRIVING data), read
    back with :func:`polars_fastx_spark.operators.ann_index.
    index_drift_trend`; sustained growth over the post-build floor is
    the ``index_retrain`` trigger. Costs one extra pass over the batch
    (assignment + encode-error, same relational shape as the add);
    same pinned-epoch overwrite idempotence.

    Returns the started StreamingQuery (availableNow trigger).
    """
    from polars_fastx_spark.operators import ann_index

    def _add(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        base = stream_epoch_base(
            spark, f"{index_path}/codes", checkpoint,
            next_epoch=lambda: next_epoch_of(
                spark, f"{index_path}/codes", f"{index_path}/tombstones"
            ),
        )
        if compact_every:
            ann_index.index_compact(
                spark, index_path, min_epochs=compact_every,
                upto_epoch=base + epoch,
            )
        ann_index.index_add(
            batch, vec_col, index_path, id_col=id_col, epoch=base + epoch
        )
        if monitor_drift:
            ann_index.index_drift_stats(
                spark, index_path, batch, vec_col, id_col=id_col
            ).write.mode("overwrite").parquet(
                f"{index_path}/drift/epoch={base + epoch}"
            )

    return (
        stream.writeStream.foreachBatch(_add)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms_counts(
    stream: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Streaming Count-Min frequency sketch — an UNWATERMARKED
    streaming aggregation whose state is bounded BY CONSTRUCTION.

    Spark requires a watermark on streaming aggregations because the
    key space normally grows with the stream; here each arriving value
    increments one of ``depth·width`` fixed counters (the relational
    CMS of :mod:`polars_fastx_spark.functions.sketches`), so the state
    store holds ≤ depth·width rows after a century of input — complete/
    update output modes are safe with no watermark and no eviction.
    This is the streaming analog of the sketch tier's
    persist-partials-merge-later pattern: the sink table IS the
    sketch, and :func:`...sketches.cms_query` reads heavy-hitter
    estimates from it at any moment, while
    :func:`...sketches.cms_merge` unions it with batch or other-stream
    sketches (counter sums are associative, so stream == batch over
    the same rows, cell-for-cell — pinned in tests).

    Contrast with :func:`stream_dedup` (exact state, grows with
    distinct keys, needs a watermark) and :func:`stream_bloom_filter`
    (stateless gate against a STATIC mask): this one accumulates live
    approximate counts with fixed memory.
    """
    from polars_fastx_spark.functions.sketches import _cms_bucket

    ds = F.array(*[F.lit(i) for i in range(depth)])
    rows = stream.filter(F.col(col).isNotNull()).select(
        F.explode(ds).alias("d"), F.col(col).cast("string").alias("_v")
    )
    return rows.groupBy(
        "d", _cms_bucket(F.col("d"), F.col("_v"), width).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def stream_fetch_frontier(
    stream: DataFrame,
    delays: DataFrame,
    out_path: str,
    checkpoint: str,
    url_col: str = "url",
    cap: int = 100,
    default_delay: float = 1.0,
):
    """Streaming politeness frontier — the end-to-end composition of
    the crawl-loop pieces (round-9 #6): candidate URLs arrive in
    micro-batches (link discovery, sitemap seeds), each batch is
    deduped against everything ALREADY scheduled, budgeted by
    ``domain_cap``, scheduled by ``functions.robots.fetch_schedule``
    (per-domain ``(k-1)*crawl_delay`` offsets in md5-deterministic
    order), and the offsets are CONTINUED across batches: each
    domain's batch-2 URLs schedule after its last batch-1 fetch plus
    its crawl delay, so the per-domain pace a site's robots.txt asked
    for holds over the whole stream, not per micro-batch.

    ``foreachBatch``, the ingest-gate family pattern: the dedup is an
    anti-join against the growing on-disk schedule (durable state,
    shared with batch readers — the fetch loop itself tails the
    output), and the per-domain continuation base is DERIVED from
    committed epochs (``max(fetch_offset_s + crawl_delay_s)`` per
    domain) rather than held in a state store, so replicas and
    restarts agree with no coordination — the content-addressed
    convention. Each batch lands whole in ``out_path/epoch=<id>``
    (overwrite), and the base/dedup reads EXCLUDE the current epoch,
    so an at-least-once retry reproduces exactly the schedule the
    first attempt computed (the ``stream_neardup_gate`` epoch
    discipline).

    ``delays`` is a :func:`...robots.parse_crawl_delays` table —
    static per query run and cached for its lifetime only (re-parse
    robots and restart the query to pick up new delays; rows already
    scheduled keep their offsets).
    Output columns: the input's, plus ``domain``,
    ``crawl_delay_s``, ``fetch_offset_s`` (seconds from the domain's
    first fetch — a simulated fetch loop sorts by it per domain).

    Returns the started StreamingQuery (availableNow trigger).
    """
    delays = persist(delays)

    def _gate(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        base = stream_epoch_base(
            spark, out_path, checkpoint,
            next_epoch=lambda: next_epoch_of(spark, out_path),
        )
        _fetch_frontier_epoch(
            batch, base + epoch, delays, out_path, url_col,
            cap, default_delay,
        )

    query = (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    release_on_terminate(query, delays)
    return query


def _fetch_frontier_epoch(
    batch: DataFrame,
    epoch: int,
    delays: DataFrame,
    out_path: str,
    url_col: str = "url",
    cap: int = 100,
    default_delay: float = 1.0,
) -> None:
    """One micro-batch of :func:`stream_fetch_frontier`, module-level
    so the at-least-once RETRY path is directly testable: the
    schedule history is read at ``epoch < current`` only, so a
    replayed epoch anti-joins and bases against exactly the state the
    first attempt saw and overwrites its own output dir."""
    from pyspark.errors import AnalysisException

    from polars_fastx_spark.functions.robots import fetch_schedule
    from polars_fastx_spark.functions.urls import domain_cap

    spark = batch.sparkSession
    try:
        history = (
            spark.read.option("basePath", out_path)
            .parquet(f"{out_path}/epoch=*")
            .filter(F.col("epoch") < F.lit(epoch))
        )
    except AnalysisException:  # first batch: nothing scheduled yet
        history = None

    # within-batch dedup on the url key, then against the schedule
    cand = batch.dropDuplicates([url_col])
    if history is not None:
        cand = cand.join(
            history.select(F.col(url_col)), url_col, "left_anti"
        )
    capped = domain_cap(cand, url_col, cap=cap)
    sched = fetch_schedule(
        capped, delays, url_col=url_col, default_delay=default_delay
    )
    # the delay actually applied rides along, so the continuation
    # base derives from committed rows alone (a delays-table change
    # mid-stream never corrupts already-written pacing)
    # plain equi-joins below: the delay/base sides are one row per
    # domain, but domain counts reach 1e8 on a full crawl — let AQE
    # choose broadcast vs shuffle instead of forcing a driver-sized
    # build side
    sched = sched.join(
        delays.select(
            F.col("domain"), F.col("crawl_delay").alias("__d")
        ),
        "domain", "left",
    ).withColumn(
        "crawl_delay_s", F.coalesce(F.col("__d"), F.lit(float(default_delay)))
    ).drop("__d")
    if history is not None:
        bases = history.groupBy("domain").agg(
            F.max(
                F.col("fetch_offset_s") + F.col("crawl_delay_s")
            ).alias("__base")
        )
        sched = (
            sched.join(bases, "domain", "left")
            .withColumn(
                "fetch_offset_s",
                F.col("fetch_offset_s")
                + F.coalesce(F.col("__base"), F.lit(0.0)),
            )
            .drop("__base")
        )
    sched.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch}")
