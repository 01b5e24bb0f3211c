"""Persisted IVF-PQ ANN index — build once, serve many queries.

The LSH band table (operators/dedup.py:minhash_band_table +
neardup_gate) established this engine's persisted-index pattern:
materialize per-item evidence as a parquet table, gate/extend
incrementally, never recompute history. This module is the
similarity-search twin. A 100 TB deployment builds the index in one
pass, then every query opens three tiny tables (centroids, codebooks,
meta — KBs) plus the code table (m bytes per vector), and every
ingest batch encodes ONLY its own vectors against the frozen
quantizers — cost scales with the batch, like the band-index gate.

Layout under ``path/``::

    meta/                one row: id_col, num_cells, m, pq_k, dim, pinned
    centroids/           (cell, centroid_vec, centroid_norm) ≤num_cells rows
    books/               (j, c, cvec)                        m·pq_k rows
    codes/epoch=N/       (__id, cell, codes)                 1 row/vector
    tombstones/epoch=N/  (__id)                              1 row/deletion

Adds and deletes share ONE monotone epoch counter (max over both
directories), so their relative order is durable: a tombstone at epoch
T hides code rows with epoch < T and nothing else — delete-then-re-add
revives (the re-add lands at a higher epoch), add-then-delete hides,
and a redelivered batch with a pinned epoch replaces itself on either
side. ``index_compact`` applies tombstones while folding (LSM-style
major compaction), so the hidden rows and their tombstones are
physically dropped together.

Search math is :func:`polars_fastx_spark.operators.vectors.adc_search`
— the SAME code path as the in-query ``ivfpq_topk``, so a search over
the persisted index replays the pinned-codebook oracle bit-for-bit
(doubles round-trip parquet exactly).

Reference parity: the reference (apcamargo/polars-fastx) has no
vector surface; north-star extension per /root/repo/BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polars_fastx_spark import epochs
from polars_fastx_spark.operators import vectors
from polars_fastx_spark.operators.diffing import change_counts, snapshot_diff
from polars_fastx_spark.session import persisted

#: meta table schema (one row per index)
META_SCHEMA = (
    "id_col string, num_cells int, m int, pq_k int, dim int, pinned boolean"
)


def _vec_fp(vec: F.Column) -> F.Column:
    """Content fingerprint of a vector — md5 over the exact decimal
    renderings of its components. Stored in every code row (``__fp``)
    so :func:`index_sync_from_index` can detect changed vectors
    WITHOUT the previous corpus snapshot: codes hold lossy PQ
    approximations, but the fingerprint is exact. Engine-internal
    (never compared across engines), so Spark's double→string
    rendering is the canonical form. The input is cast to
    ``array<double>`` HERE so every call site agrees: build/add
    fingerprint ``__v`` (already double via ivf_assign's cast), while
    sync-from-index fingerprints the raw release column — which is
    commonly ``array<float>``, whose float→string renderings differ.
    Without the cast, every id would hash 'changed' on every sync."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                vec.cast("array<double>"), lambda x: x.cast("string")
            ),
        )
    )


def index_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    num_cells: int = 16,
    m: int = 8,
    pq_k: int = 8,
    pinned: bool = False,
    iterations: int = 3,
) -> None:
    """One-pass index build: IVF-assign the corpus, product-quantize
    the RESIDUALS (v − cell centroid — the classic IVFPQ encoding),
    and land centroids/books/meta (tiny, single-file) plus the code
    table (``codes/epoch=0``) as parquet.

    ``pinned=True`` uses the md5-seeded zero-training codebooks
    (fully SQL-replayable — the oracle-checkable configuration);
    ``pinned=False`` (production default) runs the multi-subspace
    k-means of ``vectors.pq_train`` for ``iterations`` rounds. Either
    way only num_cells + m·pq_k centroid rows ever reach the driver.
    """
    from polars_fastx_spark.operators.similarity import (
        ivf_assign_to,
        ivf_centroids,
    )

    spark = df.sparkSession
    # Rebuild hygiene: a build into a previously-used path must start
    # from a clean slate. mode("overwrite") below only replaces
    # meta/centroids/books/codes/epoch=0 — it would leave (a) stale
    # tombstones that HIDE the fresh epoch-0 codes (tombstone at T
    # hides epoch < T), (b) extra code epochs whose per-id ADC
    # distances would SUM with the fresh ones, and (c) a stale
    # streaming base that misplaces the next streamed epoch. Delete
    # all three (a pending compaction stage goes with codes/) before
    # writing anything.
    epochs.drop(
        spark, f"{path}/tombstones", f"{path}/codes", f"{path}/drift"
    )
    # collect the num_cells centroid rows ONCE and feed every consumer
    # a literal table — the cell assignment, the residual broadcast
    # join, and the centroids/ parquet write each re-executed the
    # TakeOrderedAndProject corpus pass the lazy frame carries
    lazy_cent = ivf_centroids(df, id_col, vec_col, num_cells)
    cent_rows = lazy_cent.collect()
    centroids = spark.createDataFrame(cent_rows, lazy_cent.schema)
    assigned = ivf_assign_to(df, id_col, vec_col, centroids)
    with_cent = assigned.join(F.broadcast(centroids), "cell")
    # persisted across the eager codebook-construction jobs (dim probe,
    # seed collect, training collects) — same lifecycle as ivfpq_topk
    with persisted(
        with_cent.select(
            "__id", "cell",
            F.zip_with("__v", "centroid_vec", lambda a, b: a - b).alias("__r"),
            _vec_fp(F.col("__v")).alias("__fp"),
        )
    ) as resid:
        # dim comes free from the collected centroid rows — drops the
        # one-row dimensionality probe job from both training paths
        vdim = len(cent_rows[0]["centroid_vec"]) if cent_rows else None
        if pinned:
            books = vectors.pq_seed_books(
                resid, "__id", "__r", m=m, k=pq_k, dim=vdim
            )
            codes = vectors.pq_encode(resid, "__id", "__r", books)
        else:
            codes, books = vectors.pq_train(
                resid, "__id", "__r", m=m, k=pq_k, iterations=iterations,
                dim=vdim,
            )
        coded = codes.join(resid.select("__id", "cell", "__fp"), "__id")
        dim = m * len(books[0][0])
        centroids.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/centroids"
        )
        spark.createDataFrame(
            [(j, c, books[j][c]) for j in range(m) for c in range(pq_k)],
            "j int, c int, cvec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/books")
        spark.createDataFrame(
            [(id_col, num_cells, m, pq_k, dim, pinned)], META_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        coded.write.mode("overwrite").parquet(f"{path}/codes/epoch=0")


def index_build_if_absent(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    **build_kwargs,
) -> bool:
    """Build the index at ``path`` unless a COMPLETE one is already
    there — the serve-many half of the build-once contract: N queries
    against the same corpus share one build instead of paying it N
    times (pinned builds are deterministic, so a cached and a fresh
    index answer identically — test-pinned).

    Completeness = ``meta/`` committed AND at least one committed
    ``codes/epoch=*`` directory. ``index_build`` writes meta before
    codes, so a crash anywhere mid-build leaves the pair incomplete
    and the next caller rebuilds (``index_build`` clears the path
    first, so a rebuild never inherits partial output). The check is
    ANY committed epoch, not epoch 0: ``index_compact`` folds epoch 0
    into the highest epoch, and misreading a compacted-but-complete
    index as partial would rebuild epoch 0 UNDER the surviving folded
    epochs — stale and fresh code rows would union and their per-id
    ADC distances would sum, silently corrupting every search.
    Callers are expected not to race concurrent builds of the same
    path (same single-maintainer assumption as ``index_compact``).
    Returns True if this call built."""
    spark = df.sparkSession
    if epochs.committed(spark, f"{path}/meta") and epochs.committed_epochs(
        spark, f"{path}/codes"
    ):
        return False
    index_build(df, id_col, vec_col, path, **build_kwargs)
    return True


def index_add(
    df: DataFrame,
    vec_col: str,
    path: str,
    id_col: str | None = None,
    epoch: int | None = None,
) -> int:
    """Incremental add: encode a NEW batch of vectors against the
    index's FROZEN centroids and codebooks and append the codes as
    ``codes/epoch=<next>`` — history is never recomputed, cost scales
    with the batch (the band-index-gate contract). Routing goes
    through the exact assignment (``similarity.ivf_assign_to``) and
    encode (``vectors.pq_encode``) paths the build used, so
    add == rebuild code-for-code under the same quantizers (pinned in
    tests). Returns the epoch id written.

    Epoch directories are overwritten whole, so a retried add with the
    same epoch id replaces itself instead of duplicating (the same
    idempotence move as ``stream_neardup_gate``). Pass an explicit
    ``epoch`` when the CALLER owns delivery semantics (the streaming
    ingest pins epoch ids to the micro-batch id, so a
    committed-but-redelivered batch overwrites itself — duplicate
    codes would DOUBLE a vector's ADC distance, not just duplicate a
    row); the default self-assigns the next uncommitted id.
    """
    from polars_fastx_spark.operators.similarity import ivf_assign_to

    spark = df.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    id_col = id_col or meta["id_col"]
    centroids = spark.read.parquet(f"{path}/centroids")
    books = _load_books(spark, path, meta["m"], meta["pq_k"])
    assigned = ivf_assign_to(df, id_col, vec_col, centroids)
    resid = assigned.join(F.broadcast(centroids), "cell").select(
        "__id", "cell",
        F.zip_with("__v", "centroid_vec", lambda a, b: a - b).alias("__r"),
        _vec_fp(F.col("__v")).alias("__fp"),
    )
    codes = vectors.pq_encode(resid, "__id", "__r", books)
    coded = codes.join(resid.select("__id", "cell", "__fp"), "__id")
    if epoch is None:
        epoch = epochs.next_epoch_of(
            spark, f"{path}/codes", f"{path}/tombstones"
        )
    coded.write.mode("overwrite").parquet(f"{path}/codes/epoch={epoch}")
    return epoch


def index_delete(
    spark: SparkSession,
    path: str,
    ids: DataFrame | list,
    epoch: int | None = None,
) -> int:
    """Delete vectors by id: land a TOMBSTONE epoch
    (``tombstones/epoch=<next>`` on the shared add/delete counter, one
    ``__id`` row per deletion) — never a rewrite of the data-sized
    code table, so a takedown/opt-out batch costs what the batch
    costs. Every read path (``epochs.live``) hides code rows with
    epoch below the tombstone's; a later :func:`index_add` of the same
    id lands above it and revives. :func:`index_compact` applies
    tombstones physically and drops them (LSM major compaction).

    ``ids`` is a one-column DataFrame (any column name) or a plain
    Python list; values are cast to the code table's id type so the
    hide-join never misses on a type mismatch. Same pinned-``epoch``
    idempotence contract as :func:`index_add` for redelivered batches.
    Returns the epoch written."""
    return epochs.write_tombstones(
        spark, f"{path}/codes", f"{path}/tombstones", ids, epoch,
        caller="index_delete",
    )


def index_upsert(
    df: DataFrame,
    vec_col: str,
    path: str,
    id_col: str | None = None,
    epoch: int | None = None,
) -> tuple[int, int]:
    """Replace-or-insert a batch: tombstone the batch's ids, then add
    its vectors at the NEXT epoch — the only safe update path, because
    a bare re-add of a live id would leave two code rows whose ADC
    distances SUM (corrupting every search), not shadow each other.
    Pass ``epoch`` (the tombstone slot; the add takes ``epoch+1``)
    when the caller owns delivery semantics, exactly as in
    :func:`index_add`. Returns (delete_epoch, add_epoch)."""
    spark = df.sparkSession
    if id_col is None:
        id_col = spark.read.parquet(f"{path}/meta").first()["id_col"]
    if epoch is None:
        epoch = epochs.next_epoch_of(
            spark, f"{path}/codes", f"{path}/tombstones"
        )
    del_epoch = index_delete(spark, path, df.select(id_col), epoch=epoch)
    add_epoch = index_add(df, vec_col, path, id_col=id_col, epoch=epoch + 1)
    return del_epoch, add_epoch


def index_sync(
    old_df: DataFrame,
    new_df: DataFrame,
    vec_col: str,
    path: str,
    id_col: str | None = None,
    epoch: int | None = None,
) -> dict[str, int]:
    """Sync the persisted index to a NEW corpus snapshot, paying only
    for what changed: a snapshot diff (``diffing.snapshot_diff`` —
    one full-outer join on the id, null-safe ARRAY comparison on the
    vector) classifies every id, then removed+changed ids land ONE
    tombstone epoch and added+changed vectors encode against the
    frozen quantizers as the next code epoch (the ``index_upsert``
    epoch discipline: the re-add lands ABOVE the tombstone and
    revives with the new code). A release where 0.1% of a 100 TB
    corpus moved costs one join plus encoding 0.1%, never a rebuild.

    ``old_df`` must be the snapshot the index currently reflects
    (codes store PQ approximations, not vectors, so the previous
    snapshot is the caller's to provide — exactly the two-snapshot
    shape corpus releases give you anyway). Syncing the same pair
    twice is a no-op (no new epochs). Unchanged-vector rows never
    touch the index. After heavy distribution drift prefer
    :func:`index_retrain` — sync keeps quantizers frozen.

    ``epoch`` pins the tombstone slot (the add takes ``epoch + 1``) —
    the :func:`index_upsert` redelivery contract: a replayed sync
    overwrites its own epochs instead of accreting new ones.

    Returns ``{"added": n, "removed": n, "changed": n}``.
    """
    spark = old_df.sparkSession
    if id_col is None:
        id_col = spark.read.parquet(f"{path}/meta").first()["id_col"]
    d = snapshot_diff(
        old_df.select(id_col, vec_col),
        new_df.select(id_col, vec_col),
        [id_col],
        [vec_col],
    )
    return _apply_sync(
        d, path, id_col, vec_col, epoch,
        lambda fresh: fresh.select(
            F.col(id_col), F.col(f"new_{vec_col}").alias(vec_col)
        ),
    )


def index_sync_from_index(
    new_df: DataFrame,
    vec_col: str,
    path: str,
    id_col: str | None = None,
    epoch: int | None = None,
) -> dict[str, int]:
    """:func:`index_sync` without the previous snapshot: the index's
    OWN live code rows carry an exact per-vector content fingerprint
    (``__fp``, written by build/add), so membership and change
    detection need only the NEW release — diff (id, fp) from the live
    codes against (id, fp) of ``new_df``, then the same pinned-epoch
    tombstone + frozen-quantizer re-encode as ``index_sync``. This is
    the single-argument maintenance call a release pipeline wants:
    ``index_sync_from_index(release_vN, "v", path)``.

    The (id, fp) scan is code-table-sized (two small columns), never
    vector-sized. Indexes written before fingerprints raise with a
    clear message — rebuild once or use :func:`index_sync` with the
    old snapshot. Returns ``{"added", "removed", "changed"}`` counts.
    """
    spark = new_df.sparkSession
    if id_col is None:
        id_col = spark.read.parquet(f"{path}/meta").first()["id_col"]
    live = epochs.live(spark, f"{path}/codes", f"{path}/tombstones")
    if "__fp" not in live.columns:
        raise ValueError(
            f"{path}: code table has no __fp fingerprints (written "
            "before the sync-from-index lane); rebuild the index once "
            "or use index_sync(old_df, new_df, ...) with the previous "
            "snapshot"
        )
    old_fp = live.select(F.col("__id").alias(id_col), "__fp")
    new_fp = new_df.select(
        F.col(id_col), _vec_fp(F.col(vec_col)).alias("__fp")
    )
    d = snapshot_diff(old_fp, new_fp, [id_col], ["__fp"])
    return _apply_sync(
        d, path, id_col, vec_col, epoch,
        lambda fresh: fresh.select(id_col).join(
            new_df.select(id_col, vec_col), id_col
        ),
    )


def _apply_sync(
    diff: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    epoch: int | None,
    fresh_vectors,
) -> dict[str, int]:
    """Apply a ``snapshot_diff`` on ``id_col``: removed+changed ids
    tombstone at epoch E, then ``fresh_vectors`` of the added+changed
    diff rows, (``id_col``, ``vec_col``), encode at E+1."""
    spark = diff.sparkSession
    with persisted(diff) as d:
        out = change_counts(d)
        dead = out["removed"] + out["changed"]
        fresh = out["added"] + out["changed"]
        if (dead or fresh) and epoch is None:
            epoch = epochs.next_epoch_of(
                spark, f"{path}/codes", f"{path}/tombstones"
            )
        if dead:
            index_delete(
                spark,
                path,
                d.filter(
                    F.col("change_type").isin("removed", "changed")
                ).select(id_col),
                epoch=epoch,
            )
        if fresh:
            index_add(
                fresh_vectors(
                    d.filter(F.col("change_type").isin("added", "changed"))
                ),
                vec_col,
                path,
                id_col=id_col,
                epoch=epoch + 1,
            )
    return out


def _filtered_codes(
    spark: SparkSession, path: str, id_filter
) -> DataFrame:
    """The live code table, optionally PRE-filtered to an allowed id
    set — filtered ANN done the correct way round: restricting
    CANDIDATES before ranking guarantees k results whenever k allowed
    vectors exist, where post-filtering a top-k would silently return
    fewer (the classic filtered-search truncation bug under selective
    predicates). ``id_filter`` is a one-column DataFrame (any column
    name — e.g. the output of a metadata predicate on a dimension
    table) or a plain Python list; values are cast to the code table's
    id type, same contract as :func:`index_delete`. The allowed set
    semi-joins onto the code scan — broadcast when small, shuffle-hash
    when the predicate side is data-sized — so the ADC math never sees
    a disallowed candidate."""
    coded = epochs.live(
        spark, f"{path}/codes", f"{path}/tombstones"
    ).drop("epoch")
    if id_filter is None:
        return coded
    if isinstance(id_filter, DataFrame):
        allow = id_filter.select(
            F.col(id_filter.columns[0]).alias("__allow_id")
        ).distinct()
    else:
        if not id_filter:  # empty allow set: nothing may match
            return coded.limit(0)
        allow = spark.createDataFrame(
            [(i,) for i in id_filter], ["__allow_id"]
        ).distinct()
    allow = allow.select(
        F.col("__allow_id").cast(coded.schema["__id"].dataType).alias(
            "__allow_id"
        )
    )
    return coded.join(
        allow, coded["__id"] == allow["__allow_id"], "left_semi"
    )


def index_search(
    spark: SparkSession,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_filter: DataFrame | list | None = None,
) -> DataFrame:
    """Top-k ADC search over the persisted index: open centroids +
    books (bounded collects — KBs), stream the live code table across
    all epochs (tombstone-filtered — ``epochs.live``), and rank
    with :func:`vectors.adc_search` — the identical query path
    ``ivfpq_topk`` uses, so persisted == in-query search
    result-for-result. ``id_filter`` restricts candidates to an
    allowed id set BEFORE ranking (:func:`_filtered_codes` — metadata-
    filtered ANN, e.g. one language or license tier). Returns
    (<id_col>, adc_dist)."""
    meta = spark.read.parquet(f"{path}/meta").first()
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    books = _load_books(spark, path, meta["m"], meta["pq_k"])
    coded = _filtered_codes(spark, path, id_filter)
    return vectors.adc_search(
        coded, cent_rows, books, query, meta["id_col"], k=k, nprobe=nprobe
    )


def index_search_many(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "qvec",
    id_filter: DataFrame | list | None = None,
) -> DataFrame:
    """Top-k ADC search for a TABLE of queries in one pass — the batch
    retrieval shape (training-pair mining, nightly eval suites), fully
    RELATIONAL: unlike :func:`index_search`, no per-query driver work
    at all, so a million-query batch plans exactly like a ten-query
    batch.

    Dataflow: queries × broadcast centroid table → cosine → per-query
    top-``nprobe`` cells (one window over nq·num_cells rows) → query
    residuals per probed cell → × broadcast codebook table → the
    (query, cell, j, c) ADC distance table (nq·nprobe·m·pq_k rows,
    built by executors, broadcast if small) → equi-join the exploded
    code table on (cell, j, c) — the probed-cell filter IS the join —
    → groupBy(query, id) → per-query top-k window. Cell/rank
    tie-breaks mirror :func:`index_search` (cosine desc, cell asc;
    dist asc, id asc), so a 1-row queries table reproduces it.
    ``id_filter`` restricts candidates BEFORE the per-query top-k
    (:func:`_filtered_codes`), shared by every query in the batch.

    Returns (query_id, <id_col>, adc_dist, rank).
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism
    from polars_fastx_spark.operators.similarity import cosine, l2_norm

    meta = spark.read.parquet(f"{path}/meta").first()
    m, pq_k = meta["m"], meta["pq_k"]
    sub = meta["dim"] // m
    centroids = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/books")
    q = ensure_min_parallelism(queries).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__q"),
    ).withColumn("__qn", l2_norm(F.col("__q")))

    scored = q.join(F.broadcast(centroids)).select(
        "query_id", "__q", "cell", "centroid_vec",
        cosine(
            F.col("__q"), F.col("centroid_vec"),
            F.col("__qn"), F.col("centroid_norm"),
        ).alias("__sim"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("cell").asc()
    )
    probed = (
        scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select(
            "query_id", "cell",
            F.zip_with(
                "__q", "centroid_vec", lambda a, b: a - b
            ).alias("__qr"),
        )
    )
    dist = F.aggregate(
        F.zip_with(
            F.slice(F.col("__qr"), F.col("j") * sub + 1, sub),
            F.col("cvec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dtab = probed.join(F.broadcast(books)).select(
        "query_id", "cell", "j", "c", dist.alias("_d")
    )
    coded = _filtered_codes(spark, path, id_filter)
    ex = coded.select("__id", "cell", F.posexplode("codes").alias("j", "c"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("__id").asc()
    )
    return (
        ex.join(dtab, ["cell", "j", "c"])
        .groupBy("query_id", "__id")
        .agg(F.sum("_d").alias("adc_dist"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("__id").alias(meta["id_col"]),
            "adc_dist",
            "rank",
        )
    )


def index_compact(
    spark: SparkSession,
    path: str,
    min_epochs: int = 2,
    upto_epoch: int | None = None,
) -> None:
    """Maintenance: fold the committed code epochs below ``upto_epoch``
    (default: all of them) into one partition through the crash-safe
    staged swap of :func:`polars_fastx_spark.epochs.compact`, bounding
    file count after many incremental adds. Search results are
    unaffected: the code table's CONTENT is what ADC consumes, not its
    epoch layout. A caller that may RE-WRITE an epoch (the streaming
    ingest's redelivered batch) must pass that epoch as ``upto_epoch``
    so its codes are never folded into history and then written again.

    With tombstones present this is the LSM **major compaction**: the
    fold drops the hidden rows physically and deletes the applied
    tombstone epochs (only those ≤ ``upto_epoch`` — all of them by
    default). Folding WITHOUT applying tombstones would be wrong, not
    just wasteful: folded rows land at the target epoch, above the
    tombstones that used to hide them."""
    if upto_epoch is None:
        upto_epoch = epochs.next_epoch_of(
            spark, f"{path}/codes", f"{path}/tombstones"
        )
    epochs.compact(
        spark, path, upto_epoch, min_epochs,
        table="codes", tombstones="tombstones",
    )


def index_recall(
    spark: SparkSession,
    path: str,
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "v",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """MEASURED recall@k of the persisted index against exact L2 over
    a query sample — the tuning table for (num_cells, m, pq_k, nprobe):
    quantization parameters are chosen by reading this, not guessed.
    ``vectors`` is the original corpus table (the index stores only PQ
    codes, so ground truth needs the caller's vector column — present
    in any deployment that built the index).

    Both sides are relational: the approximate side is one
    :func:`index_search_many` pass (the whole sample shares each
    probed cell's scan); the exact side is vectors × BROADCAST queries
    with an L2 fold and a per-query top-k window — deliberately
    brute-force because a recall report runs over a ~100-query sample,
    where nq·n dot products is the cheap, unarguable ground truth.
    Ties (equal distance) break by id ascending on BOTH sides, so
    recall is deterministic. Returns (query_id, n_hits, recall) — one
    row per query; aggregate for the headline number."""
    meta = spark.read.parquet(f"{path}/meta").first()
    id_col = meta["id_col"]
    approx = index_search_many(
        spark, path, queries, k=k, nprobe=nprobe,
        query_id_col=query_id_col, vec_col=qvec_col,
    ).select("query_id", F.col(id_col).alias("__hit"))

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(qvec_col).cast("array<double>").alias("__q"),
    )
    v = vectors.select(
        F.col(id_col).alias("__hit"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    d2 = F.aggregate(
        F.zip_with("__v", "__q", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("__hit").asc()
    )
    exact = (
        v.join(F.broadcast(q))
        .select("query_id", "__hit", d2.alias("__d"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "__hit")
    )
    hits = exact.join(approx, ["query_id", "__hit"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hits"))
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.lit(k)).alias("recall"),
        )
    )


def index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Observability twin of ``lsh_bucket_profile``: per-cell LIVE
    vector counts (tombstone-hidden rows excluded, like every search)
    and epoch span, so an operator can see skewed cells (one hot cell
    → one slow probe task) and ingest growth. Returns
    (cell, n_vectors, n_epochs) — ≤ num_cells rows."""
    coded = epochs.live(spark, f"{path}/codes", f"{path}/tombstones")
    return coded.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count_distinct("epoch").alias("n_epochs"),
    )


def index_drift_stats(
    spark: SparkSession,
    path: str,
    vectors_df: DataFrame,
    vec_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """The DRIFT monitor ``index_stats`` can't be: per-cell residual
    quantization distortion and fill skew of ``vectors_df`` under the
    index's FROZEN quantizers. ``index_add`` encodes against frozen
    centroids/codebooks forever (correct — add == rebuild is pinned),
    so after heavy distribution drift recall decays with no signal in
    the code table itself; distortion IS that signal, computable from
    any vector sample (the whole corpus for a baseline, the last N
    ingest batches for a trend — cost scales with the sample).

    Per cell over the sample: ``n_vectors``, ``fill_ratio`` (count /
    mean count across the sample's cells — skew: one hot cell is one
    slow probe task), and ``mean_distortion`` = mean over vectors of
    Σ_j min_c ‖r_j − book[j][c]‖² — each vector's squared residual
    quantization error, i.e. its ADC self-distance under the exact
    encode path adds use. Read the trend: a retrained index's
    distortion on current data is the healthy floor; sustained growth
    above it means :func:`index_retrain`.

    Fully relational: assignment and residuals ride the same
    ``ivf_assign_to`` path as ``index_add``; the m·pq_k book table
    broadcasts; the min-per-subspace and sum-per-vector are map-side
    partial aggregates. Returns (cell, n_vectors, fill_ratio,
    mean_distortion)."""
    from polars_fastx_spark.operators.similarity import ivf_assign_to

    meta = spark.read.parquet(f"{path}/meta").first()
    id_col = id_col or meta["id_col"]
    m = meta["m"]
    sub = meta["dim"] // m
    centroids = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/books")
    assigned = ivf_assign_to(vectors_df, id_col, vec_col, centroids)
    resid = assigned.join(F.broadcast(centroids), "cell").select(
        "__id", "cell",
        F.zip_with("__v", "centroid_vec", lambda a, b: a - b).alias("__r"),
    )
    subs = resid.select(
        "__id", "cell",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("j"),
                    F.slice("__r", j * sub + 1, sub).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("__id", "cell", "s.j", "s.sv")
    d2 = F.aggregate(
        F.zip_with("sv", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # per-subspace error becomes an exact fixed-point long BEFORE any
    # unordered aggregation (the _dsum convention): the min itself is
    # deterministic, but summing doubles across subspaces/vectors in
    # shuffle order is not — and a drift MONITOR whose last ulp moves
    # between runs reads as drift. Twelve decimals keep the floor's
    # truncation (≤1e-12/subspace) far below any real signal.
    per_vec = (
        subs.join(F.broadcast(books), "j")
        .groupBy("__id", "cell", "j")
        .agg(F.floor(F.min(d2) * F.lit(1e12)).cast("long").alias("__dj"))
        .groupBy("__id", "cell")
        .agg(F.sum("__dj").alias("__dist"))
    )
    # cell totals in decimal(38,0): a hot cell at corpus scale would
    # overflow the long sum (1e6 vectors × ~1e17 per-vector fp units)
    per_cell = per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("__dist").cast("decimal(38,0)")).alias("__dsum"),
    )
    wall = Window.partitionBy()
    return per_cell.select(
        "cell", "n_vectors",
        (
            F.col("n_vectors")
            * F.count(F.lit(1)).over(wall)
            / F.sum("n_vectors").over(wall)
        ).alias("fill_ratio"),
        (
            F.col("__dsum").cast("double")
            / F.col("n_vectors") / F.lit(1e12)
        ).alias("mean_distortion"),
    )


def index_drift_trend(spark: SparkSession, path: str) -> DataFrame:
    """The ingest-time drift TREND: per-epoch corpus-weighted mean
    distortion from the ``drift/epoch=*`` rows that
    ``stream_index_add(monitor_drift=True)`` lands — one row per
    monitored epoch, (epoch, n_vectors, mean_distortion). Read the
    slope: the first monitored epochs after a (re)build are the
    healthy floor; sustained growth above it is the
    :func:`index_retrain` trigger (:func:`index_retrain_if_drifted`
    automates exactly that policy). Returns an empty frame when
    nothing is monitored yet."""
    eps = epochs.committed_epochs(spark, f"{path}/drift")
    if not eps:
        return spark.createDataFrame(
            [], "epoch int, n_vectors bigint, mean_distortion double"
        )
    rows = epochs.read_epochs(spark, f"{path}/drift", eps)
    return rows.groupBy("epoch").agg(
        F.sum("n_vectors").alias("n_vectors"),
        (
            F.sum(F.col("mean_distortion") * F.col("n_vectors"))
            / F.sum("n_vectors")
        ).alias("mean_distortion"),
    )


def index_retrain_if_drifted(
    df: DataFrame,
    vec_col: str,
    path: str,
    ratio: float = 4.0,
    id_col: str | None = None,
    iterations: int = 3,
) -> bool:
    """The maintenance POLICY over the drift trend: retrain-and-swap
    when the latest monitored epoch's corpus-weighted mean distortion
    exceeds ``ratio`` × the FIRST monitored epoch's (the post-build
    floor — earliest epoch survives compaction because drift epochs
    are never folded). No-op (returns False) when fewer than two
    monitored epochs exist or the trend is healthy; returns True after
    retraining. ``df`` is the current corpus, same contract as
    :func:`index_retrain`."""
    spark = df.sparkSession
    trend = index_drift_trend(spark, path).orderBy("epoch").collect()
    if len(trend) < 2:
        return False
    floor = trend[0]["mean_distortion"]
    latest = trend[-1]["mean_distortion"]
    if floor <= 0 or latest <= ratio * floor:
        return False
    index_retrain(df, vec_col, path, id_col=id_col, iterations=iterations)
    return True


def index_retrain(
    df: DataFrame,
    vec_col: str,
    path: str,
    id_col: str | None = None,
    iterations: int = 3,
) -> None:
    """Retrain-and-swap: train FRESH quantizers (same num_cells / m /
    pq_k / pinned mode as ``meta/``) on ``df`` — the current corpus —
    re-encode it, and atomically swap the new index over the old one.
    This is the maintenance answer to quantizer drift
    (:func:`index_drift_stats` is the trigger signal): ``index_add``'s
    frozen-quantizer contract is right for ingest, but after the
    distribution has moved, only retraining restores recall.

    ``df`` is the source of truth for membership, except that ids with
    a LIVE tombstone (deleted and never re-added) stay deleted even if
    present in ``df`` — a retrain must not silently resurrect
    takedowns. Tombstones are thereby CONSUMED: the swapped index has
    none, codes restart at epoch 0, and the streaming base resets
    (the next streamed epoch re-bases off the fresh index).

    Crash-safe staged swap (the ``index_compact`` discipline, index-
    wide): the new index builds completely under ``_retrain_stage/``,
    a ``_COMMIT`` marker authorizes the swap, then each table is
    delete-and-renamed into place and the stage dir dropped. A rerun
    after a crash at ANY step first converges the on-disk state:
    pre-commit → the stage is garbage (live index untouched), drop it;
    post-commit → finish renaming whatever the crash left in the stage
    (the marker, not the possibly-half-swapped listing, decides — same
    lesson as the compactor's stage names). Either way THIS call's
    retrain then proceeds against the converged index — a committed
    crashed swap is an OLDER corpus snapshot, and resuming it must not
    silently substitute for the retrain the caller just asked for.
    Single maintainer assumed, as for ``index_compact``; searches
    concurrent with the swap window are not supported."""
    spark = df.sparkSession
    stage = f"{path}/_retrain_stage"
    if epochs.committed(spark, stage, "_COMMIT"):
        _retrain_swap(spark, path)
    epochs.drop(spark, stage)  # crashed pre-commit build: garbage
    meta = spark.read.parquet(f"{path}/meta").first()
    id_col = id_col or meta["id_col"]
    # live tombstones (deleted, never re-added) must stay deleted
    tombs = f"{path}/tombstones"
    if epochs.committed_epochs(spark, tombs):
        live_ids = (
            epochs.live(spark, f"{path}/codes", tombs)
            .select("__id")
            .distinct()
        )
        tomb_ids = (
            epochs.read_epochs(spark, tombs)
            .select("__id")
            .distinct()
            .join(live_ids, "__id", "left_anti")
            .withColumnRenamed("__id", "__dead_id")
        )
        df = df.join(
            F.broadcast(tomb_ids),
            F.col(id_col).cast("string")
            == F.col("__dead_id").cast("string"),
            "left_anti",
        )
    index_build(
        df, id_col, vec_col, stage,
        num_cells=meta["num_cells"], m=meta["m"], pq_k=meta["pq_k"],
        pinned=meta["pinned"], iterations=iterations,
    )
    # authorize: from here the stage, not the live index, is truth
    epochs.mark(spark, f"{stage}/_COMMIT")
    _retrain_swap(spark, path)


def _retrain_swap(spark: SparkSession, path: str) -> None:
    """Post-commit swap body, idempotent at every step: delete stale
    tombstones, then swap each table still in the stage over its live
    dir (``epochs.swap_in``: a table missing from the stage was already
    renamed), then drop the stage. The marker survives until that final
    delete, so a crash anywhere reruns cleanly."""
    stage = f"{path}/_retrain_stage"
    # tombstones are consumed by the rebuild; drift rows measured
    # against the OLD quantizers would poison the retrain trigger's
    # baseline — both reset with the swap
    epochs.drop(spark, f"{path}/tombstones", f"{path}/drift")
    for sub in ("codes", "books", "centroids", "meta"):
        epochs.swap_in(spark, f"{stage}/{sub}", f"{path}/{sub}")
    epochs.drop(spark, stage)


def _load_books(
    spark: SparkSession, path: str, m: int, pq_k: int
) -> list[list[list[float]]]:
    rows = spark.read.parquet(f"{path}/books").collect()  # m·pq_k rows
    books: list[list[list[float]]] = [[None] * pq_k for _ in range(m)]
    for r in rows:
        books[r["j"]][r["c"]] = [float(x) for x in r["cvec"]]
    missing = [(j, c) for j in range(m) for c in range(pq_k) if books[j][c] is None]
    if missing:
        raise ValueError(f"{path}/books: missing codebook entries {missing[:4]}")
    return books
