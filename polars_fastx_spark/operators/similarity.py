"""Vector similarity search (SURVEY.md §2.11 L3) over array<float> columns.

Three tiers, all returning the same logical result shape:

1. ``cosine_topk_pairs_sql`` — pure-SQL brute force. The oracle twin:
   every step is ANSI-expressible, used for correctness checks. Norms
   are precomputed ONCE per side (the naive per-pair recompute is what
   made the vanilla baseline 37 s — BASELINE.md q_vec_knn).
2. ``cosine_topk_numpy`` — fully distributed blocked matrix multiply:
   both sides are hash-blocked into bounded chunks (content-addressed
   ``pmod(xxhash64(id), num_blocks)``, ≤ ``block_rows`` rows each),
   block pairs meet in a join of the two tiny block tables, and each
   (query-block × index-block) cell runs ONE BLAS gemm inside
   mapInPandas, emitting only its local top-k under the total order
   (-cosine, id_a, id_b); a global top-k of the per-cell winners
   finishes. NOTHING is collected to the driver — the memory bound per
   task is two blocks (~2·block_rows·dim·8 B), independent of n, so the
   same plan runs at 100 TB (exact all-pairs stays O(n²) dot products
   by definition — beyond ~millions of vectors use tier 3).
3. ``ann_lsh_buckets`` — random-hyperplane LSH bucketing: the scale
   path when even one pass of exact dot products is too much. Vectors
   land in sign-pattern buckets; candidate pairs only form within a
   bucket (one groupBy), then exact cosine re-ranks. Deterministic
   hyperplanes from a seed (xxhash64-derived), so results are stable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from polars_fastx_spark import session


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Σ aᵢbᵢ via zip_with+aggregate — JVM higher-order, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(v: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: F.Column, b: F.Column, norm_a: F.Column, norm_b: F.Column) -> F.Column:
    return dot(a, b) / F.nullif(norm_a * norm_b, F.lit(0.0))


def with_l2_norm(df: DataFrame, vec_col: str, out: str = "norm") -> DataFrame:
    return df.withColumn(out, l2_norm(F.col(vec_col)))


def cosine_topk_pairs_sql(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Brute-force top-k most-similar pairs (id_a < id_b), pure SQL.

    Norms precomputed once per row before the self-join; the join is a
    broadcast nested-loop on ``id_a < id_b``. O(n²) dot products — use
    only as an oracle / small-n path; physical plan is
    TakeOrderedAndProject so no full sort materializes.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cosine(
                F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(k)
    )


#: cap on rows per hash block — two blocks at 64 dims ≈ 4 MB of
#: float64 per task, independent of table size.
_MAX_BLOCK_ROWS = 4096
#: floor — below this, per-cell overhead dominates the gemm.
_MIN_BLOCK_ROWS = 256


def _resolve_block_rows(df: DataFrame, n: int, block_rows: int | None) -> int:
    """Auto block size: small tables split into ~2 gemm cells per core
    (wall-clock = parallel cells); big tables cap at _MAX_BLOCK_ROWS so
    per-task memory stays bounded and cross-block replication (the
    inherent nb× data blow-up of exact all-pairs) is minimized."""
    if block_rows is not None:
        return block_rows
    if n <= _MAX_BLOCK_ROWS:
        # one block: the per-task memory bound still holds and the
        # single-cell fast path drops the persist + pair join (measured
        # no slower than multi-block at 2k×64 — per-cell overhead
        # dominates any parallel-gemm win at this size)
        return _MAX_BLOCK_ROWS
    par = max(1, df.sparkSession.sparkContext.defaultParallelism)
    return max(_MIN_BLOCK_ROWS, min(_MAX_BLOCK_ROWS, -(-n // (2 * par))))


def _hash_blocks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_rows: int | None,
    n: int | None = None,
) -> tuple[DataFrame, int]:
    """Pack (id, vec) rows into ≤ ``block_rows``-row blocks keyed by
    ``pmod(xxhash64(id), num_blocks)`` — content-addressed, RNG-free,
    stable across runs/partitionings (the same scheme as
    ``sampling.py``'s permanent splits).

    One count() job sizes the block table (at warehouse scale, table
    stats would replace it); one repartition-by-block routes each
    block's rows to one partition, where an Arrow-batched packer folds
    them into a single (block, ids, vecs) row — deliberately NOT a JVM
    ``collect_list(struct(...))`` aggregate, whose object-hash-agg path
    measured ~2.5 s of warm-up against ~0.3 s for this packer. Expected
    block size n/num_blocks with binomial concentration — no block
    materially exceeds ``block_rows``.
    """
    if n is None:
        n = df.count()
    block_rows = _resolve_block_rows(df, n, block_rows)
    num_blocks = max(1, -(-n // block_rows))
    id_type = df.schema[id_col].dataType.simpleString()
    routed = (
        df.select(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")), F.lit(num_blocks)
            ).alias("block"),
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        # cosine is undefined for a missing vector: excluded from
        # candidate generation (np.stack would otherwise crash on None;
        # the SQL twin emits NULL cosine for such pairs, which no
        # threshold matches and top-k orders last)
        .filter(F.col("v").isNotNull())
        .repartition(num_blocks, "block")
    )

    def pack(batches):
        import pandas as pd

        # a partition holds the complete rows of ~1 hash block (hash
        # collisions put a couple of blocks in one partition; memory
        # stays ~partition size ≈ block_rows rows)
        accum: dict = {}
        for pdf in batches:
            for blk, g in pdf.groupby("block"):
                accum.setdefault(blk, []).append(g)
        for blk, parts in accum.items():
            g = pd.concat(parts) if len(parts) > 1 else parts[0]
            yield pd.DataFrame(
                {
                    "block": [blk],
                    "ids": [g["id"].tolist()],
                    "vecs": [g["v"].tolist()],
                }
            )

    blocks = routed.mapInPandas(
        pack, f"block bigint, ids array<{id_type}>, vecs array<array<double>>"
    )
    return blocks, num_blocks


def _block_pairs(
    qblocks: DataFrame,
    qnb: int,
    iblocks: DataFrame,
    inb: int,
    self_pairs: bool,
) -> DataFrame:
    """Join every query block with every index block — upper triangle
    for the self-pairs case — through an EQUI join against a tiny
    distributed (ablock, bblock) pair table.

    The naive ``a.join(b, a.block <= b.block)`` would plan as a
    BroadcastNestedLoopJoin and broadcast one side — which is the WHOLE
    packed dataset, a guaranteed OOM at scale. Joining block ids first
    (bare ints, no payload) and attaching each side's payload by
    equi-key keeps both payload joins hash/broadcast-partitioned; data
    replication is the Σ-per-block-pair inherent to exact all-pairs,
    never a monolithic broadcast.
    """
    if self_pairs and qnb == 1 and inb == 1:
        # single-block fast path: the one (0, 0) cell needs no pair
        # table, no second payload join, and no persist — one linear
        # pipeline (pack → gemm → TakeOrdered)
        return qblocks.select(
            F.col("block").alias("ablock"),
            F.col("ids").alias("aids"),
            F.col("vecs").alias("avecs"),
            F.col("block").alias("bblock"),
            F.col("ids").alias("bids"),
            F.col("vecs").alias("bvecs"),
        )
    spark = qblocks.sparkSession
    pair_ids = spark.range(qnb).select(F.col("id").alias("ablock")).crossJoin(
        spark.range(inb).select(F.col("id").alias("bblock"))
    )
    if self_pairs:
        pair_ids = pair_ids.filter(F.col("ablock") <= F.col("bblock"))
    return (
        pair_ids.join(
            qblocks.select(
                F.col("block").alias("ablock"),
                F.col("ids").alias("aids"),
                F.col("vecs").alias("avecs"),
            ),
            "ablock",
        )
        .join(
            iblocks.select(
                F.col("block").alias("bblock"),
                F.col("ids").alias("bids"),
                F.col("vecs").alias("bvecs"),
            ),
            "bblock",
        )
    )


def _block_matrices(ids_cell, vecs_cell) -> tuple:
    """(ids ndarray, row-L2-normalized matrix) from one packed block.

    Zero vectors are DROPPED, not normalized: cosine with a zero vector
    is undefined (the SQL twin yields NULL — never above a threshold,
    ordered last in top-k), and the old inf-norm trick silently ranked
    those pairs at 0.0, ABOVE genuinely negative-cosine pairs."""
    import numpy as np

    ids = np.asarray(ids_cell)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs_cell])
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0.0
    if not keep.all():
        ids, mat, norms = ids[keep], mat[keep], norms[keep]
    return ids, mat / norms[:, None]


def _emit_topk(ida, idb, sims, k):
    """Local top-k under the TOTAL order (-cosine, id_a, id_b): take the
    k-th cosine by argpartition, keep everything ≥ it (ties included),
    sort that small tail exactly. Any pair in the GLOBAL top-k is by
    construction in its own cell's local top-k under the same order, so
    global orderBy-limit over cell winners is exact."""
    import numpy as np

    if len(sims) > k:
        kth = -np.partition(-sims, k - 1)[k - 1]
        keep = sims >= kth
        ida, idb, sims = ida[keep], idb[keep], sims[keep]
    order = sorted(range(len(sims)), key=lambda i: (-sims[i], ida[i], idb[i]))[:k]
    return ida[order], idb[order], sims[order]


def _self_topk_single_cell(
    df: DataFrame, id_col: str, vec_col: str, k: int, id_type: str
) -> DataFrame:
    """Fused small-table fast path for self-pairs top-k: all rows route
    to one partition (a ~``block_rows × dim`` doubles shuffle — MBs),
    and a single Python stage packs, gemms, and emits the exact local
    top-k under (-cosine, id_a, id_b). No pack stage, no pair table,
    no persist. Exactness argument is the single-cell case of
    :func:`cosine_topk_numpy`'s: one cell sees every pair."""
    routed = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .filter(F.col("v").isNotNull())  # undefined cosine: excluded
        .repartition(1)
    )

    def all_pairs(batches):
        import numpy as np
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        g = pd.concat(parts) if len(parts) > 1 else parts[0]
        if g.empty:
            return
        ids, mat = _block_matrices(g["id"].tolist(), g["v"].tolist())
        sims = mat @ mat.T
        ri, ci = np.nonzero(ids[:, None] < ids[None, :])
        ida, idb, s = _emit_topk(ids[ri], ids[ci], sims[ri, ci], k)
        yield pd.DataFrame(
            {"id_a": ida, "id_b": idb, "cosine": s.astype(np.float64)}
        )

    cand = routed.mapInPandas(
        all_pairs, f"id_a {id_type}, id_b {id_type}, cosine double"
    )
    return cand.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(k)


def cosine_topk_numpy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_df: DataFrame | None = None,
    block_rows: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Exact top-k pairs via DISTRIBUTED blocked numpy matmul — no
    driver collect anywhere (asserted by tests/test_plans.py).

    ``n``: known row count of ``df`` (a table statistic — e.g. the
    parquet footer count a metastore serves). When given, the sizing
    count() job disappears from the query's critical path; it only
    sizes blocks, so an upper bound is safe (never pass an
    underestimate — block memory bounds assume n ≥ actual).

    ``query_df`` defaults to ``df`` (all-pairs self-similarity, emitting
    id_a < id_b; ids must be unique). Both sides are hash-packed into
    ≤ ``block_rows``-row blocks; the block tables join (self: upper
    triangle ``ablock <= bblock``; query mode: full cross), and each
    joined row — two bounded matrices — runs one BLAS gemm in
    mapInPandas, emitting its exact local top-k under
    (-cosine, id_a, id_b). A global TakeOrdered of ≤ k·#cells winners
    finishes. Per-task memory is O(block_rows·dim), independent of n.

    Ids keep their Spark type in the output (int, string, ...); numpy
    compares them with the same ordering Spark's ``<`` uses.

    When the whole self-pairs table fits one block, the pack stage and
    the pair join disappear entirely: one repartition(1) routes the
    rows into a single fused pack+gemm+topk Python stage (saves an
    Arrow round-trip and a shuffle of the packed matrices — measured
    ~0.4 s at 2k×64). The multi-block distributed path engages
    automatically beyond ``block_rows``.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    self_pairs = query_df is None
    if self_pairs:
        if n is None:
            n = df.count()
        if n <= _resolve_block_rows(df, n, block_rows):
            return _self_topk_single_cell(df, id_col, vec_col, k, id_type)
    iblocks, inb = _hash_blocks(df, id_col, vec_col, block_rows, n=n)
    if self_pairs and inb > 1:
        iblocks = session.persist(iblocks)  # self-join references it twice
    qblocks, qnb = (
        (iblocks, inb)
        if self_pairs
        else _hash_blocks(query_df, id_col, vec_col, block_rows)
    )
    paired = _block_pairs(qblocks, qnb, iblocks, inb, self_pairs)

    def cell_topk(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                aids, amat = _block_matrices(row["aids"], row["avecs"])
                bids, bmat = _block_matrices(row["bids"], row["bvecs"])
                sims = amat @ bmat.T
                if self_pairs:
                    if row["ablock"] == row["bblock"]:
                        mask = aids[:, None] < bids[None, :]
                    else:
                        # disjoint hash blocks: every cross pair once;
                        # orient so id_a < id_b
                        mask = np.ones_like(sims, dtype=bool)
                    ri, ci = np.nonzero(mask)
                    ida, idb = aids[ri], bids[ci]
                    flip = ~(ida < idb)
                    ida[flip], idb[flip] = idb[flip], ida[flip]
                else:
                    ri, ci = np.nonzero(np.ones_like(sims, dtype=bool))
                    ida, idb = aids[ri], bids[ci]
                s = sims[ri, ci]
                ida, idb, s = _emit_topk(ida, idb, s, k)
                yield pd.DataFrame(
                    {"id_a": ida, "id_b": idb, "cosine": s.astype(np.float64)}
                )

    cand = paired.mapInPandas(
        cell_topk, f"id_a {id_type}, id_b {id_type}, cosine double"
    )
    return cand.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(k)


def ann_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (sign pattern → bucket).

    Deterministic hyperplanes: plane p component i =
    sin(xxhash64-free pure function of (seed, p, i)) — computed as a
    Column expression so no RNG state ships to executors. Use the
    bucket for candidate generation; re-rank candidates with
    :func:`cosine`.

    The num_planes·dim dot products per row fuse to the input scan, so
    a single-row-group file would hash on one task —
    ``ensure_min_parallelism`` spreads it (no-op at warehouse layouts).
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    planes = []
    rngbase = float(seed)
    for p in range(num_planes):
        comps = [
            math.sin(rngbase + 1.0 + p * 1013.0 + i * 9.17) for i in range(dim)
        ]
        planes.append(comps)
    v = F.col(vec_col)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(c) for c in comps]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for comps in planes
    ]
    bucket = bits[0]
    for bcol in bits[1:]:
        bucket = bucket * 2 + bcol
    return df.withColumn("bucket", bucket)


def cosine_pairs_above_numpy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_rows: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold, via the same
    distributed blocked matmul as :func:`cosine_topk_numpy` — no driver
    collect; each (block × block) cell is one BLAS gemm + a threshold
    filter, so output volume is the only thing that grows with match
    density. Replaces the O(n²) interpreted-expression nested-loop join
    (measured ~30 s → ~1 s at 2000×64 dims). For corpora where even one
    exact pass is too much, prune candidates with
    :func:`ann_lsh_buckets` / IVF cells first.

    ``n``: known row count (table statistic), same contract as
    :func:`cosine_topk_numpy` — removes the sizing count() job.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    blocks, nb = _hash_blocks(df, id_col, vec_col, block_rows, n=n)
    if nb > 1:
        blocks = session.persist(blocks)  # self-join references it twice
    paired = _block_pairs(blocks, nb, blocks, nb, self_pairs=True)

    def cell_pairs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                aids, amat = _block_matrices(row["aids"], row["avecs"])
                bids, bmat = _block_matrices(row["bids"], row["bvecs"])
                sims = amat @ bmat.T
                hit = sims >= threshold
                if row["ablock"] == row["bblock"]:
                    hit &= aids[:, None] < bids[None, :]
                ri, ci = np.nonzero(hit)
                ida, idb = aids[ri], bids[ci]
                flip = ~(ida < idb)
                ida[flip], idb[flip] = idb[flip], ida[flip]
                yield pd.DataFrame({"id_a": ida, "id_b": idb})

    return paired.mapInPandas(cell_pairs, f"id_a {id_type}, id_b {id_type}")


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_cells: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: pick deterministic centroids, assign
    every vector to its nearest cell.

    Centroids are the ``num_cells`` data vectors with the smallest
    ``md5(id)`` — the same content-addressed, RNG-free seeding as
    ``kmeans`` (vectors.py): an ``orderBy(hash).limit(k)`` plans as
    TakeOrderedAndProject (per-partition top-k, one tiny merge — NO
    global sort, no single-task window), stable across runs, retries,
    and partitionings. The hash itself is the cell id — cell ids are
    only equi-join keys, so no 0..k-1 renumbering (which would need a
    global row_number) is required. Assignment is a broadcast join
    against the tiny centroid table + one ``max_by`` groupBy — no O(n²)
    stage, no iterative k-means (good-enough cells for candidate
    pruning; swap in trained centroids without changing the shape).

    Returns (assigned, centroids): ``assigned`` = (__id, __v, __n,
    cell); ``centroids`` = (cell, centroid_vec, centroid_norm).

    The per-row num_cells cosine scoring against the broadcast
    centroid table fuses to the input scan — ``ensure_min_parallelism``
    keeps a single-row-group file from scoring on one task (no-op at
    warehouse layouts).
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    centroids = ivf_centroids(df, id_col, vec_col, num_cells)
    return _assign_to_centroids(base, centroids), centroids


def ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_cells: int = 16,
) -> DataFrame:
    """The LAZY (cell, centroid_vec, centroid_norm) frame of
    :func:`ivf_assign`'s content-addressed centroid pick (num_cells
    data vectors with the smallest ``md5(id)``; the hash is the cell
    id) — exposed so callers that need the centroid ROWS on the driver
    anyway (ivfpq_topk's probe table, an index build's centroid file)
    can collect them ONCE and route assignment through
    :func:`ivf_assign_to` with a literal table, instead of paying the
    TakeOrderedAndProject corpus pass per lazy consumer."""
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    return (
        base.withColumn("cell", F.md5(F.col("__id").cast("string")))
        .orderBy("cell")
        .limit(num_cells)
        .select(
            "cell",
            F.col("__v").alias("centroid_vec"),
            F.col("__n").alias("centroid_norm"),
        )
    )


def ivf_assign_to(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
) -> DataFrame:
    """Assign vectors to their nearest cell of a FIXED centroid table
    ``(cell, centroid_vec, centroid_norm)`` — the frozen-coarse-
    quantizer path: incremental adds to a persisted ANN index route
    new vectors through the exact broadcast-cosine assignment that
    built the index, so add == rebuild code-for-code under the same
    quantizers. Returns (__id, __v, __n, cell)."""
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    return _assign_to_centroids(base, centroids)


def _assign_to_centroids(base: DataFrame, centroids: DataFrame) -> DataFrame:
    scored = base.join(F.broadcast(centroids)).select(
        "__id", "__v", "__n", "cell",
        cosine(
            F.col("__v"), F.col("centroid_vec"),
            F.col("__n"), F.col("centroid_norm"),
        ).alias("__sim"),
    )
    return (
        scored.groupBy("__id")
        .agg(
            # max over (sim, cell) structs, not max_by(cell, sim):
            # max_by breaks similarity ties nondeterministically
            # (partition/retry order), while lexicographic struct max
            # resolves a tie to the greatest cell id — stable across
            # runs, which semdedup's re-runnable drop decision needs
            F.max(F.struct(F.col("__sim"), F.col("cell")))
            .getField("cell")
            .alias("cell"),
            F.first("__v").alias("__v"),
            F.first("__n").alias("__n"),
        )
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_cells: int = 16,
) -> DataFrame:
    """Approximate top-k most-similar pairs, candidates limited to
    same-IVF-cell vectors (one equi-join on ``cell``), exact cosine
    re-rank. The IVF analog of :func:`ann_topk_via_lsh` — candidate
    volume Σ|cell|² instead of n²."""
    assigned, _ = ivf_assign(df, id_col, vec_col, num_cells)
    a, b = assigned.alias("a"), assigned.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.cell") == F.col("b.cell"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cosine(
                F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(k)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    num_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style embedding near-dup DROP decision at scale
    (Abbas et al. 2023): coarse-cluster the embeddings (IVF cells —
    deterministic md5-smallest-k seeding, broadcast assignment), then
    compare ONLY within-cell pairs and drop every vector that has a
    smaller-id neighbor at cosine ≥ ``threshold`` in its cell.

    Returns (id, dup_of) for dropped vectors — ``dup_of`` is the
    smallest qualifying neighbor, so the decision is deterministic and
    re-runnable. Candidate volume is Σ|cell|² instead of n² (the
    brute-force twin is ``cosine_pairs_above_numpy`` + component
    closure); cells cap pair growth the way SemDeDup's k-means
    clusters do, trading recall across cell boundaries for linear
    scaling in corpus size.
    """
    assigned, _ = ivf_assign(df, id_col, vec_col, num_cells)
    a, b = assigned.alias("a"), assigned.alias("b")
    sim = cosine(
        F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
    )
    return (
        a.join(
            b,
            on=[
                F.col("a.cell") == F.col("b.cell"),
                F.col("b.__id") < F.col("a.__id"),
            ],
        )
        .filter(sim >= F.lit(threshold))
        .groupBy(F.col("a.__id").alias(id_col))
        .agg(F.min(F.col("b.__id")).alias("dup_of"))
    )


def cosine_topk_per_query(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 3,
    block_rows: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact k nearest neighbors for EVERY query vector (batch search
    mode — ``cosine_topk_numpy`` returns the global top-k pairs; this
    returns k rows per query). Same distributed shape: both sides
    hash-packed into blocks, every (query-block, index-block) cell runs
    one gemm and emits its per-query local top-k, then a window
    partitioned by query id keeps the global k — the window input is
    ≤ k·#index-blocks rows per query, bounded regardless of n.

    ``exclude_self`` drops id_q == id_i matches (queries drawn from the
    indexed table). Ties break by (-cosine, id_i) — deterministic.
    Returns (id_q, id_i, cosine).
    """
    id_type = df.schema[id_col].dataType.simpleString()
    iblocks, inb = _hash_blocks(df, id_col, vec_col, block_rows)
    qblocks, qnb = _hash_blocks(query_df, id_col, vec_col, block_rows)
    paired = _block_pairs(qblocks, qnb, iblocks, inb, self_pairs=False)

    def cell_topk(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                qids, qmat = _block_matrices(row["aids"], row["avecs"])
                iids, imat = _block_matrices(row["bids"], row["bvecs"])
                sims = qmat @ imat.T
                out_q, out_i, out_s = [], [], []
                for qi in range(len(qids)):
                    s, ids_i = sims[qi], iids
                    if exclude_self:
                        keep = ids_i != qids[qi]
                        s, ids_i = s[keep], ids_i[keep]
                    if not len(s):
                        continue
                    qa = np.repeat(qids[qi], len(s))
                    qa, ids_i, s = _emit_topk(qa, ids_i, s, k)
                    out_q.append(qa)
                    out_i.append(ids_i)
                    out_s.append(s)
                if not out_q:
                    continue
                yield pd.DataFrame(
                    {
                        "id_q": np.concatenate(out_q),
                        "id_i": np.concatenate(out_i),
                        "cosine": np.concatenate(out_s).astype(np.float64),
                    }
                )

    cand = paired.mapInPandas(
        cell_topk, f"id_q {id_type}, id_i {id_type}, cosine double"
    )
    w = Window.partitionBy("id_q").orderBy(
        F.col("cosine").desc(), F.col("id_i").asc()
    )
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ann_topk_via_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    num_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k pairs: candidates within LSH buckets only."""
    b = ann_lsh_buckets(df, id_col, vec_col, dim, num_planes, seed).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        "bucket",
    ).withColumn("__n", l2_norm(F.col("__v")))
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cosine(
                F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(k)
    )

