"""Vector aggregation — element-wise centroids without leaving SQL.

Element-wise mean over array columns is the building block of IVF
centroid training, class prototypes, and embedding pooling. The
distributed shape is posexplode → two-level aggregate keyed on
(group, position) → re-assemble ordered — every step a built-in JVM
operator, so centroids over 100 TB of embeddings are just two shuffles
(partial aggregation does the heavy lifting map-side) and no Python.

Reference parity: the reference has no vector surface; north-star
extension per /root/repo/BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_fastx_spark.session import persisted


def group_centroids(
    df: DataFrame,
    key_cols: list[str],
    vec_col: str,
    decimals: int | None = None,
) -> DataFrame:
    """Per-key element-wise mean of ``vec_col`` (equal-length arrays).

    Returns (keys..., centroid array<double>). ``decimals`` rounds each
    element (oracle canonicalization; summation order across engines
    differs in the last float ulps).
    """
    ex = df.select(
        *key_cols, F.posexplode(vec_col).alias("pos", "val")
    )
    per_pos = ex.groupBy(*key_cols, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("v")
    )
    elem = (
        (lambda s: F.round(s["v"], decimals))
        if decimals is not None
        else (lambda s: s["v"])
    )
    return per_pos.groupBy(*key_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), elem
        ).alias("centroid")
    )


def assign_nearest(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "cluster",
) -> DataFrame:
    """Tag each row with the index of its nearest centroid (squared
    L2). Centroids arrive as plain Python lists (k × dim — KBs), become
    a broadcast one-row-per-centroid relation, and the k×N candidate
    set collapses back with ``min_by`` — no Python on the row path."""
    sp = df.sparkSession
    cen = F.broadcast(
        sp.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(centroids)],
            "_cid int, _cvec array<double>",
        )
    )
    dist = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("_cvec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    keys = [c for c in df.columns]
    return (
        df.crossJoin(cen)
        .withColumn("_dist", dist)
        .groupBy(*keys)
        .agg(F.min_by("_cid", "_dist").alias(out_col))
    )


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int = 10,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means as a DataFrame loop (the IVF training step).

    Seeding is content-addressed (k rows with the smallest
    ``md5(id)``) — deterministic across runs and partitionings, no RNG.
    Per iteration: broadcast the k×dim centroid table (KBs), assign via
    ``min_by`` over the broadcast cross product (one shuffle for the
    per-row min), recompute centroids with ``group_centroids`` (two
    shuffles, map-side partials); only k centroid rows ever reach the
    driver. Returns (assignments, final centroids).
    """
    if iterations < 1:
        raise ValueError(
            "kmeans needs iterations >= 1 (assignments come from the "
            "last assignment pass; with 0 passes there is nothing to "
            "assign)"
        )
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    # per-row k×dim distance scoring fuses to the scan every iteration
    df = ensure_min_parallelism(df)
    seeds = [
        [float(x) for x in r.v]
        for r in df.select(
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("h")
        .limit(k)
        .collect()
    ]
    cents = seeds
    assigned = None
    for _ in range(iterations):
        assigned = assign_nearest(df, vec_col, cents)
        new = {
            r.cluster: [float(x) for x in r.centroid]
            for r in group_centroids(
                assigned, ["cluster"], vec_col
            ).collect()
        }
        # a cluster that lost all members keeps its previous centroid
        cents = [new.get(i, cents[i]) for i in range(k)]
    return assigned, cents


def random_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    salt: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas 2003) — the dimensionality-reduction front end of an
    ANN index: pairwise distances/inner products are preserved within
    O(1/sqrt(out_dim)) while vectors shrink in_dim/out_dim ×.

    The sign matrix is md5-SEEDED, not RNG: sign(j, i) = parity of the
    32-bit md5 prefix of ``salt:j:i`` — deterministic across runs,
    engines, and partitionings (the DuckDB oracle rebuilds the same
    matrix), same rationale as the sampling/minhash md5 families. The
    matrix is embedded as LITERAL arrays in the plan (out_dim × in_dim
    doubles — KBs for any practical width), so projection is one
    codegen'd map pass: no matrix join, no shuffle, no Python.

    Returns long form (id, j, comp): component j of the projected
    vector, ``comp = round(dot(v, sign_j) / sqrt(out_dim), 6)``.
    Reshape with ``groupBy(id).agg(sort_array(collect_list(...)))`` or
    keep long for columnar math.
    """
    import hashlib
    import math

    if in_dim < 1 or out_dim < 1:
        raise ValueError("random_project needs in_dim, out_dim >= 1")
    inv = 1.0 / math.sqrt(out_dim)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comps = []
    for j in range(out_dim):
        signs = F.array(
            *[
                F.lit(
                    1.0
                    if int(
                        hashlib.md5(
                            f"{salt}:{j}:{i}".encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    % 2
                    == 0
                    else -1.0
                )
                for i in range(in_dim)
            ]
        )
        dot = F.aggregate(
            F.zip_with(v, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append(F.round(dot * F.lit(inv), 6))
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*comps)).alias("j", "comp"),
    )


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Symmetric per-dimension int8 quantization — the 4× memory lever
    that lets an ANN index hold 4× more vectors per executor.

    Pass 1 (posexplode → per-position max(abs), map-side partials)
    computes each dimension's scale; the dim-length scale array folds
    into ONE row and broadcasts — never touches the driver. Pass 2
    quantizes element-wise: q = floor(v/s·127 + 0.5) clamped to
    [-127, 127] (explicit half-up rounding, so any engine reproduces it
    bit-for-bit). A zero dimension keeps scale 1 to avoid 0/0.

    Returns (id_col, qvec array<int>, max_abs_err double) — the error
    column is the per-vector reconstruction bound ‖v − q·s/127‖∞.
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    # the dim-wide posexplode and pass-2 quantize both fuse to the scan
    df = ensure_min_parallelism(df)
    ex = df.select(F.posexplode(F.col(vec_col).cast("array<double>")))
    scales = (
        ex.groupBy("pos")
        .agg(F.greatest(F.max(F.abs(F.col("col"))), F.lit(0.0)).alias("s"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: F.when(st["s"] == 0.0, F.lit(1.0)).otherwise(st["s"]),
            ).alias("__scales")
        )
    )
    q = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.col("__scales"),
        lambda v, s: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(v / s * 127.0 + 0.5).cast("int")),
        ),
    )
    err = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("__scales"),
                lambda v, s: F.struct(v.alias("v"), s.alias("s")),
            ),
            F.col("qvec"),
            lambda vs, qq: F.abs(vs["v"] - qq * vs["s"] / 127.0),
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    return (
        df.select(F.col(id_col).alias(id_col), vec_col)
        .crossJoin(F.broadcast(scales))
        .withColumn("qvec", q)
        .withColumn("max_abs_err", err)
        .select(id_col, "qvec", "max_abs_err")
    )


# --------------------------------------------------- product quantization

def _subvectors(df: DataFrame, id_col: str, vec_col: str, m: int, sub: int):
    """(id, j, sv): the m equal slices of each vector — row-local
    explode over the subspace index; slice j covers positions
    [j·sub+1, (j+1)·sub]. Every PQ path (seed/encode/train) fans out
    and computes distances fused to this explode, so repair a
    single-row-group 1-task scan here once (no-op at warehouse
    layouts)."""
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.select(
        F.col(id_col).alias(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    F.col(vec_col).cast("array<double>"), j * sub + 1, sub
                ),
            )
        ).alias("j", "sv"),
    )


def _seed_books_from_subs(subs: DataFrame, id_col: str, m: int, k: int,
                          sub: int) -> list[list[list[float]]]:
    """Content-addressed PQ codebook seeding: per subspace ``j``, the
    ``k`` subvectors with the smallest ``md5(id || ':' || j)`` become
    centroids 0..k-1 — deterministic, RNG-free, and replayable in any
    engine with md5 (the DuckDB oracles rebuild the same books).

    Deliberately ONE plain collect: an r10 experiment fused this seed
    pass with the first training assignment (lazy seed frame broadcast
    into the assignment join, one combined driver round trip) and it
    REGRESSED — the broadcast build, the seed-frame persist, and the
    zero-fill grid join each materialize as their own AQE jobs, +4
    jobs vs the single collect they replaced (l_pq_topk 26→30 jobs,
    wall flat-to-worse). The driver round trip is the cheap part."""
    from pyspark.sql import Window

    wseed = Window.partitionBy("j").orderBy(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("j")))
    )
    seed_rows = (
        subs.withColumn("_r", F.row_number().over(wseed))
        .filter(F.col("_r") <= k)
        .select("j", (F.col("_r") - 1).alias("c"), "sv")
        .collect()
    )
    books: list[list[list[float]]] = [
        [[0.0] * sub for _ in range(k)] for _ in range(m)
    ]
    for r in seed_rows:
        books[r["j"]][r["c"]] = [float(x) for x in r["sv"]]
    return books


def _assign_codes(subs: DataFrame, books: list[list[list[float]]],
                  id_col: str) -> DataFrame:
    """One assignment pass: each (id, j, sv) row gets the index of its
    nearest codebook centroid (squared L2) — broadcast m·k-row centroid
    table + min_by, the same shape at any scale."""
    sp = subs.sparkSession
    m, k = len(books), len(books[0])
    cen = F.broadcast(
        sp.createDataFrame(
            [(j, c, books[j][c]) for j in range(m) for c in range(k)],
            "j int, _c int, _cvec array<double>",
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("_cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        subs.join(cen, "j")
        .withColumn("_dist", dist)
        .groupBy(id_col, "j", "sv")
        .agg(F.min_by("_c", "_dist").alias("c"))
    )


def _codes_frame(assigned: DataFrame, id_col: str) -> DataFrame:
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))),
            lambda s: s["c"],
        ).alias("codes")
    )


def pq_seed_books(
    df: DataFrame, id_col: str, vec_col: str, m: int, k: int,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """The md5-seeded (zero-training) PQ codebooks for ``df`` — the
    PINNED variant: fully deterministic and SQL-replayable, so an
    external oracle can reproduce codes and ADC rankings bit-for-bit.
    Production indexes refine these with :func:`pq_train`.

    ``dim``: vector dimensionality when the caller already knows it
    (e.g. from the query vector or the index metadata) — skips the
    one-row probe job against ``df``."""
    if dim is None:
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    subs = _subvectors(df, id_col, vec_col, m, sub)
    return _seed_books_from_subs(subs, id_col, m, k, sub)


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
) -> DataFrame:
    """Encode vectors against FIXED codebooks (no training) — the
    steady-state path of a production PQ index (train once on a sample,
    encode the 100 TB corpus with the frozen books), and the pinned
    oracle path (seed books → encode → ADC replays in SQL)."""
    m = len(books)
    sub = len(books[0][0])
    subs = _subvectors(df, id_col, vec_col, m, sub)
    return _codes_frame(_assign_codes(subs, books, id_col), id_col)


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    dim: int | None = None,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization (Jégou et al. 2011): split each D-dim
    vector into ``m`` subvectors and k-means each subspace to ``k``
    centroids; a vector's code is its m nearest-centroid ids — D floats
    compress to m small ints (the storage layer under IVF-PQ ANN
    indexes).

    ALL m subspaces train in ONE DataFrame loop — the subspace id ``j``
    is just another grouping key: assignment joins the exploded
    (id, j, sv) rows to the broadcast m·k-row centroid table on ``j``
    and min_by's within (id, j); re-estimation is one
    (j, cluster, pos) aggregate. Per iteration: one broadcast join +
    two aggregate shuffles regardless of m. Seeding is content-
    addressed per subspace (k smallest ``md5(id || ':' || j)``) —
    deterministic, RNG-free, replayable.

    Returns (codes frame (id, codes array<int> length m), codebooks
    [m][k][sub]). Only m·k centroid rows ever reach the driver.

    ``dim``: vector dimensionality when the caller already knows it
    (the query vector's length, the index metadata) — skips the
    one-row probe job against ``df``.
    """
    if iterations < 1:
        raise ValueError(
            "pq_train needs iterations >= 1 (codes come from the last "
            "assignment pass; with 0 passes there is nothing to encode)"
        )
    if dim is None:
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    with persisted(_subvectors(df, id_col, vec_col, m, sub)) as subs:
        books = _seed_books_from_subs(subs, id_col, m, k, sub)
        assigned = None
        for _ in range(iterations):
            assigned = _assign_codes(subs, books, id_col)
            new = group_centroids(assigned, ["j", "c"], "sv").collect()
            for r in new:  # empty clusters keep their previous centroid
                books[r["j"]][r["c"]] = [float(x) for x in r["centroid"]]
        return _codes_frame(assigned, id_col), books


def pq_topk(
    codes: DataFrame,
    books: list[list[list[float]]],
    query: list[float],
    id_col: str,
    n: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-n over PQ codes: the query is
    sliced once into the m subspaces and a tiny m·k distance table
    ||q_j − centroid_jc||² broadcasts; each row's approximate distance
    is the sum of m table lookups (explode codes → join (j, c) → one
    groupBy(id)), then TakeOrderedAndProject. Codes never decompress;
    the scan moves m small ints per vector, not D floats — the entire
    point of PQ at 100 TB."""
    m, k = len(books), len(books[0])
    sub = len(books[0][0])
    sp = codes.sparkSession
    dt_rows = []
    for j in range(m):
        qj = query[j * sub : (j + 1) * sub]
        for c in range(k):
            dt_rows.append(
                (j, c, float(sum((a - b) ** 2 for a, b in zip(qj, books[j][c]))))
            )
    dt = F.broadcast(sp.createDataFrame(dt_rows, "j int, c int, _d double"))
    ex = codes.select(
        F.col(id_col).alias(id_col), F.posexplode("codes").alias("j", "c")
    )
    return (
        ex.join(dt, ["j", "c"])
        .groupBy(id_col)
        .agg(F.sum("_d").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(n)
    )


def adc_search(
    coded: DataFrame,
    cent_rows: list,
    books: list[list[list[float]]],
    query: list[float],
    id_col: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """The QUERY half of IVF-PQ, shared by :func:`ivfpq_topk` (index
    built in-query) and ``ann_index.index_search`` (index read from
    parquet) — one code path, so a persisted-index search replays the
    pinned-oracle math bit-for-bit.

    ``coded`` is the (__id, cell, codes) table; ``cent_rows`` the
    collected centroid rows (cell, centroid_vec, centroid_norm) —
    bounded at num_cells, never data-sized. Probe the ``nprobe`` cells
    whose centroids are nearest the query by cosine (ties broken by
    cell id ascending), build the (cell, j, c) →
    ||q_resid_j − code_jc||² table of nprobe·m·pq_k rows, broadcast
    it, and resolve candidates with explode-join-groupBy +
    TakeOrderedAndProject. The scan moves m small ints per candidate
    in nprobe/num_cells of the corpus — codes never decompress.
    """
    m = len(books)
    pq_k = len(books[0])
    sub = len(books[0][0])
    q = [float(x) for x in query]
    qn = sum(x * x for x in q) ** 0.5 or 1.0

    def _cos(c):
        cv = list(c["centroid_vec"])
        cn = float(c["centroid_norm"]) or 1.0
        return sum(a * b for a, b in zip(q, cv)) / (qn * cn)

    probed = sorted(cent_rows, key=lambda c: (-_cos(c), c["cell"]))[:nprobe]
    dt_rows = []
    for c in probed:
        qres = [a - b for a, b in zip(q, c["centroid_vec"])]
        for j in range(m):
            qj = qres[j * sub : (j + 1) * sub]
            for ci in range(pq_k):
                dt_rows.append(
                    (c["cell"], j, ci,
                     float(sum((a - b) ** 2
                               for a, b in zip(qj, books[j][ci]))))
                )
    sp = coded.sparkSession
    dt = F.broadcast(
        sp.createDataFrame(dt_rows, "cell string, j int, c int, _d double")
    )
    ex = coded.select(
        "__id", "cell", F.posexplode("codes").alias("j", "c")
    )
    return (
        ex.join(dt, ["cell", "j", "c"])  # probed-cell filter IS the join
        .groupBy("__id")
        .agg(F.sum("_d").alias("adc_dist"))
        .select(F.col("__id").alias(id_col), "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    iterations: int = 3,
    pinned_books: bool = False,
) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011) — the production ANN index
    shape, composed from this engine's two halves: IVF coarse cells
    prune the corpus to the ``nprobe`` cells whose centroids are
    nearest the query, and product-quantized RESIDUALS (v − centroid,
    the classic IVFPQ encoding — residuals concentrate near 0, so the
    same codebook budget buys less distortion) rank candidates by
    asymmetric distance without ever decompressing.

    Dataflow: broadcast cell assignment (``ivf_assign``), residuals by
    one broadcast join, PQ trained on residuals in ONE multi-subspace
    k-means loop (``vectors.pq_train``); the query side collects only
    the ``num_cells`` centroid rows (bounded, same contract as
    k-means), builds a (cell, j, c) → ||q_resid_j − code_jc||² table of
    nprobe·m·pq_k rows, broadcasts it, and candidates in probed cells
    resolve with explode-join-groupBy + TakeOrderedAndProject. At scale
    the scan moves m bytes per candidate vector in nprobe/num_cells of
    the corpus — neither the table nor the codes ever ship to the
    driver.
    """
    from polars_fastx_spark.operators.similarity import (
        ivf_assign_to,
        ivf_centroids,
    )

    # collect the num_cells centroid rows ONCE, up front (bounded —
    # the same rows adc_search needs at the end), and feed every
    # downstream consumer a literal table: the cell assignment, the
    # residual join's broadcast build, and the final probe table stop
    # re-executing the TakeOrderedAndProject corpus scan the lazy
    # centroid frame carries
    lazy_cent = ivf_centroids(df, id_col, vec_col, num_cells)
    cent_rows = lazy_cent.collect()
    centroids = df.sparkSession.createDataFrame(cent_rows, lazy_cent.schema)
    assigned = ivf_assign_to(df, id_col, vec_col, centroids)
    with_cent = assigned.join(F.broadcast(centroids), "cell")
    # persisted across the EAGER codebook-construction jobs (dim probe,
    # seed-window collect, training collects), which would otherwise
    # each recompute the full vector-scan + centroid join; released
    # once the lazy result plan is built (its one action then evaluates
    # resid a single time)
    with persisted(
        with_cent.select(
            "__id", "cell",
            F.zip_with("__v", "centroid_vec", lambda a, b: a - b).alias("__r"),
        )
    ) as resid:
        if pinned_books:
            # zero-training md5-seeded books: fully SQL-replayable (the
            # pinned-oracle variant; also the frozen-codebook encode path)
            books = pq_seed_books(resid, "__id", "__r", m=m, k=pq_k,
                                  dim=len(query))
            codes = pq_encode(resid, "__id", "__r", books)
        else:
            codes, books = pq_train(resid, "__id", "__r", m=m, k=pq_k,
                                    iterations=iterations, dim=len(query))
        coded = codes.join(resid.select("__id", "cell"), "__id")
        return adc_search(
            coded, cent_rows, books, query, id_col, k=k, nprobe=nprobe
        )
