"""Deduplication operators (SURVEY.md §2.11 L1/L2) — exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Everything here is pure DataFrame composition — the only shuffles are
the groupBys/joins inherent to the algorithms:

- exact dedup: one hash-groupBy (map-side partial agg applies);
- MinHash LSH: signatures are computed row-local (no shuffle), banding
  is ONE groupBy on (band, band_key) — the classic way near-dup
  detection scales to 100 TB corpora: candidate pairs only ever
  materialize within a bucket, never O(n²);
- SimHash: row-local 64-bit signature + pigeonhole banding (hamming
  ≤ d pairs must share one of d+1 signature chunks) — again one
  groupBy.

MinHash uses lexicographic-min over ``md5(seed || shingle)`` hex
strings — i.e. min over a 128-bit hash family — deliberately chosen
over xxhash64 so an ANSI-SQL oracle (DuckDB ``md5``) can replicate
signatures bit-for-bit (SURVEY.md §5.1).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, functions as F

from polars_fastx_spark.functions.exprs import let_sql, sql_ident, sql_str
from polars_fastx_spark.session import persist, persisted


# ---------------------------------------------------------------- exact (L1)

def exact_duplicate_groups(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates: (text_hash, dup_count, ids sorted).

    Hash-groupBy on md5 of the column — the reference's generate_hash
    applied to dedup (reference: src/polars_fastx/fastx_parsers.py:47-48).
    """
    return (
        df.groupBy(F.md5(F.encode(F.col(col), "UTF-8")).alias("text_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.array_sort(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def drop_exact_duplicates(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct value of ``cols`` (arbitrary survivor)."""
    return df.dropDuplicates(cols)


# ------------------------------------------------------- MinHash + LSH (L2)

def _char_shingles_sql(s: str, k: int) -> str:
    return (
        f"array_distinct(transform(CASE WHEN length({s}) - {int(k)} + 1 >= 1 "
        f"THEN sequence(1, length({s}) - {int(k)} + 1) "
        f"ELSE CAST(array() AS ARRAY<INT>) END, "
        f"__i -> substring({s}, __i, {int(k)})))"
    )


def char_shingles(col: str | F.Column, k: int = 5) -> F.Column:
    """Distinct character k-shingles of a string column (array<string>)."""
    return let_sql(col, partial(_char_shingles_sql, k=k))


#: Mersenne prime 2^31-1 for the permutation family — products a·h stay
#: under 2^62, so 64-bit arithmetic never overflows (ANSI mode raises
#: on overflow).
_PERM_P = (1 << 31) - 1


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i·h + b_i) mod p.

    Derived from a fixed LCG so signatures are stable across runs,
    machines, and retries — no RNG state anywhere.
    """
    out, state = [], 0x5DEECE66D
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = 1 + state % (_PERM_P - 1)
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _PERM_P
        out.append((a, b))
    return out


def _minhash_sql(sh: str, num_hashes: int, family: str) -> str:
    """SQL text of :func:`minhash_signature` over the shingle array
    ``sh``. Every family is one template: a Python-built tree costs
    py4j round trips per node, and l_minhash_lsh's build took 2,032 of
    them before (346 after)."""
    p = _PERM_P
    if family in ("perm", "perm_md5"):
        consts = _perm_constants(num_hashes)
        a_arr = ", ".join(str(a) for a, _ in consts)
        b_arr = ", ".join(str(b) for _, b in consts)
        if family == "perm":
            base = f"pmod(xxhash64(__x), {p})"
        else:
            # 15 hex chars = 60 bits < 2^63: conv()'s string→bigint stays
            # exact and ANSI-overflow-safe
            base = (
                f"pmod(CAST(conv(substring(md5(encode(__x, 'UTF-8')), 1, 15), "
                f"16, 10) AS BIGINT), {p})"
            )
        folded = (
            f"aggregate(transform({sh}, __x -> {base}), "
            f"array_repeat(CAST({p} AS BIGINT), {int(num_hashes)}), "
            f"(__acc, __hv) -> zip_with(__acc, "
            f"zip_with(array({a_arr}), array({b_arr}), "
            f"(__a, __b) -> pmod(__a * __hv + __b, {p})), "
            f"(__mn, __val) -> least(__mn, __val)))"
        )
        # empty shingle set -> null signature entries (min of nothing)
        return f"transform({folded}, __val -> nullif(__val, CAST({p} AS BIGINT)))"
    if family == "md5":
        one = "array_min(transform({sh}, __x -> md5(encode(concat('{seed}:', __x), 'UTF-8'))))"
    elif family == "xxhash64":
        one = "array_min(transform({sh}, __x -> xxhash64({seed}, __x)))"
    else:
        raise ValueError(f"unknown minhash family: {family!r}")
    return "array(" + ", ".join(
        one.format(sh=sh, seed=seed) for seed in range(num_hashes)
    ) + ")"


def minhash_signature(
    shingles: F.Column | str, num_hashes: int = 16, family: str = "md5"
) -> F.Column:
    """Array of ``num_hashes`` minimum hash values over the shingle set
    — the classic MinHash estimator (Broder '97). Row-local, no shuffle.

    Families:
    - ``md5`` (default): h_s(x) = md5('s:' || x), min by hex string —
      bit-reproducible in ANSI SQL, so the DuckDB oracle can replicate
      signatures exactly. n separate passes, n hashes per shingle:
      the CORRECTNESS tier, priced for sf0.01 gates, not corpora.
    - ``xxhash64``: h_s(x) = xxhash64(s, x), min by int64 — JVM-native
      hash, still n passes over the shingle expression.
    - ``perm`` (production): ONE xxhash64 per shingle, then
      h_i = (a_i·h + b_i) mod (2³¹−1) permutations folded in a single
      ``aggregate`` pass — the shingle expression tree is evaluated
      exactly once (each ``array_min(transform(...))`` in the other
      families re-evaluates it; measured 43 s → ~4 s for 5000 docs ×
      16 hashes). Deterministic (a, b) from a fixed LCG; recall
      property-tested.
    - ``perm_md5``: the same one-pass permutation fold with the base
      hash swapped from xxhash64 to the first 60 bits of md5 —
      bit-replayable in DuckDB (xxhash64 is not), so the PRODUCTION
      fold structure carries a value-level CORRECTNESS row
      (l_minhash_perm) while ``perm`` keeps the faster JVM hash.
    """
    return let_sql(
        shingles, partial(_minhash_sql, num_hashes=num_hashes, family=family)
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    family: str = "md5",
) -> DataFrame:
    """(__id, band, band_key) — the persistable LSH INDEX of a corpus.

    This is the table a production pipeline writes to storage
    (partitioned by ``band``): signatures are computed once per
    document ever, and any later batch dedups against the corpus by
    joining its own band table to this one
    (:func:`minhash_lsh_candidates_between`) — no recompute, no
    re-scan of historical text. Band keys cast hash values to string
    before hashing so all families share one banding path (md5 strings
    pass through — SQL-oracle parity; xxhash64/perm int64s render in
    base 10).
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    assert num_hashes % bands == 0
    r = num_hashes // bands
    text = sql_ident(text_col)
    df = ensure_min_parallelism(df)  # signature fan-out must not fuse to a 1-task scan
    # Shingle-less docs (NULL text or shorter than one shingle) carry
    # no LSH evidence and must NOT be banded: their all-null signatures
    # would collapse to a shared md5('') band key, spuriously pairing
    # every short doc with every other. The SQL oracles express the
    # same rule as WHERE length(text) >= k.
    df = df.filter(f"length({text}) >= {int(shingle_k)}")
    # Project the shingle array into its own named column BEFORE the
    # signature expression consumes it. The md5/xxhash64 families
    # reference the shingle set once per hash (16 `array_min(
    # transform(...))` passes); inlined, each pass re-evaluates the
    # whole substring+array_distinct construction. Across a projection
    # boundary CollapseProject keeps a non-cheap alias referenced >1×
    # as a separate project, so codegen materializes the array once
    # per row and the 16 passes read the local value (measured 4.15 s
    # → 2.64 s noop on the sf0.1 band build; byte-identical output —
    # same expressions over the same input).
    shingled = df.selectExpr(
        f"{sql_ident(id_col)} AS __id",
        f"{_char_shingles_sql(text, shingle_k)} AS __sh",
    )
    band_keys = ", ".join(
        f"named_struct('band', {b}, 'band_key', md5(encode(concat_ws('|', "
        f"transform(slice(__sig, {b * r + 1}, {r}), __val -> CAST(__val AS STRING))), "
        f"'UTF-8')))"
        for b in range(bands)
    )
    return shingled.selectExpr(
        "__id", f"{_minhash_sql('__sh', num_hashes, family)} AS __sig"
    ).selectExpr("__id", f"inline(array({band_keys}))")


def minhash_lsh_candidates_between(
    new_bands: DataFrame,
    old_bands: DataFrame,
) -> DataFrame:
    """Incremental near-dup candidates for a NEW batch against an
    EXISTING corpus index plus itself: (doc_id, matched_id) pairs where
    a new doc shares an LSH band with any previously-indexed doc
    (new→old) or an earlier-id doc of its own batch (new→new, emitted
    once). Both inputs are :func:`minhash_band_table` frames — the old
    side typically read back from storage, never recomputed.

    One equi-join on (band, band_key); cost scales with the NEW batch,
    not corpus history. The union of this output with the batch's own
    ids is exactly what a full-corpus LSH pass would have produced for
    those ids — incremental == batch, no drift.
    """
    a = new_bands.alias("a")
    b = (
        old_bands.select("__id", "band", "band_key")
        .withColumn("__old", F.lit(True))
        .unionByName(
            new_bands.select("__id", "band", "band_key").withColumn(
                "__old", F.lit(False)
            )
        )
        .alias("b")
    )
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                # match any OLD doc, or a NEW doc with a smaller id
                # (each new-new pair once; never self)
                F.col("b.__old") | (F.col("b.__id") < F.col("a.__id")),
            ],
        )
        .select(
            F.col("a.__id").alias("doc_id"),
            F.col("b.__id").alias("matched_id"),
        )
        .distinct()
    )


def neardup_gate(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    family: str = "md5",
    keep_hits: bool = False,
) -> DataFrame:
    """Ingest-time near-duplicate GATE: filter ``batch`` by whether
    each document shares an LSH band with the corpus behind ``index``
    (a persisted :func:`minhash_band_table` frame — history is never
    recomputed, never re-scanned as text).

    Default drops possible near-dups of the corpus (the ingest filter);
    ``keep_hits=True`` keeps only them (route-to-verify topologies —
    band collision is a CANDIDATE signal, calibrated by the usual
    1-(1-j^r)^b curve, not a verified Jaccard). The decision is
    per-DOCUMENT: one band hit anywhere drops the doc, so the band
    semi-join collapses to distinct hit ids before rejoining the batch.

    Shingle-less docs (NULL/short text) carry no LSH evidence and pass
    the gate — same rule as :func:`minhash_band_table`. Intra-batch
    near-dups are NOT mutually gated (the index is the corpus as of
    the batch start); the streaming wiring
    (:func:`polars_fastx_spark.streaming.pipelines.stream_neardup_gate`)
    appends each batch's accepted bands to the index so LATER batches
    see them. Cost: one equi-join on (band, band_key) scaling with the
    batch; partition the stored index by ``band`` for pruned reads.
    """
    b = minhash_band_table(
        batch, id_col, text_col, shingle_k, num_hashes, bands, family
    )
    hits = (
        b.join(
            index.select("band", "band_key"), ["band", "band_key"], "left_semi"
        )
        .select(F.col("__id").alias("__hit_id"))
        .distinct()
    )
    how = "left_semi" if keep_hits else "left_anti"
    return batch.join(
        hits, F.col(id_col) == F.col("__hit_id"), how
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    family: str = "md5",
    collapse_exact: bool = True,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash LSH.

    ``num_hashes`` must be divisible by ``bands``; rows/band = n/b.
    Two documents become a candidate pair iff all rows of at least one
    band agree — P(candidate) ≈ 1-(1-j^r)^b for Jaccard j.

    The banded table is self-joined, so it is persisted
    (memory-and-disk; released with an enclosing ``cache_scope``).
    Without this, both join sides inline the full shingle→signature
    expression tree — signatures compute twice AND whole-stage codegen
    compiles 2× bands copies of the tree (measured ~8 s one-time JIT at
    16 hashes × 4 bands). Production pipelines at corpus scale should
    write the signature table to storage instead and join from there.

    ``collapse_exact`` (default True — the standalone-safe posture):
    candidate pairing inside a band bucket is quadratic in bucket size,
    so a flood of byte-identical documents hitting this operator
    directly would go O(n²) in one bucket. With the guard on, exact
    duplicates pre-collapse to their min-id representative (one
    md5-groupBy), only representatives are banded, and each duplicate
    attaches to its representative by a single STAR edge — O(n) rows
    for n identical docs. The pair SET differs from the classic
    all-pairs contract, but its transitive closure (what every dedup
    consumer — components, keep-one, group splits — computes) is
    identical: duplicates share all band keys, so anything reachable
    from one is reachable from the representative. Pass False for the
    literal all-pairs contract (the SQL-oracle definition).

    ``bucket_cap``: the companion guard for DISTINCT-but-near-identical
    floods, which ``collapse_exact`` cannot see (different bytes, same
    band keys). Buckets whose size exceeds the cap switch from
    all-pairs to a STAR on the bucket's min id — O(|bucket|) rows
    instead of O(|bucket|²). Within a single bucket the all-pairs graph
    is a clique, and a star over the same members has the identical
    transitive closure, so connectivity consumers (components,
    keep-one, group splits) see EXACTLY the same dup groups as the
    uncapped operator. What degrades is per-pair precision: a
    Jaccard-verification consumer only sees (bucket-min, member) pairs
    for capped buckets, so a verifier may discard star edges whose
    endpoints aren't directly similar even though bucket-mates of the
    hub are. That is the standard recall/cost trade of production cap
    mitigations; :func:`lsh_bucket_profile` reports how many buckets a
    cap would touch before you commit to one. Default None = uncapped.
    """
    assert bucket_cap is None or bucket_cap >= 1, (
        "bucket_cap must be >= 1 (None disables the cap)"
    )
    with_bands = minhash_band_table(
        df, id_col, text_col, shingle_k, num_hashes, bands, family
    )
    star = None
    if collapse_exact:
        # Collapse AT THE BAND TABLE, not before it: signatures still
        # compute on the scan-parallel full corpus (signing duplicates
        # is linear work; pre-collapsing via a join would hand the
        # expensive signature fan-out an AQE-coalesced 1-partition
        # frame at small scale — measured 2x on the dedup queries),
        # while the quadratic band self-join sees only representatives.
        # md5(NULL) is NULL and an equi-join never matches NULL keys —
        # without the sentinel every NULL-text doc silently vanishes
        # from the id map (and so from the star edges and the closure).
        # NULL texts form ONE exact-dup group, same as the SQL window
        # PARTITION BY md5(text); the sentinel cannot collide with a
        # real 32-hex md5.
        hashed = df.select(
            F.col(id_col).alias("__cid"),
            F.coalesce(
                F.md5(F.encode(F.col(text_col), "UTF-8")), F.lit("<null>")
            ).alias("__chash"),
        )
        reps = hashed.groupBy("__chash").agg(F.min("__cid").alias("__crep"))
        idmap = hashed.join(reps, "__chash").select("__cid", "__crep")
        star = idmap.filter(F.col("__cid") != F.col("__crep")).select(
            F.col("__crep").alias("id_a"), F.col("__cid").alias("id_b")
        )
        rep_ids = idmap.filter(F.col("__cid") == F.col("__crep")).select(
            F.col("__cid").alias("__id")
        )
        with_bands = with_bands.join(rep_ids, "__id")
    with_bands = persist(with_bands)
    if bucket_cap is not None:
        # One extra agg on the SAME (band, band_key) key the self-join
        # shuffles on — co-partitioned, no new exchange regime. Small
        # buckets keep the all-pairs contract; oversized ones emit a
        # bucket-local star (closure-identical, see docstring).
        bstats = with_bands.groupBy("band", "band_key").agg(
            F.count("*").alias("__bsz"), F.min("__id").alias("__bmin")
        )
        annotated = with_bands.join(bstats, ["band", "band_key"])
        with_bands = annotated.filter(F.col("__bsz") <= bucket_cap).select(
            "__id", "band", "band_key"
        )
        bucket_star = annotated.filter(
            (F.col("__bsz") > bucket_cap) & (F.col("__id") != F.col("__bmin"))
        ).select(F.col("__bmin").alias("id_a"), F.col("__id").alias("id_b"))
    a, b = with_bands.alias("a"), with_bands.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.band") == F.col("b.band"),
            F.col("a.band_key") == F.col("b.band_key"),
            F.col("a.__id") < F.col("b.__id"),
        ],
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    if bucket_cap is not None:
        # fold the bucket stars into the same distinct: a capped
        # bucket's star edge can duplicate an all-pairs edge from
        # another (small) bucket the same pair shares, and one hub can
        # reach a member through several capped buckets
        pairs = pairs.unionByName(bucket_star)
    pairs = pairs.distinct()
    # exact-collapse star edges can't duplicate anything: their id_b
    # (the collapsed duplicates) never reach the band table
    return pairs.unionByName(star) if star is not None else pairs


def lsh_bucket_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    family: str = "md5",
) -> DataFrame:
    """Bucket-size histogram of the LSH index — the observability
    companion to ``minhash_lsh_candidates(bucket_cap=...)``: one row
    per bucket size with the bucket count and the all-pairs candidate
    volume that size class would generate (n·(n-1)/2 per bucket).
    Candidate cost is Σ|bucket|² — this is the table you read before
    choosing a cap, and the thing to monitor for flood regressions in
    a production corpus index."""
    bt = minhash_band_table(
        df, id_col, text_col, shingle_k, num_hashes, bands, family
    )
    sizes = bt.groupBy("band", "band_key").agg(
        F.count("*").alias("bucket_size")
    )
    return sizes.groupBy("bucket_size").agg(
        F.count("*").alias("n_buckets"),
        (
            F.count("*")
            * F.col("bucket_size")
            * (F.col("bucket_size") - 1)
            / 2
        )
        .cast("bigint")
        .alias("allpairs_candidates"),
    )


def ngram_jaccard(
    df_pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification stage).

    Joins the (small) candidate-pair table back to the corpus twice —
    each join is key-equi and broadcastable when candidates are few.
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    # the candidate-pair side needs the same repair: a pair table built
    # by a broadcast (non-equi) self-join inherits its left side's scan
    # partitioning — one task on a single-row-group file — and the
    # per-pair shingle-set intersections below fuse to it
    df_pairs = ensure_min_parallelism(df_pairs)
    sh = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("__id"), char_shingles(text_col, k).alias("__sh")
    )
    out = (
        df_pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a", "id_b",
        (inter / F.nullif(union, F.lit(0))).alias("jaccard"),
    )


def shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_shingles: bool = False,
) -> DataFrame:
    """The inverted-index postings table: one (``__id``, ``shingle``)
    row per DISTINCT character k-shingle per document — the relational
    form every containment/all-pairs-similarity operator joins on.
    Built by a row-local explode (no shuffle); dedup within a doc is
    array_distinct before the explode, so the explode never emits a
    duplicate posting.

    ``hash_shingles=True`` maps shingles to xxhash64 longs BEFORE the
    explode, so every downstream shuffle/join moves 8-byte keys
    instead of k-char strings — count-identical up to 64-bit
    collisions (~n²/2⁶⁵, negligible at any corpus size that fits an
    index) but not replayable by an ANSI-SQL oracle (the md5-vs-
    xxhash64 family split the MinHash tier already makes). Measured
    NEUTRAL at k=8 (the string key is already 8 bytes; the hash pass
    offsets the shrink) — it pays when shingles are long: word
    n-grams or k ≫ 8, where the uncompressed key would be 5-10× the
    long."""
    sh = char_shingles(text_col, k)
    if hash_shingles:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(sh).alias("shingle"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Asymmetric containment near-dup detection: pairs where the
    smaller document's shingles are mostly a subset of the other's —
    quotation, excerpt, and boilerplate-inclusion cases that symmetric
    Jaccard LSH structurally misses (a 200-char doc fully quoted
    inside a 20k-char doc has Jaccard ≈ 0.01 but containment 1.0; no
    banding scheme tuned for Jaccard ≥ 0.5 ever pairs them).

    ``containment(a in b) = |S(a) ∩ S(b)| / |S(a)|`` over distinct
    character ``k``-shingles. Returns one row per unordered pair
    (id_a < id_b) with ``common``, both set sizes, both directed
    containments, and ``max_containment``; filtered to
    ``max_containment >= threshold``.

    Dataflow is the Bayardo/WWW'07 all-pairs inverted-index shape,
    fully relational: postings (doc, shingle) → self-equi-join ON
    SHINGLE (the inverted index IS the join key — candidate pairs only
    materialize where a shingle is shared, never O(n²)) → count per
    pair → join two ≤n-row size tables. At 100 TB the only quadratic
    risk is a hot shingle shared by many documents; ``max_shingle_df``
    is the standard frequency cut — shingles whose document frequency
    exceeds the cap are dropped from the index (computed with one
    co-partitioned groupBy on the same shingle key the join shuffles
    on). A dropped shingle can only REMOVE evidence, so reported
    containment is a lower bound for pairs touching hot shingles and
    recall is what degrades, never precision — same trade as
    ``minhash_lsh_candidates(bucket_cap=...)``, and
    :func:`shingle_df_profile` is the observability table to read
    before choosing the cap.

    A float cap in (0, 1) is RELATIVE: shingles in more than
    ``floor(frac · n_docs)`` documents are cut. An absolute cap tuned
    at one corpus size silently over-prunes at 10× (the same shared
    vocabulary is 10× hotter); the fraction keeps the cut's meaning —
    "boilerplate = appears in more than x% of the corpus" — scale-
    invariant. The corpus count enters relationally (1-row broadcast
    cross-join, the totals-as-broadcast pattern), never a collect.

    Choosing the cap — measured frontier (SCALE.md round 6, planted
    quote cliques + universal boilerplate header): at 50k docs, caps
    1% / 2% / 4% all found the identical 74 true pairs (recall is FLAT
    across this range — evidence shingles are rare by construction;
    only boilerplate sits above even the 1% line) at Σ df² 277-303M
    and 30-56 s. The cap protects cost, not precision, so prefer the
    TIGHTEST cap whose ``shingle_df_profile`` tail keeps your
    expected-overlap shingles. A scale-invariant cap does NOT make
    cost linear: legitimately common shingles' df grows WITH the
    corpus, so Σ df² grows ~quadratically (measured ×9.2 for a ×3
    corpus — exactly df²'s prediction). At 100 TB, run the cheap tiers
    first (exact dedup, then MinHash LSH) so clone families never
    reach this join, and read ``shingle_df_profile`` before every cap
    change.
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    post = shingle_postings(
        ensure_min_parallelism(df), id_col, text_col, k, hash_shingles
    )
    # per-doc distinct-shingle count = the SIZE of the (already
    # array_distinct) shingle array — a row-local projection. The old
    # post.groupBy(__id).count() form re-ran the whole shingle explode
    # a second time as the aggregate's map side (the sizes consumer
    # shares no exchange with the postings join) plus a full groupBy
    # shuffle, one of three explode executions the l_containment plan
    # carried. hash_shingles keeps the row count (transform preserves
    # array length, and the explode never deduped hash collisions
    # either). Docs with zero shingles now appear with __sz = 0 where
    # they were absent before — indistinguishable after the inner
    # joins below, since a doc without postings can never be in
    # ``common``.
    sizes = ensure_min_parallelism(df).select(
        F.col(id_col).alias("__id"),
        # bigint: the count() this replaces was LongType
        F.size(char_shingles(text_col, k)).cast("bigint").alias("__sz"),
    )
    if max_shingle_df is not None:
        dfreq = post.groupBy("shingle").agg(F.count("*").alias("__df"))
        if isinstance(max_shingle_df, float):
            assert 0.0 < max_shingle_df < 1.0, (
                "fractional max_shingle_df must be in (0, 1)"
            )
            ndocs = df.agg(F.count("*").alias("__ndocs"))
            post = (
                post.join(dfreq, "shingle")
                .crossJoin(F.broadcast(ndocs))
                .filter(
                    F.col("__df")
                    <= F.floor(F.lit(max_shingle_df) * F.col("__ndocs"))
                )
                .select("__id", "shingle")
            )
        else:
            post = (
                post.join(dfreq, "shingle")
                .filter(F.col("__df") <= max_shingle_df)
                .select("__id", "shingle")
            )
    a, b = post.alias("a"), post.alias("b")
    common = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .groupBy(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("size_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("size_b"))
    c_ab = F.col("common") / F.col("size_a")
    c_ba = F.col("common") / F.col("size_b")
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "common", "size_a", "size_b",
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
            F.greatest(c_ab, c_ba).alias("max_containment"),
        )
        .filter(F.col("max_containment") >= threshold)
    )


def containment_drop_decision(
    pairs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """The dedup DECISION over :func:`containment_pairs` output: which
    document of each containment pair is redundant and drops. A doc
    mostly contained in another adds little novel content, so the
    CONTAINED side drops (the quoted excerpt, not its host); mutual
    containment (both directions ≥ threshold — near-identical sets)
    drops the larger id, keeping min-id as the survivor — the same
    deterministic-survivor rule as the exact-dedup and SemDeDup
    decisions. A doc contained in several hosts reports its smallest
    ``dup_of`` so the decision is re-runnable. Returns
    (doc_id, dup_of) for dropped docs — anti-join the corpus on
    ``doc_id`` to apply."""
    ca, cb = F.col("containment_a_in_b"), F.col("containment_b_in_a")
    hit = pairs.filter(F.greatest(ca, cb) >= threshold)
    only_a = (ca >= threshold) & ~(cb >= threshold)
    return (
        hit.select(
            F.when(only_a, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "doc_id"
            ),
            F.when(only_a, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "dup_of"
            ),
        )
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )


def containment_pairs_between(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Directed containment of each BENCHMARK document inside each
    CORPUS document — the graded decontamination score: ``|S(bench) ∩
    S(corpus_doc)| / |S(bench)|`` over distinct character
    ``k``-shingles, per (corpus_id, bench_id) pair. Where
    :func:`polars_fastx_spark.operators.text.decontaminate` answers
    "does this corpus doc share ANY n-gram with the eval suite"
    (binary, one bit per doc), this answers "HOW MUCH of WHICH
    benchmark item does it contain" — the thresholded removal score
    production pipelines apply (a doc quoting 90% of an eval item is
    contamination; one sharing a stock phrase is not).

    Same inverted-index shape as :func:`containment_pairs`, but the
    join is corpus-postings × BROADCAST benchmark-postings — eval
    suites are MBs against a 100 TB corpus, so the benchmark side
    ships to every executor and the corpus side streams with no
    shuffle at all on the corpus postings (the groupBy on
    (corpus_id, bench_id) is the only exchange). ``max_shingle_df``
    cuts corpus-hot shingles by ABSOLUTE document frequency (the
    corpus side of the Bayardo frequency filter); as in
    :func:`containment_pairs` a cut only removes evidence, so scores
    are lower bounds and recall is what degrades.

    Returns (corpus_id, bench_id, common, size_bench, containment)
    filtered to ``containment >= threshold``.
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    cpost = shingle_postings(
        ensure_min_parallelism(corpus), id_col, text_col, k, hash_shingles
    ).withColumnRenamed("__id", "corpus_id")
    if max_shingle_df is not None:
        dfreq = cpost.groupBy("shingle").agg(F.count("*").alias("__df"))
        cpost = (
            cpost.join(dfreq, "shingle")
            .filter(F.col("__df") <= max_shingle_df)
            .select("corpus_id", "shingle")
        )
    bpost = shingle_postings(
        benchmark, id_col, text_col, k, hash_shingles
    ).withColumnRenamed("__id", "bench_id")
    bsizes = bpost.groupBy("bench_id").agg(F.count("*").alias("size_bench"))
    common = (
        cpost.join(F.broadcast(bpost), "shingle")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(F.broadcast(bsizes), "bench_id")
        .select(
            "corpus_id", "bench_id", "common", "size_bench",
            (F.col("common") / F.col("size_bench")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def shingle_df_profile(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Document-frequency histogram of the shingle inverted index —
    the observability companion to ``containment_pairs(
    max_shingle_df=...)``: one row per df value with the shingle count
    and the pair volume that frequency class generates in the
    inverted-index join (df·(df-1)/2 per shingle). Σ df² is the join
    cost; this is the table you read before choosing a cap (mirror of
    :func:`lsh_bucket_profile` for the containment path)."""
    post = shingle_postings(df, id_col, text_col, k)
    dfreq = post.groupBy("shingle").agg(F.count("*").alias("doc_freq"))
    return dfreq.groupBy("doc_freq").agg(
        F.count("*").alias("n_shingles"),
        (F.count("*") * F.col("doc_freq") * (F.col("doc_freq") - 1) / 2)
        .cast("bigint")
        .alias("join_pairs"),
    )


# ------------------------------------------ persisted containment index (L2)

#: containment index meta schema (one row per index)
_CONTAIN_META_SCHEMA = "id_col string, k int, hash_shingles boolean"


def _containment_append(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int,
    hash_shingles: bool,
    epoch: int,
) -> None:
    """Land one epoch of the containment index: the batch's postings,
    set sizes, and per-shingle document frequencies, each under
    ``<table>/epoch=<id>`` overwritten WHOLE (a retried epoch replaces
    itself — the same idempotence move as ``index_add``). Write order
    is sizes → dfreq → postings: ``postings`` is the commit authority
    (readers intersect the side tables down to postings' committed
    epochs), so a crash mid-append leaves an epoch readers never see
    and the retry overwrites. Writes ``meta/`` first if absent, so the
    streaming wiring can initialize an index from its first batch."""
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism
    from polars_fastx_spark.sources.sinks import hadoop_fs

    spark = batch.sparkSession
    mp, fs = hadoop_fs(spark, f"{path}/meta/_SUCCESS")
    if not fs.exists(mp):
        spark.createDataFrame(
            [(id_col, k, hash_shingles)], _CONTAIN_META_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with persisted(
        shingle_postings(
            ensure_min_parallelism(batch), id_col, text_col, k, hash_shingles
        )
    ) as post:  # shingle once: sizes, dfreq, and the postings write
        post.groupBy("__id").agg(F.count("*").alias("__sz")).write.mode(
            "overwrite"
        ).parquet(f"{path}/sizes/epoch={epoch}")
        post.groupBy("shingle").agg(F.count("*").alias("__df")).write.mode(
            "overwrite"
        ).parquet(f"{path}/dfreq/epoch={epoch}")
        post.write.mode("overwrite").parquet(f"{path}/postings/epoch={epoch}")


def containment_index_build(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 8,
    hash_shingles: bool = False,
) -> None:
    """Materialize the containment tier's inverted index
    (:func:`shingle_postings` + per-doc set sizes + per-shingle df) as
    an epoch-partitioned parquet index — the persisted form of the
    round-5 batch operator, mirroring what ``minhash_band_table`` is
    to the MinHash tier: shingle the corpus ONCE, then every later
    batch gates against history (:func:`containment_gate`) without
    ever re-shingling it. Per-shingle document frequency is maintained
    ON ADD (one small pre-aggregated table per epoch; corpus df = sum
    across epochs), so the hot-shingle cap never re-aggregates the
    data-sized postings table.

    Layout under ``path/``::

        meta/              one row: id_col, k, hash_shingles
        postings/epoch=N/  (__id, shingle)   — commit authority
        sizes/epoch=N/     (__id, __sz)      — distinct-shingle count
        dfreq/epoch=N/     (shingle, __df)   — per-epoch doc frequency

    A rebuild into a used path starts clean (stale epochs AND
    tombstones deleted first — the lesson of the ANN index's
    rebuild-hygiene fix: a stale tombstone would hide the fresh
    epoch-0 postings)."""
    from polars_fastx_spark.sources.sinks import hadoop_fs

    spark = df.sparkSession
    _, fs = hadoop_fs(spark, path)
    for sub in ("meta", "postings", "sizes", "dfreq", "tombstones"):
        sp = hadoop_fs(spark, f"{path}/{sub}")[0]
        if fs.exists(sp):
            fs.delete(sp, True)
    _containment_append(df, path, id_col, text_col, k, hash_shingles, 0)


def containment_index_add(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    epoch: int | None = None,
) -> int:
    """Incremental add: shingle ONLY the new batch (under the index's
    frozen k / id_col / hashing from ``meta/``) and append it as the
    next epoch — history is never re-shingled, cost scales with the
    batch. Same pinned-``epoch`` idempotence contract as the ANN
    index's ``index_add`` for redelivered batches. Returns the epoch
    written.

    Ids must be unique among LIVE documents (the gate-before-add
    discipline: a batch is gated, survivors added once). Re-adding a
    live id leaves both copies' postings live — its ``common`` counts
    double and containment scores can exceed 1; to replace a
    document, :func:`containment_index_delete` it first (the re-add
    lands above the tombstone on the shared epoch counter and
    revives with the new content)."""
    spark = batch.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    if epoch is None:
        # shared postings∪tombstones counter: a re-add must land AT or
        # ABOVE the deleting tombstone or it would stay hidden
        epoch = _next_containment_epoch(spark, path)
    _containment_append(
        batch, path, meta["id_col"], text_col, meta["k"],
        meta["hash_shingles"], epoch,
    )
    return epoch


def _next_containment_epoch(spark: SparkSession, path: str) -> int:
    """Next epoch id on the shared postings/tombstones counter — a
    delete must land ABOVE every current postings epoch so the
    ``epoch < tombstone_epoch`` hide rule covers them all."""
    from polars_fastx_spark.sources.sinks import committed_epochs

    eps = committed_epochs(spark, f"{path}/postings") + committed_epochs(
        spark, f"{path}/tombstones"
    )
    return (max(eps) + 1) if eps else 0


def containment_index_delete(
    spark: SparkSession,
    path: str,
    ids: DataFrame | list,
    epoch: int | None = None,
) -> int:
    """Delete documents from the containment index — the takedown
    lane, mirroring ``ann_index.index_delete``: land a TOMBSTONE epoch
    (one ``__id`` row per deletion) instead of rewriting the
    data-sized postings. Read paths hide a deleted doc's postings and
    size rows (``epoch < tombstone_epoch`` — strictly below, so a
    later :func:`containment_index_add` of the same id revives it) and
    correct the maintained per-shingle df by counting the HIDDEN
    postings — no re-shingling, the correction is computed from rows
    the index already stores. :func:`containment_index_compact`
    applies tombstones physically and drops them. Same
    pinned-``epoch`` overwrite idempotence as the add lane. Returns
    the epoch written."""
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(ids.columns[0]).alias("__id")).distinct()
    else:
        if not ids:
            raise ValueError("containment_index_delete: empty id list")
        df = spark.createDataFrame([(i,) for i in ids], ["__id"]).distinct()
    from polars_fastx_spark.sources.sinks import committed_epochs

    eps = committed_epochs(spark, f"{path}/postings")
    if eps:
        id_type = (
            spark.read.parquet(f"{path}/postings/epoch={eps[0]}")
            .schema["__id"].dataType
        )
        df = df.select(F.col("__id").cast(id_type).alias("__id"))
    if epoch is None:
        epoch = _next_containment_epoch(spark, path)
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/tombstones/epoch={epoch}"
    )
    return epoch


def _containment_history(
    spark: SparkSession, path: str, before_epoch: int | None
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """(postings, sizes, dfreq) for the index's committed history,
    optionally restricted to ``epoch < before_epoch`` — the streaming
    retry discipline: a replayed micro-batch must never gate against
    its own failed attempt's append (the same bound applies to
    tombstone epochs). Epoch sets intersect down to postings'
    committed epochs (the commit authority). Tombstones hide a doc's
    postings/size rows with ``epoch < tombstone_epoch`` and emit
    NEGATIVE dfreq correction rows counted from the hidden postings,
    so ``sum(__df)`` per shingle stays the LIVE document frequency.
    Returns None when no history epoch qualifies (first batch)."""
    from polars_fastx_spark.sources.sinks import committed_epochs

    eps = committed_epochs(spark, f"{path}/postings")
    if before_epoch is not None:
        eps = [e for e in eps if e < before_epoch]
    if not eps:
        return None

    def _tbl(name: str) -> DataFrame:
        avail = set(committed_epochs(spark, f"{path}/{name}"))
        use = [e for e in eps if e in avail]
        return spark.read.option("basePath", f"{path}/{name}").parquet(
            *[f"{path}/{name}/epoch={e}" for e in use]
        )

    posts = _tbl("postings")
    sizes = _tbl("sizes")
    dfreq = _tbl("dfreq").drop("epoch")

    tomb_eps = committed_epochs(spark, f"{path}/tombstones")
    if before_epoch is not None:
        tomb_eps = [e for e in tomb_eps if e < before_epoch]
    if tomb_eps:
        tomb = (
            spark.read.option("basePath", f"{path}/tombstones")
            .parquet(*[f"{path}/tombstones/epoch={e}" for e in tomb_eps])
            .select(
                F.col("__id").alias("__t_id"),
                F.col("epoch").alias("__t_e"),
            )
        )

        def _hide(df: DataFrame, how: str) -> DataFrame:
            return df.join(
                F.broadcast(tomb),
                (df["__id"] == tomb["__t_id"])
                & (df["epoch"] < tomb["__t_e"]),
                how,
            )

        df_corr = (
            _hide(posts, "left_semi")
            .groupBy("shingle")
            .agg((-F.count(F.lit(1))).alias("__df"))
        )
        dfreq = dfreq.unionByName(df_corr)
        posts = _hide(posts, "left_anti")
        sizes = _hide(sizes, "left_anti")
    return posts.drop("epoch"), sizes.drop("epoch"), dfreq


def containment_hits(
    batch: DataFrame,
    path: str,
    text_col: str,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    before_epoch: int | None = None,
) -> DataFrame:
    """Scored containment evidence of a NEW batch against the
    persisted index — the join :func:`containment_gate` decides on,
    exposed for route-to-verify topologies and the SQL oracle. Returns
    (doc_id, matched_id, common, size_batch, size_hist,
    containment_batch_in_hist, containment_hist_in_batch,
    max_containment) filtered to ``max_containment >= threshold``,
    where ``doc_id`` is the batch side and ``matched_id`` history.

    The batch side is shingled fresh and BROADCAST onto the history
    postings scan (an ingest batch is MBs against a 100 TB index), so
    the only exchange on history is the per-pair count groupBy — the
    directed twin of ``containment_pairs_between`` with history on
    disk. ``max_shingle_df`` cuts history-hot shingles using the
    MAINTAINED df table (sum of per-epoch ``dfreq`` — never a
    re-aggregation of postings); int = absolute df cap, float in
    (0, 1) = fraction of history's document count (scale-invariant,
    the totals-as-broadcast pattern). As everywhere in this tier a cut
    only removes evidence: scores are lower bounds, recall degrades,
    precision never. Sizes stay UNCAPPED on both sides (same rule as
    ``containment_pairs``). Empty history returns an empty frame with
    the full schema."""
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    spark = batch.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    hist = _containment_history(spark, path, before_epoch)
    bpost = shingle_postings(
        ensure_min_parallelism(batch), meta["id_col"], text_col,
        meta["k"], meta["hash_shingles"],
    ).withColumnRenamed("__id", "doc_id")
    bsizes = bpost.groupBy("doc_id").agg(F.count("*").alias("size_batch"))
    if hist is None:
        c = F.lit(None).cast("double")
        return (
            bpost.limit(0)
            .join(bsizes.limit(0), "doc_id")
            .select(
                "doc_id", F.col("doc_id").alias("matched_id"),
                F.lit(0).cast("bigint").alias("common"),
                "size_batch", F.col("size_batch").alias("size_hist"),
                c.alias("containment_batch_in_hist"),
                c.alias("containment_hist_in_batch"),
                c.alias("max_containment"),
            )
        )
    hpost, hsizes, hdf = hist
    hpost = hpost.withColumnRenamed("__id", "matched_id")
    if max_shingle_df is not None:
        tot_df = hdf.groupBy("shingle").agg(F.sum("__df").alias("__df"))
        if isinstance(max_shingle_df, float):
            assert 0.0 < max_shingle_df < 1.0, (
                "fractional max_shingle_df must be in (0, 1)"
            )
            ndocs = hsizes.agg(F.count("*").alias("__ndocs"))
            allowed = (
                tot_df.crossJoin(F.broadcast(ndocs))
                .filter(
                    F.col("__df")
                    <= F.floor(F.lit(max_shingle_df) * F.col("__ndocs"))
                )
                .select("shingle")
            )
        else:
            allowed = tot_df.filter(
                F.col("__df") <= max_shingle_df
            ).select("shingle")
        hpost = hpost.join(allowed, "shingle", "left_semi")
    common = (
        hpost.join(F.broadcast(bpost), "shingle")
        .groupBy("doc_id", "matched_id")
        .agg(F.count("*").alias("common"))
    )
    hs = hsizes.select(
        F.col("__id").alias("matched_id"), F.col("__sz").alias("size_hist")
    )
    c_bh = F.col("common") / F.col("size_batch")
    c_hb = F.col("common") / F.col("size_hist")
    return (
        common.join(F.broadcast(bsizes), "doc_id")
        .join(hs, "matched_id")
        .select(
            "doc_id", "matched_id", "common", "size_batch", "size_hist",
            c_bh.alias("containment_batch_in_hist"),
            c_hb.alias("containment_hist_in_batch"),
            F.greatest(c_bh, c_hb).alias("max_containment"),
        )
        .filter(F.col("max_containment") >= threshold)
    )


def containment_gate(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    keep_hits: bool = False,
    before_epoch: int | None = None,
) -> DataFrame:
    """Ingest-time containment GATE: drop batch documents that are a
    containment near-dup of the indexed corpus — contained in a
    history doc (a re-quoted excerpt) OR containing one (a wrapper
    around known content) — without ever re-shingling history. The
    within-corpus completion of the gate family: exact
    (``stream_dedup``), Jaccard (``neardup_gate``), decontamination
    (``stream_decontam_gate``), containment (this). Decision is
    per-document (any hit drops), mirroring :func:`neardup_gate`:
    ``keep_hits=True`` routes hits instead; shingle-less docs carry no
    evidence and pass; intra-batch pairs are NOT mutually gated (the
    index is the corpus as of the batch start — the streaming wiring
    appends each batch's accepted postings so later batches see them).

    Incremental == batch: the hits against an index built from corpus
    C are exactly ``containment_pairs(C ∪ batch)`` restricted to
    (batch, C) cross pairs at the same threshold (parity-tested) —
    modulo the df cap, which here counts HISTORY frequency only."""
    hits = (
        containment_hits(
            batch, path, text_col, threshold, max_shingle_df, before_epoch
        )
        .select(F.col("doc_id").alias("__hit_id"))
        .distinct()
    )
    how = "left_semi" if keep_hits else "left_anti"
    return batch.join(hits, F.col(id_col) == F.col("__hit_id"), how)


def containment_index_compact(
    spark: SparkSession,
    path: str,
    upto_epoch: int | None = None,
    min_epochs: int = 2,
) -> None:
    """Maintenance: fold each of the index's three epoch-partitioned
    tables (postings / sizes / dfreq) below ``upto_epoch`` into one
    partition via the shared crash-safe staged swap
    (``sinks.compact_epoch_partitions``) — gate results are
    unaffected (membership is what the joins consume, not epoch
    layout; per-shingle df is a SUM across epochs, invariant under the
    fold only per-table... dfreq rows are preserved as-is, so the sum
    is unchanged). Postings fold LAST: it is the commit authority, so
    a crash mid-compaction can only hide side-table epochs that
    postings still lists — and those reads fall back to the folded
    target, which compact names below ``upto_epoch`` by construction.

    With live tombstones the per-table fold would be WRONG (folded
    rows land at the target epoch, above the tombstones that used to
    hide them — silent resurrection), so deletions dispatch to the
    tombstone-applying fold (:func:`_compact_containment_with_tombstones`),
    which filters the dead postings physically, REDERIVES sizes and
    dfreq from the live fold (exact — the fold covers those epochs
    entirely), and drops the applied tombstones."""
    from polars_fastx_spark.sources.sinks import (
        committed_epochs,
        compact_epoch_partitions,
    )

    if upto_epoch is None:
        eps = committed_epochs(spark, f"{path}/postings") + committed_epochs(
            spark, f"{path}/tombstones"
        )
        upto_epoch = (max(eps) + 1) if eps else 0
    tomb_eps = committed_epochs(spark, f"{path}/tombstones")
    stale_stage = any(
        n.startswith("_ctmp_e")
        for n in _containment_stage_names(spark, path)
    )
    if tomb_eps or stale_stage:
        _compact_containment_with_tombstones(
            spark, path, upto_epoch, min_epochs
        )
        return
    for sub in ("sizes", "dfreq", "postings"):
        compact_epoch_partitions(
            spark, f"{path}/{sub}", upto_epoch, min_epochs=min_epochs
        )


def _containment_stage_names(spark: SparkSession, path: str) -> list[str]:
    from polars_fastx_spark.sources.sinks import hadoop_fs

    p, fs = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.getPath().getName().startswith("_ctmp_e")
    ]


def _compact_containment_with_tombstones(
    spark: SparkSession,
    path: str,
    upto_epoch: int,
    min_epochs: int,
) -> None:
    """Tombstone-applying fold of all three containment tables — the
    ``ann_index._compact_codes_with_tombstones`` discipline adapted to
    a multi-table index. The stage is ONE directory
    (``_ctmp_e<target>_t<upto>``) holding folded postings plus sizes
    and dfreq REDERIVED from the folded live postings (exact: the
    fold covers those epochs entirely), authorized by a ``_COMMIT``
    marker whose name carries both the fold target and the tombstone
    bound — recovery never re-derives either from the (possibly
    half-deleted) source listing.

    Swap order after commit: delete each table's source epochs, delete
    applied tombstones (``<= upto``), THEN rename the three staged
    subdirs in. A crash before the marker → the stage is garbage,
    sources intact, rebuild. After the marker → rerun finishes: a
    staged subdir missing was already renamed; tombstones deleted
    before the renames can never re-hide folded rows (folded rows sit
    at the target epoch, below the dropped tombstones' ids' bound).
    Single maintainer assumed, as everywhere in this family."""
    from polars_fastx_spark.sources.sinks import committed_epochs, hadoop_fs

    _, fs = hadoop_fs(spark, path)

    def _p(rel: str):
        return hadoop_fs(spark, f"{path}/{rel}")[0]

    def _swap(stage_name: str, target: int, t_upto: int) -> None:
        # applied tombstones drop FIRST: once any staged table lands
        # at the target epoch, a surviving tombstone (T > target)
        # would hide the folded live rows
        for tid in committed_epochs(spark, f"{path}/tombstones"):
            if tid <= t_upto:
                fs.delete(_p(f"tombstones/epoch={tid}"), True)
        tp = _p("tombstones")
        if fs.exists(tp) and not fs.listStatus(tp):
            fs.delete(tp, True)  # drained — drop the empty parent
        # per-table: source deletion is GUARDED by that table's staged
        # subdir still existing — a missing subdir means a crashed
        # attempt already renamed it in, and deleting "sources ≤
        # target" then would destroy the renamed fold itself (the
        # multi-table trap the single-dir compactors never face)
        for sub in ("postings", "sizes", "dfreq"):
            src = _p(f"{stage_name}/{sub}")
            if not fs.exists(src):
                continue  # this table fully swapped already
            for eid in committed_epochs(spark, f"{path}/{sub}"):
                if eid <= target:
                    fs.delete(_p(f"{sub}/epoch={eid}"), True)
            dst = _p(f"{sub}/epoch={target}")
            if fs.exists(dst):
                fs.delete(dst, True)
            fs.rename(src, dst)
        fs.delete(_p(stage_name), True)

    # recover a committed stage FIRST; drop uncommitted garbage
    for sname in _containment_stage_names(spark, path):
        body = sname[len("_ctmp_e"):]
        try:
            t_s, u_s = body.split("_t", 1)
            target, t_upto = int(t_s), int(u_s)
        except ValueError:
            continue
        if fs.exists(_p(f"{sname}/_COMMIT")):
            _swap(sname, target, t_upto)
        else:
            fs.delete(_p(sname), True)

    eps = [
        e
        for e in committed_epochs(spark, f"{path}/postings")
        if e < upto_epoch
    ]
    tomb_eps = committed_epochs(spark, f"{path}/tombstones")
    applied = [e for e in tomb_eps if e <= upto_epoch]
    if not eps:
        # nothing to fold; tombstones <= upto hide only epochs < upto,
        # of which none exist — safe to drop
        for tid in applied:
            fs.delete(_p(f"tombstones/epoch={tid}"), True)
        return
    if len(eps) < min_epochs and not tomb_eps:
        return
    target = max(eps)
    stage = f"_ctmp_e{target}_t{upto_epoch}"
    posts = spark.read.option("basePath", f"{path}/postings").parquet(
        *[f"{path}/postings/epoch={e}" for e in eps]
    )
    if tomb_eps:
        tomb = (
            spark.read.option("basePath", f"{path}/tombstones")
            .parquet(*[f"{path}/tombstones/epoch={e}" for e in tomb_eps])
            .select(
                F.col("__id").alias("__t_id"),
                F.col("epoch").alias("__t_e"),
            )
        )
        posts = posts.join(
            F.broadcast(tomb),
            (posts["__id"] == tomb["__t_id"])
            & (posts["epoch"] < tomb["__t_e"]),
            "left_anti",
        )
    with persisted(posts.drop("epoch")) as live:
        live.write.mode("overwrite").parquet(f"{path}/{stage}/postings")
        live.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz")).write.mode(
            "overwrite"
        ).parquet(f"{path}/{stage}/sizes")
        live.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("__df")
        ).write.mode("overwrite").parquet(f"{path}/{stage}/dfreq")
    fs.create(_p(f"{stage}/_COMMIT"), True).close()
    _swap(stage, target, upto_epoch)


# ------------------------------------------------------------- SimHash (L2)

def _md5_words64_sql(token: str) -> str:
    """First 64 bits of ``md5(token)`` as a struct of two 32-bit words
    (hi = hex chars 1–8, lo = chars 9–16, each ``conv``'d in one call),
    so signature bit i reads as ``getbit(hi, 31-i)`` / ``getbit(lo,
    63-i)`` — bit-identical to the old nibble expansion (hex char j is
    nibble j, MSB-first within the word). ``token`` must be a bound
    lambda variable and the digest is let-bound, so each token hashes
    once (an outer computed expression would re-evaluate per
    reference). Two ``conv`` calls replace the previous 16 per-nibble
    substring+conv pairs and the nested 4-bit array expansion — a much
    smaller interpreted expression tree per token and zero intermediate
    array allocations."""
    return (
        f"element_at(transform(array(md5(encode({token}, 'UTF-8'))), "
        f"__dig -> named_struct("
        f"'hi', CAST(conv(substring(__dig, 1, 8), 16, 10) AS BIGINT), "
        f"'lo', CAST(conv(substring(__dig, 9, 8), 16, 10) AS BIGINT))), 1)"
    )


def _simhash_sql(c: str, bits: int, family: str) -> str:
    """SQL text of :func:`simhash` over the string ``c``."""
    whitespace = sql_str(r"\s+")
    tokens = f"split(trim({c}), {whitespace})"
    # The bit-count fold runs as 64 SCALAR folds over the let-bound
    # per-token hash array instead of one fold that zip_with's a fresh
    # 64-int array per token: the old shape allocated two 64-element
    # arrays per token per row (token bits + the zip_with accumulator),
    # churning the heap and destabilizing JIT on long documents; the
    # scalar folds allocate nothing per step. Integer addition is
    # order-independent, so the counts — and the signature — are
    # bit-identical. The hash array is let-bound so each token hashes
    # ONCE, not once per bit position.
    if family == "md5":
        if bits != 64:
            raise ValueError("md5 simhash family is fixed at 64 bits")
        # hi covers signature bits 0..31 (MSB-first), lo 32..63
        halves = ", ".join(
            f"transform(sequence(31, 0, -1), __p -> aggregate(__words, 0, "
            f"(__acc, __w) -> __acc + CASE WHEN getbit(__w.{word}, __p) = 1 "
            f"THEN 1 ELSE -1 END))"
            for word in ("hi", "lo")
        )
        counts = (
            f"element_at(transform(array(transform({tokens}, "
            f"__tk -> {_md5_words64_sql('__tk')})), "
            f"__words -> concat({halves})), 1)"
        )
    elif family == "xxhash64":
        counts = (
            f"element_at(transform(array(transform({tokens}, __tk -> xxhash64(__tk))), "
            f"__hashes -> transform(sequence(0, {int(bits) - 1}), "
            f"__i -> aggregate(__hashes, 0, (__acc, __hv) -> __acc + "
            f"CASE WHEN getbit(__hv, __i) = 1 THEN 1 ELSE -1 END))), 1)"
        )
    else:
        raise ValueError(f"unknown simhash family: {family!r}")
    sig = f"transform({counts}, __cnt -> CASE WHEN __cnt > 0 THEN 1 ELSE 0 END)"
    # null text must stay a null SIGNATURE (the banding join then drops
    # the doc, matching the oracle's unnest semantics); without the
    # guard the scalar folds would each return null and the sign map
    # would turn the null ELEMENTS into an all-zero signature
    return f"CASE WHEN {c} IS NULL THEN CAST(NULL AS ARRAY<INT>) ELSE {sig} END"


def simhash(col: str | F.Column, bits: int = 64, family: str = "xxhash64") -> F.Column:
    """SimHash of whitespace tokens (Charikar '02) as an array<int> of
    0/1 bits, row-local.

    Each token hashes to 64 bits; signature bit i is the sign of
    Σ_tokens (±1 per token bit i). Pure higher-order-function fold —
    JVM-side, no Python. The bit-array representation (vs packed int64)
    keeps banding/hamming in plain array ops.

    Families (mirrors :func:`minhash_signature`):
    - ``xxhash64`` (default, production): one JVM hash per token, bit i
      read via ``getbit``.
    - ``md5``: token bits from the md5 hex digest (first 64 bits) — the
      CORRECTNESS tier, bit-replicable in ANSI SQL so the DuckDB oracle
      can brute-force the identical signatures (SURVEY.md §5.1).
      Requires ``bits == 64``.
    """
    return let_sql(col, partial(_simhash_sql, bits=bits, family=family))


def hamming_distance(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two bit-array signatures."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, d: acc + d,
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    family: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_distance.

    Pigeonhole banding: split the 64-bit signature into
    ``max_distance+1`` chunks; any pair within distance d must agree on
    ≥1 chunk, so candidates come from one groupBy-equal-chunk join, then
    exact hamming verification. No O(n²) stage. The banding is EXACT
    (not approximate): results equal brute-force all-pairs hamming,
    which is how the DuckDB oracle checks the ``md5`` family.
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)  # 64-bit/token hashing fans out row-locally
    sig = df.select(
        F.col(id_col).alias("__id"), simhash(text_col, family=family).alias("__sig")
    )
    return hamming_near_duplicates(sig, max_distance)


def hamming_band_table(
    sig: DataFrame, max_distance: int = 3
) -> DataFrame:
    """(__id, __sig, chunk, chunk_val) — the persistable hamming INDEX
    of a 64-bit signature corpus: the pigeonhole banding of
    :func:`hamming_near_duplicates` exposed as a table, the exact
    analog of :func:`minhash_band_table` for the hamming family. Write
    it partitioned by ``chunk`` and later batches gate against it
    (:func:`hamming_gate`) without recomputing or re-decoding history
    — the full signature rides along (64 small ints), so gate
    decisions can verify EXACT hamming, not just band collision."""
    chunks = max_distance + 1
    width = 64 // chunks
    chunk_vals = ", ".join(
        f"named_struct('chunk', {i}, 'chunk_val', array_join(transform("
        f"slice(__sig, {i * width + 1}, {width}), __val -> CAST(__val AS STRING)), ''))"
        for i in range(chunks)
    )
    return sig.selectExpr("__id", "__sig", f"inline(array({chunk_vals}))")


def hamming_near_duplicates(
    sig: DataFrame, max_distance: int = 3
) -> DataFrame:
    """Pairs within hamming distance ``max_distance`` over ANY 64-bit
    signature table (``__id``, ``__sig`` array<int> of bits) — the
    pigeonhole banding + exact-verify engine extracted from the
    SimHash path so other modalities reuse it (image dHash:
    ``multimodal.image_near_duplicates``; audio energy fingerprints:
    ``multimodal.audio_near_duplicates``). EXACT, never O(n²): a pair
    within distance d must agree on one of d+1 signature chunks."""
    banded = hamming_band_table(sig, max_distance)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming_distance(F.col("a.__sig"), F.col("b.__sig")).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_distance)


def hamming_gate(
    batch_sig: DataFrame,
    index: DataFrame,
    max_distance: int = 3,
    keep_hits: bool = False,
) -> DataFrame:
    """Ingest-time near-duplicate gate for the hamming family: filter
    a batch's signature table against the corpus behind ``index`` (a
    persisted :func:`hamming_band_table` frame). Candidates come from
    the chunk equi-join; UNLIKE the LSH gate the decision is then
    verified by exact hamming against the index row's stored full
    signature — signatures are 64 small ints, so the index affords
    carrying them and the gate is exact, not candidate-level. History
    is never re-decoded (the point, for media: decode cost dominates).
    Returns the batch_sig rows that pass (``keep_hits=True``: only the
    hits — route-to-review topologies). Incremental contract mirrors
    :func:`neardup_gate`: intra-batch dups are not mutually gated;
    append the accepted rows' band table to the index so later batches
    see them."""
    banded = hamming_band_table(batch_sig, max_distance)
    idx = index.select(
        F.col("__sig").alias("__isig"), "chunk", "chunk_val"
    )
    hits = (
        banded.join(idx, ["chunk", "chunk_val"])
        .filter(
            hamming_distance(F.col("__sig"), F.col("__isig"))
            <= max_distance
        )
        .select(F.col("__id").alias("__hit_id"))
        .distinct()
    )
    how = "left_semi" if keep_hits else "left_anti"
    return batch_sig.join(
        hits, F.col("__id") == F.col("__hit_id"), how
    )
