"""Hybrid retrieval primitives (L4+/RAG surface): rank fusion over
multiple retrievers.

Reciprocal Rank Fusion (Cormack et al., SIGIR 2009): each retriever
contributes ``1 / (k + rank)`` for its top-N candidates; documents sum
contributions across retrievers. RRF is the standard way to combine a
lexical scorer (BM25, ``text.bm25_scores``) with a semantic one
(embedding cosine) without score calibration.

Scale shape: each retriever is cut to its top-N FIRST via
``orderBy().limit(N)`` — a TakeOrderedAndProject (per-partition top-N,
one tiny merge; no global sort) — so the only global window ever runs
over ≤ N rows per source. Candidate union and the fusion groupBy move
≤ ``sources × N`` rows total, independent of corpus size.

Reference parity: the reference has no retrieval surface; this is
north-star extension surface per /root/repo/BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from polars_fastx_spark import session


def rrf_fuse(
    sources: list[tuple[DataFrame, str]],
    id_col: str,
    top_n: int = 100,
    k: int = 60,
) -> DataFrame:
    """Fuse retriever outputs by Reciprocal Rank Fusion.

    ``sources`` is a list of (df, score_col); each df carries ``id_col``
    and a relevance score (higher = better). Ranks break ties by id
    ascending, so the fusion is fully deterministic. Returns
    (id, rrf, n_sources) for every candidate surfaced by ≥1 retriever.
    """
    if not sources:
        raise ValueError("rrf_fuse needs at least one (df, score_col) source")
    contribs = []
    for df, score_col in sources:
        order = [F.col(score_col).desc(), F.col(id_col).asc()]
        top = df.select(id_col, score_col).orderBy(*order).limit(top_n)
        # window over ≤ top_n rows (bounded by the limit above) — the
        # single-partition sort is on a driver-sized candidate set
        ranked = top.select(
            id_col, F.row_number().over(Window.orderBy(*order)).alias("__r")
        )
        contribs.append(
            ranked.select(
                id_col, (F.lit(1.0) / (F.lit(float(k)) + F.col("__r"))).alias("__c")
            )
        )
    all_c = contribs[0]
    for c in contribs[1:]:
        all_c = all_c.unionByName(c)
    return all_c.groupBy(id_col).agg(
        F.sum("__c").alias("rrf"), F.count("*").alias("n_sources")
    )


def _cosine(a, b):
    """Cosine via the shared JVM-side fold (operators.similarity) —
    whole-stage-codegen, no Python. Callers round to 9 dp so last-ulp
    association differences vs other engines collapse."""
    from polars_fastx_spark.operators import similarity

    return similarity.cosine(a, b, similarity.l2_norm(a), similarity.l2_norm(b))


def mmr_rerank(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    pool_n: int = 16,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
    re-rank each query's candidate pool so the selected set balances
    relevance against redundancy — the standard diversity post-step
    between ANN retrieval and a RAG context window.

    Greedy selection, unrolled as ``k`` relational rounds (the
    ``l_kmeans`` pattern — no Python stage, no driver loop): rank 1 is
    pure relevance; rank r maximizes ``lam·rel − (1−lam)·max_sim`` to
    the already-selected set, ties broken by id ascending. Scores are
    rounded to 9 dp before every argmax so the selection path is
    engine-reproducible (a DuckDB oracle replays it decision-for-
    decision).

    Scale shape: the pool is cut to ``pool_n`` per query FIRST (window
    over the broadcast query×corpus relevance pass), so every greedy
    round joins ≤ pool_n candidates against ≤ k selected rows per
    query — bounded work per query, parallel across queries. The pool
    and each round's pick are materialized through eager
    ``localCheckpoint`` boundaries (executor storage, never the
    driver): every round references both twice, so without the
    lineage cut the STATIC plan — and Catalyst analysis time — grows
    2^k even though caching would dedupe execution.

    Returns (query_id, rank, vec_id, mmr_score): rank 1..k per query,
    ``mmr_score`` = the rounded score that won the round (rank 1: the
    relevance itself).
    """
    if k < 1:
        raise ValueError("mmr_rerank needs k >= 1")
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), dbl.alias("v")
    )
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cand = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "v",
            F.round(_cosine(F.col("qv"), F.col("v")), 9).alias("rel"),
        )
    )
    w_pool = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    # Eager localCheckpoint, not persist: every greedy round references
    # the pool AND the accumulated selection twice, so under lazy
    # caching the round-r subtree appears 2^(k-r) times in the STATIC
    # plan — execution dedupes through the cache, but Catalyst analysis
    # and the plan-audit exchange count blow up exponentially in k
    # (measured: 484 exchanges in the static plan at k=5). A checkpoint
    # truncates the lineage to a flat scan per round — the same
    # materialization boundary the iterative graph loops use. The pool
    # is <= queries x pool_n rows in EXECUTOR storage (never collected
    # to the driver), so the boundary is cheap at any query-batch size.
    pool = session.local_checkpoint(
        cand.withColumn("__rn", F.row_number().over(w_pool))
        .filter(F.col("__rn") <= pool_n)
        .drop("__rn")
    )
    # Each round's pick gets the same checkpoint boundary (a
    # <= len(query_ids)-row frame), keeping the plan linear in k.
    sel = session.local_checkpoint(
        pool.withColumn("__rn", F.row_number().over(w_pool))
        .filter(F.col("__rn") == 1)
        .select(
            "qid", "vec_id", "v", "rel",
            F.lit(1).alias("rank"), F.col("rel").alias("mmr"),
        )
    )
    for r in range(2, k + 1):
        prev = sel.select("qid", F.col("vec_id").alias("svid"), F.col("v").alias("sv"))
        remaining = pool.join(
            sel.select("qid", "vec_id"), ["qid", "vec_id"], "left_anti"
        )
        scored = (
            remaining.join(prev, "qid")
            .groupBy("qid", "vec_id")
            .agg(
                F.first("rel").alias("rel"),
                F.first("v").alias("v"),
                F.max(
                    F.round(_cosine(F.col("v"), F.col("sv")), 9)
                ).alias("max_sim"),
            )
            .select(
                "qid", "vec_id", "v", "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("max_sim")
                ).alias("mmr"),
            )
        )
        w_pick = Window.partitionBy("qid").orderBy(
            F.col("mmr").desc(), F.col("vec_id").asc()
        )
        pick = session.local_checkpoint(
            scored.withColumn("__rn", F.row_number().over(w_pick))
            .filter(F.col("__rn") == 1)
            .select("qid", "vec_id", "v", "rel", F.lit(r).alias("rank"), "mmr")
        )
        sel = sel.unionByName(pick)
    return sel.select(
        F.col("qid").alias("query_id"),
        "rank",
        "vec_id",
        F.round(F.col("mmr"), 6).alias("mmr_score"),
    )
