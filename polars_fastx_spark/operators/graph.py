"""Connected components over a pair graph — dup-group clustering.

Near-duplicate detection emits PAIRS (LSH/SimHash candidates); dedup
pipelines need GROUPS ("keep one doc per component"). Components come
from iterative min-label propagation:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until no label changes. Each iteration is two shuffles (the
message join + the min aggregation) over the edge list; iteration
count is the graph diameter, which for near-dup graphs is tiny (dup
clusters are near-cliques). The driver loop only ever collects ONE
scalar (the converged? count) per iteration — no vertex data reaches
the driver, so the algorithm scales with the cluster, not the driver.

This is the label-propagation style of the MapReduce CC literature
(e.g. Kang et al.'s HCC in PEGASUS); the large-star/small-star variant
is the upgrade path if diameters ever get large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_fastx_spark import session


@session.cache_scope()
def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the minimum node id in the component.

    Raises after ``max_iterations`` without convergence (near-dup
    graphs converge in a handful of rounds; a non-converging input
    signals a pathological graph better surfaced than silently
    mislabeled). Convergence is O(log diameter): each round combines
    one neighbor-min propagation with one pointer-doubling self-join
    (component ← label(component)), so the default 20 iterations cover
    any component a real corpus can produce (diameter up to ~2^19;
    measured: 65k nodes incl. a diameter-5000 chain labels in 31 s /
    ≤20 rounds on local[32] — the doubling-free loop would need 5000
    rounds).
    Each round references the previous label table ~4 times
    (messages + union + the doubling self-join), so the logical plan
    grows 4^rounds without lineage cuts; a ``localCheckpoint`` every
    round keeps it bounded — cheap, since the label table is
    materialized for the convergence check anyway and pointer doubling
    keeps total rounds logarithmic. For integral node ids the
    convergence check is a single exact Σcomponent scan (labels only
    ever decrease); string ids fall back to a join-based count.
    """
    from pyspark.sql.types import IntegralType

    # Persist the INPUT edge projection before symmetrizing: the union
    # references ``edges`` twice, and for LSH dedup callers that
    # lineage is the banded self-join — without this cache the
    # quadratic candidate join executed once PER UNION BRANCH (block-
    # level locking makes the racing branch wait for, then read, the
    # one computation). Released as soon as bidir's own cache is
    # materialized (the first collect or checkpoint below) — bidir
    # serves every later consumer, so holding ein past that point only
    # adds heap pressure.
    ein = session.persist(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    bidir = session.persist(
        ein.union(ein.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = session.persist(
        bidir.select("u").distinct().select(
            F.col("u").alias("node"), F.col("u").alias("component")
        )
    )
    # Convergence detection: labels are monotonically non-increasing
    # (the min-propagation includes each node's own label, and pointer
    # doubling substitutes component ← label(component) ≤ component),
    # so for integral node ids "no node changed" ⟺ "the exact
    # Σcomponent is unchanged" — one partial-agg scan over the blocks
    # the checkpoint just materialized, instead of re-shuffling BOTH
    # full label tables into a join every round. decimal(38,0) keeps
    # the sum exact for any realistic table (10^38 ≫ max_long · rows).
    # Non-integral ids (strings) keep the join-based count.
    sum_check = isinstance(
        labels.schema["component"].dataType, IntegralType
    )
    _label_sum = F.sum(
        F.col("component").cast("decimal(38,0)")
    ).alias("s")
    prev_sum = labels.agg(_label_sum).collect()[0][0] if sum_check else None
    if sum_check:
        # that collect materialized labels ← bidir ← ein; bidir's own
        # blocks now serve every consumer, so ein's can go
        session.release(ein)
    for i in range(max_iterations):
        # neighbor labels flow along edges; keep the minimum seen
        msgs = bidir.join(
            labels, bidir.v == labels.node, "inner"
        ).select(F.col("u").alias("node"), F.col("component"))
        propagated = (
            labels.select("node", "component")
            .union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling (path compression): component ←
        # label(component). One extra self-join per round turns
        # O(diameter) convergence into O(log diameter) — a
        # million-node near-dup chain converges in ~20 rounds
        # instead of a million. Every component value is itself a
        # node id, so the lookup is an equi-join on the label
        # table; left+coalesce keeps already-minimal labels.
        parent = propagated.select(
            F.col("node").alias("__pn"), F.col("component").alias("__pc")
        )
        new_labels = session.local_checkpoint(
            propagated.join(
                parent, propagated.component == F.col("__pn"), "left"
            ).select(
                "node",
                F.coalesce(F.col("__pc"), F.col("component")).alias(
                    "component"
                ),
            )
        )
        if i == 0 and not sum_check:
            session.release(ein)  # the string path's first materialization
        if sum_check:
            new_sum = new_labels.agg(_label_sum).collect()[0][0]
            changed = int(new_sum != prev_sum)
            prev_sum = new_sum
        else:
            changed = (
                new_labels.join(
                    labels.withColumnRenamed("component", "old"),
                    "node",
                )
                .filter(F.col("component") != F.col("old"))
                .count()
            )
        # everything live now derives from new_labels' OWN blocks
        session.release(labels)
        labels = new_labels
        if changed == 0:
            return session.keep(labels)
    raise RuntimeError(
        f"connected_components: no convergence in {max_iterations} iterations"
    )


def duplicate_groups_from_pairs(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pairs → (component, size, member ids sorted) groups."""
    cc = connected_components(pairs, id_a, id_b)
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("group_size"),
            F.array_sort(F.collect_list("node")).alias("members"),
        )
    )


#: pagerank's rounds between lineage cuts (the rounds between persist)
_PAGERANK_CHECKPOINT_EVERY = 5


@session.cache_scope()
def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank by power iteration over a distributed edge list.

    Per iteration: one equi-join (ranks ⋈ edges on src) + one
    aggregation (sum contributions by dst) — both shuffle on node id,
    so pre-partitioning edges by ``src`` lets every round reuse the
    same layout. Dangling-node mass (out-degree 0) is redistributed
    uniformly, keeping ``sum(rank) == 1`` exactly — the invariant the
    tests pin. Ranks persist each round and the lineage is cut via
    localCheckpoint every ``_PAGERANK_CHECKPOINT_EVERY`` iterations (an
    unbounded iterative plan otherwise re-executes from the source and
    eventually overwhelms the planner). Only 1-row aggregates
    (dangling mass) reach the driver.

    ``init_ranks`` WARM-STARTS the iteration from a previous release's
    (node, rank) vector instead of uniform: nodes absent from it get
    the uniform prior, then the vector renormalizes to sum 1 (the
    invariant every round preserves). Power iteration converges to the
    same fixed point from any positive start — warm-starting buys
    fewer rounds to a given tolerance after a small release delta,
    it never changes the answer (pinned by the cold==warm parity
    test). Pinned-round oracle queries keep the uniform start so the
    SQL unroll replays exactly.
    """
    sc = edges.sparkSession
    # Materialize the caller's edge lineage ONCE: nodes, deg and ed all
    # derive from it, and without the persist each materializes it
    # separately (for l_crawl_rank that lineage is the whole
    # html_links → normalize_url extraction — measured 2 full
    # executions before this).
    edges = session.persist(edges)
    nodes = session.persist(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # empty subgraphs are a normal pipeline state (a filter stage
        # can drain the edge list) — return an empty ranks frame, don't
        # ZeroDivisionError on 1/n
        return sc.createDataFrame([], "node long, rank double").select(
            F.col("node").cast(edges.schema[src].dataType), "rank"
        )
    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    # edge list annotated with the sender's out-degree, reused all rounds
    ed = session.persist(
        edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
        .join(deg, "node")
    )
    # The DANGLING NODE SET (out-degree 0) is a property of the graph,
    # not of the rank vector — compute it once instead of rebuilding a
    # per-round anti-join hash over ed's one-row-per-EDGE node column
    # (|edges| build rows × rounds before; |nodes| once now). Only the
    # dangling MASS changes per round. Same node set, so the summed
    # rank set per round is unchanged (sum order may differ; the
    # oracles' round(7) absorbs order noise by design).
    dangling_nodes = session.persist(
        nodes.join(ed.select("node"), "node", "left_anti")
    )
    if init_ranks is None:
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    else:
        r0 = nodes.join(
            init_ranks.select("node", F.col("rank").alias("__warm")),
            "node",
            "left",
        ).select(
            "node",
            F.coalesce("__warm", F.lit(1.0 / n)).alias("rank"),
        )
        tot = r0.agg(F.sum("rank")).collect()[0][0] or 1.0  # 1-row
        ranks = r0.select(
            "node", (F.col("rank") / F.lit(float(tot))).alias("rank")
        )
    # the persisted frame one generation back must stay cached until
    # `ranks` itself materializes, else every round recomputes the
    # whole chain from source (O(rounds²) total work); the latest
    # checkpoint stays until a newer one supersedes it
    parent: DataFrame | None = None
    last_ck: DataFrame | None = None
    for i in range(iterations):
        contribs = (
            ranks.join(ed, "node")
            .groupBy(F.col("to").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        # semi-join against the precomputed dangling-node set (same
        # rows as the old per-round anti-join vs ed's senders)
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        # that collect materialized `ranks` into its own cache blocks,
        # so the frame it computes FROM is now redundant
        session.release(parent)
        parent = None
        base = (1.0 - damping) / n + damping * dangling / n
        new_ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % _PAGERANK_CHECKPOINT_EVERY == 0:
            # self-contained: nothing live reads `ranks` any more
            new_ranks = session.local_checkpoint(new_ranks)
            session.release(ranks, last_ck)
            last_ck = new_ranks
        else:
            new_ranks = session.persist(new_ranks)
            parent = ranks if ranks.is_cached else None
        ranks = new_ranks
    if ranks.is_cached:
        # the final frame is still lazy: materialize it (one round
        # of compute, from the warm parent cache) before the scope
        # drops the tables its lineage would otherwise rebuild from
        ranks = session.local_checkpoint(ranks)
    return session.keep(ranks)


def triangle_count(edges: DataFrame, u_col: str = "u", v_col: str = "v") -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    simple graph, as two equi-joins — the classic wedge-close plan.

    ``edges`` must hold each undirected edge ONCE in canonical
    orientation (u < v, no self-loops); callers with raw pairs get
    there with ``least/greatest + distinct``. Orienting every edge
    low→high id makes each triangle {a<b<c} appear exactly once as the
    wedge (a,b)+(b,c) closed by (a,c), so the count needs no /6
    correction and — crucially for scale — the wedge join fans out on
    ordered adjacency only, about half the undirected degree per
    vertex. (The standard refinement for power-law graphs, orienting by
    DEGREE then id instead of id alone, drops the hub fan-out from
    O(d_max^2) to O(m^{1.5}) total and slots in here by just changing
    the orientation key; id-orientation is kept because it needs no
    degree precomputation pass.)

    Both joins are plain shuffled-hash equi-joins on vertex ids (AQE
    splits skewed hubs); the per-vertex rollup is one explode +
    groupBy. Returns (vertex, n_triangles), vertices in no triangle
    omitted.
    """
    u, v = F.col(u_col), F.col(v_col)
    e1 = edges.select(u.alias("a"), v.alias("b"))
    e2 = edges.select(u.alias("b"), v.alias("c"))
    e3 = edges.select(u.alias("a"), v.alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "vertex"
            )
        )
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
