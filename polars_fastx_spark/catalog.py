"""Declared query catalog — the engine's correctness contract.

Every operator from SURVEY.md §2 gets ≥1 entry: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables. The driver runs both at
sf0.01 and hash-compares; tests/test_oracle_parity.py runs the same
comparison locally.

Canonicalization discipline (SURVEY.md §4.4 / FIXTURES.md §C), applied
in BOTH the Spark builder and the oracle SQL:
- explicit ORDER BY with unique tie-break keys, NULLS FIRST/LAST spelled
  out;
- float aggregates wrapped in round() (2 money, 4 similarity, 6 ratios,
  9 frequencies);
- ``events.ts`` is bigint **nanoseconds** on the Spark side (either
  nanosAsLong or canonicalized from TIMESTAMP(MICROS) by
  ``normalize_events_ts``) and TIMESTAMP on the DuckDB side — all
  comparisons go through epoch **microseconds** (both truncate ns→µs
  identically);
- timestamps never appear raw in results: strings (date_format) or
  epoch ints only;
- DuckDB integer sums are HUGEINT → ::BIGINT casts in oracle SQL;
- ragged maps are exploded to (key, value) rows or serialized as
  sorted-key JSON;
- approx/streaming/UDF-dependent ops omit the oracle → the driver
  records the weaker rows-only check (their Status in SURVEY.md §2 is
  PLANNED, not DECLARED).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polars_fastx_spark import session
from polars_fastx_spark.functions import psl as pslf
from polars_fastx_spark.functions import seq as sq
from polars_fastx_spark.functions import sketches
from polars_fastx_spark.functions import urls as urlsf
from polars_fastx_spark.operators import (
    ann_index,
    bpe,
    dedup,
    multimodal,
    retrieval,
    sampling,
    similarity,
    text,
    timeseries,
    vectors,
)
from polars_fastx_spark.operators.asof import join_asof
from polars_fastx_spark.operators.scd import scd2_from_log


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → rows-only check
    doc: str = ""
    #: optional one-time setup (spark, sf_dir) -> None — the part of a
    #: lifecycle query that is BUILD cost, not query cost (e.g. the
    #: session-cached ANN index a search reuses). Benchmarks time it
    #: separately so per-query numbers compare like with like; the
    #: driver protocol ignores it (fn() self-prepares when not warmed).
    prepare: Callable[[SparkSession, str], None] | None = None


QUERIES: dict[str, QuerySpec] = {}


def _q(name: str, oracle: str | None, doc: str = "", prepare=None):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle, doc, prepare)
        return fn

    return deco


#: fixed-point factor for money sums — 6 implied decimals. Summands are
#: ≤6-decimal by contract; group totals must stay under 2^63/10^6 ≈
#: 9.2e12 (ANSI overflow raises rather than corrupting).
_FP = 1_000_000


def _fp(x: str) -> str:
    """SQL text: exact 6-decimal fixed-point LONG for a ≤6-decimal
    double ``x`` (SQL text over the frame's columns): the scaled value
    sits within 2e-5 of its integer, so a sign-aware half offset +
    truncating cast recovers it exactly — pure codegen arithmetic, no
    per-row BigDecimal. The money helpers are SQL text because a
    Python-built tree cost a py4j round trip per node (~60 per ``_fp``,
    a third of q_agg_tpch1's build)."""
    return (
        f"CAST(({x}) * {_FP} + CASE WHEN ({x}) < 0 THEN -0.5D ELSE 0.5D END "
        f"AS BIGINT)"
    )


def _dsum(x: str, scale: int = 2):
    """Order-independent money sum (§4.4) of SQL text ``x``: summands
    become exact fixed-point longs (6 implied decimals — exact for the
    testdata's ≤6-decimal money values), so the group total is integer
    arithmetic — associative, identical in any engine and any
    partitioning. A double sum's last-ulp noise DECIDES the cent
    whenever the true total ends at an exact half (.xx5 — common for
    money), which is how q_tpch9 went red at sf0.001. The total
    rescales via an exact DECIMAL multiply (never division — DuckDB
    promotes decimal division to double) and half-up rounds in decimal
    space; equals the oracle's `round(sum(x::DECIMAL(18,6)), s)` by
    construction, at long-sum speed (decimal accumulation measured 3x
    slower on the Q1 flagship)."""
    return F.expr(
        f"CAST(round(CAST(sum({_fp(x)}) AS DECIMAL(38,0)) "
        f"* CAST('0.000001' AS DECIMAL(7,6)), {int(scale)}) AS DOUBLE)"
    )


def _davg(x: str, scale: int = 4):
    """Order-independent mean of SQL text ``x``: exact fixed-point sum ÷
    count, rounded on a double that is bit-identical across engines."""
    return F.expr(
        f"round(CAST(sum({_fp(x)}) AS DOUBLE) / {_FP} / count(1), {int(scale)})"
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog-table relation, memoized per session.

    A fresh ``spark.read.parquet`` builds a new InMemoryFileIndex and
    re-reads footers for schema every call (~0.3-0.4 s even for a
    single-file table); a warehouse engine resolves tables through a
    metastore that caches exactly this. Reusing the resolved DataFrame
    keeps the relation (and its file index) shared across every query
    in the session — same correctness, since the test tables are
    immutable inputs.
    """
    cache = getattr(spark, "_pfs_relations", None)
    if cache is None:
        cache = {}
        spark._pfs_relations = cache
    key = (sf_dir, name)
    if key not in cache:
        cache[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return cache[key]


def _meta_rows(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet footer — the table statistic a
    warehouse metastore serves at plan time. Reading the footer is a
    ~1 ms local metadata read; it replaces a count() JOB on the
    query's critical path for operators that only need a row count to
    SIZE their plan (blocked-gemm cell layout). Nothing is cached
    across runs: every invocation re-reads the footer(s). Handles a
    directory-style multi-file table by summing fragment counts (the
    testdata ships single files today, but a plan-sizing statistic
    must not crash if that layout ever changes)."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    try:
        return pq.ParquetFile(path).metadata.num_rows
    except (OSError, IsADirectoryError):
        return sum(
            f.count_rows() for f in pq.ParquetDataset(path).fragments
        )


def _sort1(df: DataFrame, *cols) -> DataFrame:
    """Single-partition presentation sort for BOUNDED-cardinality
    results (grouping keys with a fixed domain: flag×status ≤ 9,
    region×nation = 25, JSON k ∈ [0,100)). A global ``orderBy`` plans
    ``Exchange rangepartitioning`` whose range bounds need a separate
    sampling job — pure overhead when the input is a handful of rows
    at ANY scale factor (the group count does not grow with the data,
    so coalescing to one partition is scale-safe, unlike doing this
    under a window or per-row sort). Same rows, same total order, one
    fewer exchange + one fewer job.

    Memory note: the single task holds the final MERGE buffers of
    every group. For full-buffer aggregates (exact median/percentile,
    collect_list) that is every group's value list in one task — fine
    at these bounded group counts, but do NOT apply ``_sort1`` to a
    full-buffer aggregate whose per-group state scales with the data
    unless the group count stays tiny (g_stats: 3 groups)."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog table with guaranteed scan parallelism — for builders
    whose first stage does heavy row-local work (per-token hashing,
    k-mer fan-out, exact percentiles). The local test tables are
    single-row-group files that scan on ONE task no matter the split
    size; ``ensure_min_parallelism`` round-robins them across cores
    and is a pure no-op on a warehouse layout (splits >> cores).
    """
    from polars_fastx_spark.operators.partitioning import ensure_min_parallelism

    return ensure_min_parallelism(_t(spark, sf_dir, name))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts canonicalized to bigint ns + derived µs column.

    ``normalize_events_ts`` absorbs the testdata's two generations of
    ``ts`` encoding (INT64 ns-as-bigint vs TIMESTAMP(MICROS)); every
    catalog query sees the same integer clock either way.
    """
    from .session import normalize_events_ts

    return normalize_events_ts(_t(spark, sf_dir, "events")).withColumn(
        "ts_us", F.expr("ts div 1000")
    )


# =====================================================================
# §2.2 Projections / filters / predicates (P1-P6)
# =====================================================================

@_q(
    "p_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS revenue_cents,
           CAST(floor(l_quantity) AS BIGINT) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_quantity > 30 AND l_returnflag = 'A'
    ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST
    """,
    "P1/P4/P6: projection + computed column + conjunctive predicates",
)
def p_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 30)
            & (F.col("l_returnflag") == "A")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            # cents-as-bigint canonicalization: floor(x*100+0.5) is
            # bit-deterministic across engines, unlike round(double, 2)
            # whose half-way handling differs (SURVEY.md §4.4.2)
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
            .cast("bigint")
            .alias("revenue_cents"),
            F.floor("l_quantity").cast("bigint").alias("qty"),
        )
        .orderBy(F.col("l_orderkey").asc_nulls_first(), F.col("l_linenumber").asc_nulls_first())
    )


@_q(
    "p_cast_case",
    """
    SELECT o_orderkey,
           CAST(floor(o_totalprice) AS BIGINT) AS price_int,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CASE WHEN o_orderstatus = 'F' THEN 'finished'
                WHEN o_orderstatus = 'O' THEN 'open'
                ELSE 'other' END AS status_word
    FROM orders
    WHERE o_custkey % 100 = 7
    ORDER BY o_orderkey NULLS FIRST
    """,
    "P2/P3/P5: cast, alias, CASE WHEN, modulo predicate",
)
def p_cast_case(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") % 100 == 7)
        .select(
            "o_orderkey",
            F.floor("o_totalprice").cast("bigint").alias("price_int"),
            F.col("o_orderkey").cast("string").alias("key_str"),
            F.when(F.col("o_orderstatus") == "F", "finished")
            .when(F.col("o_orderstatus") == "O", "open")
            .otherwise("other")
            .alias("status_word"),
        )
        .orderBy(F.col("o_orderkey").asc_nulls_first())
    )


# =====================================================================
# §2.3 Joins (J1-J8)
# =====================================================================

@_q(
    "j_inner_3way",
    """
    SELECT r_name, n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    "J1/J6: 3-way equi join (dims broadcast) + agg",
)
def j_inner_3way(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum("o_totalprice").alias("total_price"),
        )
        # region × nation = 25 groups at any scale
        .transform(lambda out: _sort1(
            out,
            F.col("r_name").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
        ))
    )


@_q(
    "j_left_outer",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice::DECIMAL(18,6)), 0), 2)::DOUBLE
             AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey NULLS FIRST
    """,
    "J2: left outer join preserving customers with zero orders",
)
def j_left_outer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,6)")),
                    F.lit(0).cast("decimal(18,6)"),
                ),
                2,
            )
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy(F.col("c_custkey").asc_nulls_first())
    )


@_q(
    "j_full_outer",
    """
    WITH a AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
         b AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(a.k, b.k) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
    FROM a FULL OUTER JOIN b ON a.k = b.k
    ORDER BY nationkey NULLS FIRST
    """,
    "J2: full outer join of per-nation customer/supplier counts",
)
def j_full_outer(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "k", "full")
        .select(
            F.col("k").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy(F.col("nationkey").asc_nulls_first())
    )


@_q(
    "j_semi",
    """
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    ORDER BY c_custkey NULLS FIRST
    """,
    "J3: left semi join (customers having a finished order)",
)
def j_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy(F.col("c_custkey").asc_nulls_first())
    )


@_q(
    "j_anti",
    """
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey NULLS FIRST
    """,
    "J3: left anti join (customers with no orders)",
)
def j_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy(F.col("c_custkey").asc_nulls_first())
    )


@_q(
    "j_cross",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    "J4: cross join (5 regions × 25 nations)",
)
def j_cross(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .select("r_name", "n_name")
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@_q(
    "j_theta_range",
    """
    SELECT n_name, count(*) AS n_pairs
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    ORDER BY n_name NULLS FIRST
    """,
    "J5: equi + theta (range) join condition",
)
def j_theta_range(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("n_name").asc_nulls_first())
    )


@_q(
    "j_asof",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id,
           round(c.value, 4) AS last_click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id NULLS FIRST
    """,
    "J7: as-of join — latest prior click per purchase (DuckDB ASOF oracle)",
)
def j_asof(spark, sf_dir):
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = join_asof(purchases, clicks, on="ts", by="user_id")
    return joined.select(
        "event_id", F.round("value", 4).alias("last_click_value")
    ).orderBy(F.col("event_id").asc_nulls_first())


@_q(
    "j_asof_forward",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ), ranked AS (
      SELECT p.event_id, c.value,
             row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts ASC) AS rn
      FROM purchases p JOIN clicks c
        ON c.user_id = p.user_id AND c.ts >= p.ts
    )
    SELECT p.event_id, round(r.value, 4) AS next_click_value
    FROM purchases p LEFT JOIN ranked r
      ON r.event_id = p.event_id AND r.rn = 1
    ORDER BY p.event_id NULLS FIRST
    """,
    "J7: forward as-of join — earliest following click per purchase",
)
def j_asof_forward(spark, sf_dir):
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = join_asof(purchases, clicks, on="ts", by="user_id", strategy="forward")
    return joined.select(
        "event_id", F.round("value", 4).alias("next_click_value")
    ).orderBy(F.col("event_id").asc_nulls_first())


@_q(
    "j_asof_nearest",
    """
    WITH purchases AS (
      SELECT event_id, user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, epoch_us(ts) AS t, value
      FROM events WHERE event_type = 'click'
    ), ranked AS (
      SELECT p.event_id, c.value,
             row_number() OVER (PARTITION BY p.event_id
               ORDER BY abs(p.t - c.t) ASC,
                        CASE WHEN c.t <= p.t THEN 0 ELSE 1 END ASC) AS rn
      FROM purchases p JOIN clicks c ON c.user_id = p.user_id
    )
    SELECT p.event_id, round(r.value, 4) AS nearest_click_value
    FROM purchases p LEFT JOIN ranked r
      ON r.event_id = p.event_id AND r.rn = 1
    ORDER BY p.event_id NULLS FIRST
    """,
    "J7: nearest-mode as-of join — whichever of the latest-prior / "
    "earliest-following click is closer in time (ties prefer backward, "
    "the documented contract); one shuffle via the dual-window pick "
    "(operators/asof.py), never the O(left*right) candidate set the "
    "oracle's rank-over-all-pairs definition materializes",
)
def j_asof_nearest(spark, sf_dir):
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value"
    )
    joined = join_asof(
        purchases, clicks, on="ts_us", by="user_id", strategy="nearest"
    )
    return joined.select(
        "event_id", F.round("value", 4).alias("nearest_click_value")
    ).orderBy(F.col("event_id").asc_nulls_first())


@_q(
    "j_interval_overlap",
    """
    WITH signups AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    )
    SELECT s.event_id, count(e.event_id) AS n_following
    FROM signups s
    LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL '1 hour'
    GROUP BY s.event_id
    ORDER BY s.event_id NULLS FIRST
    """,
    "J8: interval/overlap join — events within 1h after each signup",
)
def j_interval_overlap(spark, sf_dir):
    ev = _events(spark, sf_dir)
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_event_id"),
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("s_ts"),
    )
    hour_ns = 3_600 * 1_000_000_000
    e = ev.select(
        F.col("event_id").alias("e_event_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
    )
    return (
        signups.join(
            e,
            (F.col("e_user_id") == F.col("s_user_id"))
            & (F.col("e_ts") > F.col("s_ts"))
            & (F.col("e_ts") <= F.col("s_ts") + F.lit(hour_ns)),
            "left",
        )
        .groupBy(F.col("s_event_id").alias("event_id"))
        .agg(F.count("e_event_id").alias("n_following"))
        .orderBy(F.col("event_id").asc_nulls_first())
    )


# =====================================================================
# §2.4 Aggregations (G1-G8)
# =====================================================================

@_q(
    "q_agg_tpch1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity::DECIMAL(18,6)), 2)::DOUBLE AS sum_qty,
           round(sum(l_extendedprice::DECIMAL(18,6)), 2)::DOUBLE
             AS sum_base_price,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)
             ::DOUBLE AS sum_disc_price,
           round((sum(l_quantity::DECIMAL(18,6)))::DOUBLE / count(*), 4)
             AS avg_qty,
           round((sum(l_extendedprice::DECIMAL(18,6)))::DOUBLE / count(*), 4)
             AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "G2 flagship: TPC-H Q1-style aggregation (money sums accumulate as "
    "exact DECIMAL — order- and engine-independent, see _dsum)",
)
def q_agg_tpch1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter("l_shipdate <= CAST('2001-09-01' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum("l_extendedprice * (1 - l_discount)").alias("sum_disc_price"),
            _davg("l_quantity").alias("avg_qty"),
            _davg("l_extendedprice").alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )
    # ≤ 9 groups (returnflag × linestatus) at any scale: _sort1 drops
    # the range exchange + its sampling job; ascending sorts put nulls
    # first
    return _sort1(out, "l_returnflag", "l_linestatus")


@_q(
    "g_collect_list",
    """
    SELECT o_orderpriority,
           to_json(list_sort(list(DISTINCT o_orderstatus))) AS statuses
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority NULLS FIRST
    """,
    "G1: group-by + list agg (sorted, JSON-canonical)",
)
def g_collect_list(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.to_json(F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"))
        .orderBy(F.col("o_orderpriority").asc_nulls_first())
    )


@_q(
    "g_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    ORDER BY l_returnflag NULLS FIRST
    """,
    "G3: multi count-distinct",
)
def g_count_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
        # 3 returnflag groups at any scale
        .transform(lambda out: _sort1(
            out, F.col("l_returnflag").asc_nulls_first()
        ))
    )


@_q(
    "g_approx_distinct",
    """
    SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS within_5pct
    FROM lineitem
    """,
    "G4: approx_count_distinct — HLL values differ across engines, so the "
    "oracle-checkable contract is (exact count, approx-within-5%% flag); the "
    "oracle asserts the flag TRUE, making the sketch's error bound the thing "
    "the hash check verifies (relative error also pinned in tests)",
)
def g_approx_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("_approx"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    ).select(
        "exact_parts",
        (
            F.abs(F.col("_approx") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )


@_q(
    "g_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_extendedprice), 4) AS var_price,
           round(median(l_extendedprice), 4) AS med_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    ORDER BY l_returnflag NULLS FIRST
    """,
    "G5: stddev/variance/median/percentile (exact)",
)
def g_stats(spark, sf_dir):
    li = _tp(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
            F.round(F.median("l_extendedprice"), 4).alias("med_price"),
            F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
        )
        # 3 returnflag groups at any scale
        .transform(lambda out: _sort1(
            out, F.col("l_returnflag").asc_nulls_first()
        ))
    )


@_q(
    "g_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity::DECIMAL(18,6)), 2)::DOUBLE AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag NULLS FIRST, linestatus NULLS FIRST
    """,
    "G6: rollup with subtotal rows",
)
def g_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy(F.col("returnflag").asc_nulls_first(), F.col("linestatus").asc_nulls_first())
    )


@_q(
    "g_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status NULLS FIRST, priority NULLS FIRST
    """,
    "G6: cube over two dimensions",
)
def g_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
        .orderBy(F.col("status").asc_nulls_first(), F.col("priority").asc_nulls_first())
    )


@_q(
    "g_distinct_rows",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT text) AS n_distinct_texts
    FROM documents
    """,
    "G7: distinct/dedup row counting on documents",
)
def g_distinct_rows(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("text").alias("n_distinct_texts"),
    )


# =====================================================================
# §2.5 Windows (W1-W4)
# =====================================================================

@_q(
    "w_rank_topk",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey NULLS FIRST, rn NULLS FIRST
    """,
    "W1: row_number ranking, top-3 orders per customer",
)
def w_rank_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .orderBy(F.col("o_custkey").asc_nulls_first(), F.col("rn").asc_nulls_first())
    )


@_q(
    "w_lag_delta",
    """
    SELECT event_id,
           round(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts ASC, event_id ASC), 4) AS delta
    FROM events
    ORDER BY event_id NULLS FIRST
    """,
    "W2: lag() — per-user value delta between consecutive events",
)
def w_lag_delta(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    ).orderBy(F.col("event_id").asc_nulls_first())


@_q(
    "w_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice::DECIMAL(18,6)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
             AS running_spent
    FROM orders
    ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST
    """,
    "W3/W4: running frame aggregate (cumulative sum)",
)
def w_running_sum(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("running_spent"),
    ).orderBy(F.col("o_custkey").asc_nulls_first(), F.col("o_orderkey").asc_nulls_first())


@_q(
    "w_ntile_firstlast",
    """
    SELECT l_returnflag, quartile, count(*) AS n,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM (
      SELECT l_returnflag, l_extendedprice,
             ntile(4) OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS quartile
      FROM lineitem)
    GROUP BY l_returnflag, quartile
    ORDER BY l_returnflag NULLS FIRST, quartile NULLS FIRST
    """,
    "W1: ntile quartiles + per-bucket extrema",
)
def w_ntile_firstlast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.select("l_returnflag", "l_extendedprice", F.ntile(4).over(w).alias("quartile"))
        .groupBy("l_returnflag", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("quartile").asc_nulls_first())
    )


# =====================================================================
# §2.6 Sorts / limits / top-k (O1-O3)
# =====================================================================

@_q(
    "o_sort_multikey_nulls",
    """
    SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_or_null, o_totalprice
    FROM orders
    ORDER BY status_or_null ASC NULLS FIRST, o_totalprice DESC NULLS LAST, o_orderkey ASC
    LIMIT 500
    """,
    "O2: multi-key sort with explicit null placement",
)
def o_sort_multikey_nulls(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif("o_orderstatus", F.lit("P")).alias("status_or_null"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_or_null").asc_nulls_first(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc(),
        )
        .limit(500)
    )


@_q(
    "o_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 10
    """,
    "O3: top-k (TakeOrderedAndProject physical op)",
)
def o_topk(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(10)
    )


@_q(
    "o_limit_ordered",
    """
    SELECT o_orderkey, o_custkey FROM orders
    ORDER BY o_orderkey ASC LIMIT 100
    """,
    "O1: limit pushdown over ordered scan",
)
def o_limit_ordered(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey").orderBy(F.col("o_orderkey").asc()).limit(100)


# =====================================================================
# §2.7 Set operations (U1-U3)
# =====================================================================

@_q(
    "u_union_all",
    """
    SELECT o_orderkey, 'big_F' AS src FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 5500
    UNION ALL
    SELECT o_orderkey, 'any_P' AS src FROM orders WHERE o_orderstatus = 'P'
    ORDER BY o_orderkey NULLS FIRST, src NULLS FIRST
    """,
    "U1: union all of two tagged branches",
)
def u_union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 5500)).select(
        "o_orderkey", F.lit("big_F").alias("src")
    )
    b = o.filter(F.col("o_orderstatus") == "P").select(
        "o_orderkey", F.lit("any_P").alias("src")
    )
    return a.unionByName(b).orderBy(
        F.col("o_orderkey").asc_nulls_first(), F.col("src").asc_nulls_first()
    )


@_q(
    "u_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    ORDER BY c_custkey NULLS FIRST
    """,
    "U2: intersect distinct",
)
def u_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o).orderBy(F.col("c_custkey").asc_nulls_first())


@_q(
    "u_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    ORDER BY c_custkey NULLS FIRST
    """,
    "U3: except distinct (customers without orders)",
)
def u_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.exceptAll(o.distinct()).distinct().orderBy(F.col("c_custkey").asc_nulls_first())


@_q(
    "u_intersect_all",
    """
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    ORDER BY l_partkey NULLS FIRST
    """,
    "U2: intersect all (bag semantics, multiplicity = min of sides)",
)
def u_intersect_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return a.intersectAll(r).orderBy(F.col("l_partkey").asc_nulls_first())


# =====================================================================
# §2.8 Scalar functions — general (F1-F7)
# =====================================================================

@_q(
    "f_string",
    """
    SELECT p_partkey,
           upper(p_type) AS type_upper,
           substr(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           levenshtein(p_brand, 'BRAND_0') AS brand_dist,
           CASE WHEN p_name LIKE 'part_1%' THEN 1 ELSE 0 END AS starts_p1
    FROM part
    ORDER BY p_partkey NULLS FIRST
    """,
    "F1: upper/substr/length/concat/levenshtein/like",
)
def f_string(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.levenshtein("p_brand", F.lit("BRAND_0")).alias("brand_dist"),
        F.when(F.col("p_name").like("part_1%"), 1).otherwise(0).alias("starts_p1"),
    ).orderBy(F.col("p_partkey").asc_nulls_first())


@_q(
    "f_math",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT) AS charged_cents,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           round(abs(l_extendedprice - 1000.0), 2) AS dist_from_1k,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice + 1), 6) AS price_ln,
           round(pow(l_quantity, 2), 2) AS qty_sq
    FROM lineitem
    WHERE l_orderkey % 500 = 1
    ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST
    """,
    "F2: arithmetic, floor/ceil/abs/sqrt/ln/pow",
)
def f_math(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100
            + 0.5
        )
        .cast("bigint")
        .alias("charged_cents"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 2).alias("dist_from_1k"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
    ).orderBy(F.col("l_orderkey").asc_nulls_first(), F.col("l_linenumber").asc_nulls_first())


@_q(
    "f_datetime",
    """
    SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           count(*) AS n_orders,
           min(strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')) AS month_start,
           max(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS max_days_since_95
    FROM orders
    GROUP BY 1, 2
    ORDER BY yr NULLS FIRST, mo NULLS FIRST
    """,
    "F3: year/month/date_trunc/datediff (timestamps compared as strings/ints)",
)
def f_datetime(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")).alias(
                "month_start"
            ),
            F.max(
                F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
            ).cast("bigint").alias("max_days_since_95"),
        )
        .orderBy(F.col("yr").asc_nulls_first(), F.col("mo").asc_nulls_first())
    )


@_q(
    "f_array",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(embedding[1]::DOUBLE, 6) AS first_comp,
           round(embedding[64]::DOUBLE, 6) AS last_comp,
           round(list_sort(embedding)[1]::DOUBLE, 6) AS min_comp,
           round(list_sort(embedding)[64]::DOUBLE, 6) AS max_comp
    FROM embeddings
    ORDER BY vec_id NULLS FIRST
    """,
    "F4: array size/element_at/sort_array",
)
def f_array(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at(emb, 1), 6).alias("first_comp"),
        F.round(F.element_at(emb, 64), 6).alias("last_comp"),
        F.round(F.array_min(emb), 6).alias("min_comp"),
        F.round(F.array_max(emb), 6).alias("max_comp"),
    ).orderBy(F.col("vec_id").asc_nulls_first())


@_q(
    "f_higher_order",
    """
    SELECT vec_id,
           round(list_sum(list_transform(embedding, x -> x * x)), 6) AS sum_sq,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           round(list_sum(list_transform(embedding, x -> abs(x))), 6) AS l1_norm
    FROM embeddings
    ORDER BY vec_id NULLS FIRST
    """,
    "F4: higher-order transform/filter/aggregate over arrays",
)
def f_higher_order(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.round(
            F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sum_sq"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.round(
            F.aggregate(F.transform(emb, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("l1_norm"),
    ).orderBy(F.col("vec_id").asc_nulls_first())


@_q(
    "f_struct_json",
    """
    SELECT doc_id,
           to_json(struct_pack(lang := lang, source := source)) AS meta_json
    FROM documents
    ORDER BY doc_id NULLS FIRST
    """,
    "F5/F6: struct creation serialized as JSON",
)
def f_struct_json(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta_json"),
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "f_json_extract",
    """
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k_value,
           count(*) AS n,
           round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY k_value NULLS FIRST
    """,
    "S6/F6: JSON-in-string extraction on events.props",
)
def f_json_extract(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k_value"), "value"
        )
        .groupBy("k_value")
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
        # props.k domain is [0,100) by testdata contract: bounded groups
        .transform(lambda out: _sort1(
            out, F.col("k_value").asc_nulls_first()
        ))
    )


@_q(
    "f_hash",
    """
    SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256
    FROM documents
    ORDER BY doc_id NULLS FIRST
    """,
    "F7/K4: md5 + sha256 content hashing",
)
def f_hash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        F.sha2(F.encode("text", "UTF-8"), 256).alias("text_sha256"),
    ).orderBy(F.col("doc_id").asc_nulls_first())


# =====================================================================
# §2.8 seq domain functions on documents.text (K1-K7)
# =====================================================================

@_q(
    "k_seq_stats",
    """
    SELECT doc_id,
           length(text) AS length,
           round((length(text) - length(replace(replace(text, 'G', ''), 'C', '')))
                 / nullif(length(text), 0)::DOUBLE, 6) AS gc_content,
           length(text) - length(replace(text, 'N', '')) AS n_count,
           md5(text) AS hash
    FROM documents
    ORDER BY doc_id NULLS FIRST
    """,
    "K1/K2/K3/K4: length, gc_content (case-sensitive), n_count, md5",
)
def k_seq_stats(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        sq.length("text").alias("length"),
        F.round(sq.gc_content("text"), 6).alias("gc_content"),
        sq.n_count("text").alias("n_count"),
        sq.generate_hash("text").alias("hash"),
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "k_codon_usage",
    """
    WITH cod AS (
      SELECT doc_id, upper(substr(text, i, 3)) AS codon
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 2, 3)) AS i
            FROM documents WHERE length(text) >= 3)
    ), kept AS (
      SELECT doc_id, codon FROM cod WHERE codon NOT LIKE '%N%'
    )
    SELECT doc_id, codon,
           round(count(*) / sum(count(*)) OVER (PARTITION BY doc_id), 9) AS freq
    FROM kept GROUP BY doc_id, codon
    ORDER BY doc_id NULLS FIRST, codon NULLS FIRST
    """,
    "K5: codon usage (non-overlapping frame-0 3-mers), exploded to rows",
)
def k_codon_usage(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(sq.codon_usage("text")).alias("codon", "freq"))
        .select("doc_id", "codon", F.round("freq", 9).alias("freq"))
        .orderBy(F.col("doc_id").asc_nulls_first(), F.col("codon").asc_nulls_first())
    )


@_q(
    "k_kmer_freq",
    """
    WITH km AS (
      SELECT doc_id, upper(substr(text, i, 4)) AS kmer
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 3, 1)) AS i
            FROM documents WHERE length(text) >= 4)
    ), kept AS (
      SELECT doc_id, kmer FROM km WHERE kmer NOT LIKE '%N%'
    )
    SELECT doc_id, kmer,
           round(count(*) / sum(count(*)) OVER (PARTITION BY doc_id), 9) AS freq
    FROM kept GROUP BY doc_id, kmer
    ORDER BY doc_id NULLS FIRST, kmer NULLS FIRST
    """,
    "K6: overlapping 4-mer frequencies, exploded to rows",
)
def k_kmer_freq(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(sq.kmer_frequencies("text", 4)).alias("kmer", "freq"))
        .select("doc_id", "kmer", F.round("freq", 9).alias("freq"))
        .orderBy(F.col("doc_id").asc_nulls_first(), F.col("kmer").asc_nulls_first())
    )


@_q(
    "f_levenshtein",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 25 = 0
    ORDER BY id_a NULLS FIRST
    """,
    "F1: levenshtein edit distance between adjacent docs (40-char prefixes)",
)
def f_levenshtein(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("ta")
    )
    b = d.select(F.col("doc_id").alias("id_b"), F.substring("text", 1, 40).alias("tb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", F.levenshtein("ta", "tb").alias("dist"))
        .orderBy(F.col("id_a").asc_nulls_first())
    )


@_q(
    "k_quality_metrics",
    """
    WITH ch AS (
      SELECT doc_id, ascii(substr(text, i, 1)) - 33 AS qv
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
            FROM documents WHERE doc_id % 20 = 0)
    )
    SELECT doc_id,
           round(avg(qv), 6) AS mean_q,
           round(avg(CASE WHEN qv >= 20 THEN 1.0 ELSE 0.0 END), 6) AS q20_frac
    FROM ch GROUP BY doc_id
    ORDER BY doc_id NULLS FIRST
    """,
    "K+: phred quality metrics (mean score, Q20 fraction) — text as phred33",
)
def k_quality_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return d.select(
        "doc_id",
        F.round(sq.mean_quality("text"), 6).alias("mean_q"),
        F.round(sq.q_at_least_fraction("text", 20), 6).alias("q20_frac"),
    ).orderBy(F.col("doc_id").asc_nulls_first())


# =====================================================================
# §2.11 LLM-pipeline operators (L1-L5)
# =====================================================================

@_q(
    "l_exact_dedup",
    """
    SELECT md5(text) AS text_hash, count(*) AS dup_count,
           to_json(list_sort(list(doc_id))) AS ids
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
    "L1: exact duplicate groups via content hash",
)
def l_exact_dedup(spark, sf_dir):
    # No ORDER BY on either side: the correctness protocol sorts rows
    # before hashing, and a global sort adds a range-exchange sampling
    # job (~0.25 s at sf0.1) the baseline's unordered query never pays.
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicate_groups(d, "text", "doc_id").select(
        "text_hash", "dup_count", F.to_json("ids").alias("ids")
    )


@_q(
    "l_minhash_lsh",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 4, 1)) AS i
            FROM documents WHERE length(text) >= 5)
    ), sig AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS m0,  min(md5('1:' || s)) AS m1,
             min(md5('2:' || s)) AS m2,  min(md5('3:' || s)) AS m3,
             min(md5('4:' || s)) AS m4,  min(md5('5:' || s)) AS m5,
             min(md5('6:' || s)) AS m6,  min(md5('7:' || s)) AS m7,
             min(md5('8:' || s)) AS m8,  min(md5('9:' || s)) AS m9,
             min(md5('10:' || s)) AS m10, min(md5('11:' || s)) AS m11,
             min(md5('12:' || s)) AS m12, min(md5('13:' || s)) AS m13,
             min(md5('14:' || s)) AS m14, min(md5('15:' || s)) AS m15
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id,
             md5(m0 || '|' || m1 || '|' || m2 || '|' || m3) AS b0,
             md5(m4 || '|' || m5 || '|' || m6 || '|' || m7) AS b1,
             md5(m8 || '|' || m9 || '|' || m10 || '|' || m11) AS b2,
             md5(m12 || '|' || m13 || '|' || m14 || '|' || m15) AS b3
      FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    "L2: MinHash LSH candidate pairs (16 hashes, 4 bands) — md5 hash family",
)
def l_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # collapse_exact=False: this query PINS the classic all-pairs
    # candidate contract against the SQL oracle; l_minhash_collapse
    # pins the standalone-safe star-edge default.
    return dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        collapse_exact=False,
    ).orderBy(F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first())


@_q(
    "l_minhash_collapse",
    """
    WITH rep AS (
      SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY md5(text)) AS rep
      FROM documents
    ),
    star AS (SELECT rep AS id_a, doc_id AS id_b FROM rep WHERE doc_id <> rep),
    docs AS (SELECT doc_id, text FROM rep WHERE doc_id = rep),
    sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 4, 1)) AS i
            FROM docs WHERE length(text) >= 5)
    ), sig AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS m0,  min(md5('1:' || s)) AS m1,
             min(md5('2:' || s)) AS m2,  min(md5('3:' || s)) AS m3,
             min(md5('4:' || s)) AS m4,  min(md5('5:' || s)) AS m5,
             min(md5('6:' || s)) AS m6,  min(md5('7:' || s)) AS m7,
             min(md5('8:' || s)) AS m8,  min(md5('9:' || s)) AS m9,
             min(md5('10:' || s)) AS m10, min(md5('11:' || s)) AS m11,
             min(md5('12:' || s)) AS m12, min(md5('13:' || s)) AS m13,
             min(md5('14:' || s)) AS m14, min(md5('15:' || s)) AS m15
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id,
             md5(m0 || '|' || m1 || '|' || m2 || '|' || m3) AS b0,
             md5(m4 || '|' || m5 || '|' || m6 || '|' || m7) AS b1,
             md5(m8 || '|' || m9 || '|' || m10 || '|' || m11) AS b2,
             md5(m12 || '|' || m13 || '|' || m14 || '|' || m15) AS b3
      FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id
       AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    )
    SELECT id_a, id_b
    FROM (SELECT * FROM pairs UNION SELECT * FROM star)
    ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    "L2 standalone-SAFE candidate path (the minhash_lsh_candidates "
    "default): exact duplicates pre-collapse to their min-id "
    "representative BEFORE banding, each duplicate attaches by one "
    "STAR edge — a flood of identical docs yields O(n) candidate rows "
    "instead of an O(n²) band bucket, with the identical transitive "
    "closure (operators/dedup.py:minhash_lsh_candidates). Oracle "
    "replays the collapse, the 16-hash md5 LSH over representatives, "
    "and the star union",
)
def l_minhash_collapse(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        collapse_exact=True,
    ).orderBy(F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first())


#: the 16-hash / 4-band md5-family LSH index in DuckDB LONG form —
#: (doc_id, band, band_key) rows, shared by the bucket-cap and
#: bucket-profile oracles (same chain l_minhash_lsh inlines wide)
_MD5_LSH_BK_CTE = """
    sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 4, 1)) AS i
            FROM documents WHERE length(text) >= 5)
    ), sig AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS m0,  min(md5('1:' || s)) AS m1,
             min(md5('2:' || s)) AS m2,  min(md5('3:' || s)) AS m3,
             min(md5('4:' || s)) AS m4,  min(md5('5:' || s)) AS m5,
             min(md5('6:' || s)) AS m6,  min(md5('7:' || s)) AS m7,
             min(md5('8:' || s)) AS m8,  min(md5('9:' || s)) AS m9,
             min(md5('10:' || s)) AS m10, min(md5('11:' || s)) AS m11,
             min(md5('12:' || s)) AS m12, min(md5('13:' || s)) AS m13,
             min(md5('14:' || s)) AS m14, min(md5('15:' || s)) AS m15
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id,
             md5(m0 || '|' || m1 || '|' || m2 || '|' || m3) AS b0,
             md5(m4 || '|' || m5 || '|' || m6 || '|' || m7) AS b1,
             md5(m8 || '|' || m9 || '|' || m10 || '|' || m11) AS b2,
             md5(m12 || '|' || m13 || '|' || m14 || '|' || m15) AS b3
      FROM sig
    ), bk AS (
      SELECT doc_id, 0 AS band, b0 AS band_key FROM banded
      UNION ALL SELECT doc_id, 1, b1 FROM banded
      UNION ALL SELECT doc_id, 2, b2 FROM banded
      UNION ALL SELECT doc_id, 3, b3 FROM banded
    )
"""


@_q(
    "l_lsh_bucket_cap",
    f"""
    WITH {_MD5_LSH_BK_CTE},
    stats AS (
      SELECT band, band_key, count(*) AS bsz, min(doc_id) AS bmin
      FROM bk GROUP BY band, band_key
    ),
    small AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bk a
      JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
      JOIN stats s ON s.band = a.band AND s.band_key = a.band_key
      WHERE s.bsz <= 3
    ),
    big AS (
      SELECT s.bmin AS id_a, k.doc_id AS id_b
      FROM bk k
      JOIN stats s ON s.band = k.band AND s.band_key = k.band_key
      WHERE s.bsz > 3 AND k.doc_id <> s.bmin
    )
    SELECT DISTINCT id_a, id_b
    FROM (SELECT * FROM small UNION ALL SELECT * FROM big)
    """,
    "L2 near-dup-FLOOD guard (minhash_lsh_candidates bucket_cap=3): "
    "buckets over the cap switch from all-pairs to a star on the "
    "bucket-min id — O(|bucket|) rows, closure-identical within the "
    "bucket (a star spans the clique). At sf0.01 the cap bites 12 of "
    "1,817 buckets (sizes 4-7), so both code paths execute. "
    "collapse_exact=False isolates cap semantics for the oracle "
    "(operators/dedup.py:minhash_lsh_candidates)",
)
def l_lsh_bucket_cap(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        collapse_exact=False, bucket_cap=3,
    )


@_q(
    "l_lsh_bucket_profile",
    f"""
    WITH {_MD5_LSH_BK_CTE},
    sizes AS (
      SELECT band, band_key, count(*) AS bucket_size
      FROM bk GROUP BY band, band_key
    )
    SELECT bucket_size, count(*) AS n_buckets,
           CAST(count(*) * bucket_size * (bucket_size - 1) / 2 AS BIGINT)
             AS allpairs_candidates
    FROM sizes GROUP BY bucket_size
    """,
    "LSH index observability: bucket-size histogram with the all-pairs "
    "candidate volume per size class (Σ n·(n-1)/2) — the table read "
    "before choosing a bucket_cap, and the flood-regression monitor "
    "for a production corpus index (operators/dedup.py:"
    "lsh_bucket_profile)",
)
def l_lsh_bucket_profile(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.lsh_bucket_profile(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4
    )


def _perm_minhash_cte(num_hashes: int = 16, bands: int = 4) -> str:
    """Shared DuckDB CTE chain for the PRODUCTION one-pass permutation
    MinHash fold (family='perm_md5'): replays the LCG-derived (a, b)
    constants — RNG-free by construction
    (operators/dedup.py:_perm_constants) — over the md5-60-bit base
    hash, then the identical 4-band LSH, ending at a ``cand`` CTE of
    (id_a < id_b) candidate pairs. Callers append further CTEs (the
    recursive closure) or the final SELECT."""
    from polars_fastx_spark.operators.dedup import _PERM_P, _perm_constants

    consts = _perm_constants(num_hashes)
    mins = ",\n             ".join(
        f"min(({a}*h+{b}) % {_PERM_P}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    r = num_hashes // bands
    band_keys = ",\n             ".join(
        "md5("
        + " || '|' || ".join(f"m{b * r + j}::VARCHAR" for j in range(r))
        + f") AS b{b}"
        for b in range(bands)
    )
    band_match = " OR ".join(f"a.b{b} = b.b{b}" for b in range(bands))
    return f"""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 4, 1)) AS i
            FROM documents WHERE length(text) >= 5)
    ), base AS (
      SELECT doc_id,
             list_reduce([strpos('0123456789abcdef', x) - 1
                          for x in string_split(substr(md5(s), 1, 15), '')],
                         (a, b) -> a * 16 + b) % {_PERM_P} AS h
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM base GROUP BY doc_id
    ), banded AS (
      SELECT doc_id,
             {band_keys}
      FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id AND ({band_match})
    )
    """


@_q(
    "l_minhash_perm",
    _perm_minhash_cte()
    + """
    SELECT id_a, id_b FROM cand
    ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    "L2: MinHash LSH candidate pairs through the PRODUCTION one-pass "
    "permutation fold (16 permutations folded over ONE base hash per "
    "shingle — the 10x signature-cost lever) with an oracle-replayable "
    "md5 base hash; complements l_minhash_lsh's n-pass md5 family",
)
def l_minhash_perm(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        family="perm_md5", collapse_exact=False,  # all-pairs oracle contract
    ).orderBy(F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first())


@_q(
    "l_dedup_keep_perm",
    _perm_minhash_cte()
    + """
    , edges2 AS (
      SELECT id_a AS u, id_b AS v FROM cand
      UNION SELECT id_b, id_a FROM cand
    ), reach AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u AND r.u <> e.v
    )
    SELECT u AS doc_id, min(v) AS kept_as
    FROM reach GROUP BY u
    HAVING min(v) < u
    ORDER BY doc_id NULLS FIRST
    """,
    "L2 PRODUCTION path end-to-end: one-pass permutation MinHash LSH "
    "candidates -> pointer-doubled connected components -> keep-one "
    "drop decision, value-checked against the LCG replay + recursive "
    "closure (complements l_dedup_keep's md5-family twin)",
)
def l_dedup_keep_perm(spark, sf_dir):
    from polars_fastx_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        family="perm_md5",
    )
    cc = connected_components(pairs)
    return (
        cc.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.col("component").alias("kept_as"))
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


# Shared DuckDB CTE chain: 5-char shingles → 16-hash md5 MinHash → 4
# bands (the ``banded`` prefix — mirrors dedup.minhash_band_table
# family="md5" bit-exactly) → candidate pairs → transitive closure
# (reach = all reachable nodes per node, like operators/graph.py).
_LSH_BANDED_CTE = """
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 4, 1)) AS i
            FROM documents WHERE length(text) >= 5)
    ), sig AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS m0,  min(md5('1:' || s)) AS m1,
             min(md5('2:' || s)) AS m2,  min(md5('3:' || s)) AS m3,
             min(md5('4:' || s)) AS m4,  min(md5('5:' || s)) AS m5,
             min(md5('6:' || s)) AS m6,  min(md5('7:' || s)) AS m7,
             min(md5('8:' || s)) AS m8,  min(md5('9:' || s)) AS m9,
             min(md5('10:' || s)) AS m10, min(md5('11:' || s)) AS m11,
             min(md5('12:' || s)) AS m12, min(md5('13:' || s)) AS m13,
             min(md5('14:' || s)) AS m14, min(md5('15:' || s)) AS m15
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id,
             md5(m0 || '|' || m1 || '|' || m2 || '|' || m3) AS b0,
             md5(m4 || '|' || m5 || '|' || m6 || '|' || m7) AS b1,
             md5(m8 || '|' || m9 || '|' || m10 || '|' || m11) AS b2,
             md5(m12 || '|' || m13 || '|' || m14 || '|' || m15) AS b3
      FROM sig
    )
"""

_LSH_REACH_CTE = _LSH_BANDED_CTE + """
    , cand AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id
       AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    ), edges2 AS (
      SELECT u, v FROM cand UNION SELECT v, u FROM cand
    ), reach AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u AND r.u <> e.v
    )
"""


@_q(
    "l_incr_dedup",
    _LSH_BANDED_CTE
    + """
    SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS matched_id
    FROM banded a JOIN banded b
      ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
     AND a.doc_id >= 400
     AND (b.doc_id < 400 OR b.doc_id < a.doc_id)
    ORDER BY doc_id NULLS FIRST, matched_id NULLS FIRST
    """,
    "L2 INCREMENTAL path: near-dup candidates for a new batch "
    "(doc_id >= 400) against the existing corpus's PERSISTED LSH band "
    "table (doc_id < 400) plus the batch itself — signatures of "
    "history are never recomputed; cost scales with the batch "
    "(operators/dedup.py:minhash_band_table + "
    "minhash_lsh_candidates_between)",
)
def l_incr_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    old_bands = dedup.minhash_band_table(
        d.filter(F.col("doc_id") < 400), "doc_id", "text"
    )
    new_bands = dedup.minhash_band_table(
        d.filter(F.col("doc_id") >= 400), "doc_id", "text"
    )
    return dedup.minhash_lsh_candidates_between(new_bands, old_bands).orderBy(
        F.col("doc_id").asc_nulls_first(), F.col("matched_id").asc_nulls_first()
    )


@_q(
    "l_neardup_gate",
    _LSH_BANDED_CTE
    + """
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE d.doc_id >= 400
      AND d.doc_id NOT IN (
        SELECT a.doc_id
        FROM banded a JOIN banded b
          ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
        WHERE a.doc_id >= 400 AND b.doc_id < 400
      )
    ORDER BY doc_id NULLS FIRST
    """,
    "L2 INGEST GATE: the per-document drop decision over the persisted "
    "corpus LSH index — incoming docs (doc_id >= 400) survive iff NO "
    "band collides with the corpus (doc_id < 400). The companion of "
    "l_incr_dedup (which emits the candidate PAIRS): one band "
    "semi-join collapsed to hit ids, anti-joined back; shingle-less "
    "docs carry no LSH evidence and pass. The streaming twin "
    "(stream_neardup_gate) appends accepted bands to the on-disk index "
    "per micro-batch so later batches gate against them.",
)
def l_neardup_gate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    index = dedup.minhash_band_table(
        d.filter(F.col("doc_id") < 400), "doc_id", "text"
    )
    kept = dedup.neardup_gate(
        d.filter(F.col("doc_id") >= 400), index, "doc_id", "text"
    )
    return kept.select("doc_id", "lang", "n_chars").orderBy(
        F.col("doc_id").asc_nulls_first()
    )


@_q(
    "l_dedup_groups",
    _LSH_REACH_CTE
    + """
    SELECT least(u, min(v)) AS component, count(DISTINCT v) + 1 AS group_size,
           to_json(list_sort(list_append(list(DISTINCT v), u))) AS members
    FROM reach GROUP BY u
    HAVING least(u, min(v)) = u
    ORDER BY component NULLS FIRST
    """,
    "L2 end-to-end: LSH candidate pairs → connected components → dup groups "
    "(iterative label propagation vs DuckDB recursive-CTE closure)",
)
def l_dedup_groups(spark, sf_dir):
    from polars_fastx_spark.operators.graph import duplicate_groups_from_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4, family="md5"
    )
    groups = duplicate_groups_from_pairs(pairs)
    return groups.select(
        "component", "group_size", F.to_json("members").alias("members")
    ).orderBy(F.col("component").asc_nulls_first())


@_q(
    "l_dedup_keep",
    _LSH_REACH_CTE
    + """
    SELECT u AS doc_id, min(v) AS kept_as
    FROM reach GROUP BY u
    HAVING min(v) < u
    ORDER BY doc_id NULLS FIRST
    """,
    "L2 dedup decision: every non-canonical near-dup doc mapped to the "
    "canonical (min-id) doc of its component — the rows a keep-one dedup "
    "pass would drop",
)
def l_dedup_keep(spark, sf_dir):
    from polars_fastx_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4, family="md5"
    )
    cc = connected_components(pairs)
    return (
        cc.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.col("component").alias("kept_as"))
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "l_group_splits",
    _LSH_REACH_CTE
    + """
    , comp AS (
      SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
    ), rep AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), keyed AS (
      SELECT doc_id, rep,
             substr(md5(rep::VARCHAR || ':'), 1, 4) AS key
      FROM rep
    )
    SELECT doc_id, rep,
           CASE WHEN key < 'cccd' THEN 'train'
                WHEN key < 'e666' THEN 'valid'
                ELSE 'test' END AS split
    FROM keyed
    ORDER BY doc_id NULLS FIRST
    """,
    "L2+: leakage-safe train/valid/test splits — every doc in a near-dup "
    "LSH component buckets on its component's canonical min-id member, so "
    "no near-duplicate pair straddles splits (oracle: recursive-CTE "
    "closure + md5 bucket replay)",
)
def l_group_splits(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4, family="md5"
    )
    out = sampling.group_aware_splits(d, "doc_id", pairs)
    return out.select("doc_id", "rep", "split").orderBy(
        F.col("doc_id").asc_nulls_first()
    )


@_q(
    "l_source_mix",
    """
    WITH lt AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
    q AS (
      SELECT lang, n_total,
             (200 // (SELECT count(*) FROM lt))::BIGINT AS quota
      FROM lt
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substr(md5(doc_id::VARCHAR || ':mix'), 1, 4) ASC,
                        doc_id ASC) AS rk
      FROM documents
    ),
    k AS (
      SELECT r.lang, count(*) AS n_kept
      FROM r JOIN q USING (lang) WHERE rk <= quota
      GROUP BY r.lang
    )
    SELECT q.lang, q.n_total, q.quota, k.n_kept
    FROM q JOIN k USING (lang)
    ORDER BY lang NULLS FIRST
    """,
    "L6+: composition rebalancing — uniform-target language mix under a "
    "200-doc budget: per-group quotas computed IN-PLAN (no driver "
    "arithmetic), deterministic md5-ranked quota take per group "
    "(operators/sampling.py:quota_take), report (lang, n_total, quota, "
    "n_kept)",
)
def l_source_mix(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    langs = d.groupBy("lang").agg(F.count("*").alias("n_total"))
    nlang = langs.agg(F.count("*").cast("bigint").alias("__nl"))  # 1 row
    quota_df = langs.crossJoin(F.broadcast(nlang)).select(
        "lang",
        "n_total",
        F.floor(F.lit(200) / F.col("__nl")).cast("bigint").alias("quota"),
    )
    kept = sampling.quota_take(
        d, "lang", "doc_id", quota_df.select("lang", "quota"), salt="mix"
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .join(quota_df, "lang")
        .select("lang", "n_total", "quota", "n_kept")
        .orderBy(F.col("lang").asc_nulls_first())
    )


@_q(
    "l_novel_docs",
    """
    WITH seen AS (
      SELECT text FROM documents
      WHERE substr(md5(doc_id::VARCHAR || ':seen'), 1, 4) < '3333'
    ),
    sh AS (SELECT DISTINCT md5(seen.text) AS h FROM seen)
    SELECT d.doc_id
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM sh WHERE sh.h = md5(d.text))
    ORDER BY d.doc_id NULLS FIRST
    """,
    "L1+: incremental ingestion dedup — content-hash LEFT ANTI join of "
    "the incoming corpus against an already-seen set (deterministic 20%% "
    "md5 carve standing in for 'previous training runs'); only "
    "novel-content docs survive",
)
def l_novel_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    seen = sampling.deterministic_sample(d, "doc_id", 0.2, salt="seen")
    seen_hashes = seen.select(
        F.md5(F.encode("text", "UTF-8")).alias("__h")
    ).distinct()
    novel = d.join(
        seen_hashes,
        F.md5(F.encode(F.col("text"), "UTF-8")) == F.col("__h"),
        "left_anti",
    )
    return novel.select("doc_id").orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "l_leakage_audit",
    _LSH_REACH_CTE
    + """
    , comp AS (
      SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
    ), rep AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), sp AS (
      SELECT doc_id,
             CASE WHEN substr(md5(doc_id::VARCHAR || ':'), 1, 4) < 'cccd'
                  THEN 'train'
                  WHEN substr(md5(doc_id::VARCHAR || ':'), 1, 4) < 'e666'
                  THEN 'valid' ELSE 'test' END AS ps,
             CASE WHEN substr(md5(rep::VARCHAR || ':'), 1, 4) < 'cccd'
                  THEN 'train'
                  WHEN substr(md5(rep::VARCHAR || ':'), 1, 4) < 'e666'
                  THEN 'valid' ELSE 'test' END AS gs
      FROM rep
    )
    SELECT
      (SELECT count(*) FROM cand c
        JOIN sp a ON c.u = a.doc_id JOIN sp b ON c.v = b.doc_id
       WHERE a.ps <> b.ps) AS plain_straddles,
      (SELECT count(*) FROM cand c
        JOIN sp a ON c.u = a.doc_id JOIN sp b ON c.v = b.doc_id
       WHERE a.gs <> b.gs) AS group_straddles
    """,
    "L6+ leakage AUDIT: near-dup LSH pairs whose two docs land in "
    "different train/valid/test splits — nonzero under the plain "
    "per-id carve (the contamination), PROVABLY ZERO under "
    "group_aware_splits (every component buckets on its canonical "
    "member); the guarantee as an oracle-checked query",
)
def l_leakage_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = session.persist(dedup.minhash_lsh_candidates(
        d, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4, family="md5",
        collapse_exact=False,  # the audit COUNTS pairs — all-pairs contract
    ))
    plain = sampling.assign_splits(d.select("doc_id"), "doc_id").select(
        "doc_id", F.col("split").alias("ps")
    )
    grouped = sampling.group_aware_splits(
        d.select("doc_id"), "doc_id", pairs
    ).select("doc_id", F.col("split").alias("gs"))
    sp = plain.join(grouped, "doc_id")
    a = sp.select(
        F.col("doc_id").alias("id_a"),
        F.col("ps").alias("ps_a"),
        F.col("gs").alias("gs_a"),
    )
    b = sp.select(
        F.col("doc_id").alias("id_b"),
        F.col("ps").alias("ps_b"),
        F.col("gs").alias("gs_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.count(F.when(F.col("ps_a") != F.col("ps_b"), 1)).alias(
                "plain_straddles"
            ),
            F.count(F.when(F.col("gs_a") != F.col("gs_b"), 1)).alias(
                "group_straddles"
            ),
        )
    )


@_q(
    "l_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ((list_reduce([strpos('0123456789abcdef', x) - 1
                            for x in string_split(
                              substr(md5(doc_id::VARCHAR || ':q'), 1, 13), '')],
                           (a, b) -> a * 16 + b) + 1)::DOUBLE
              / 4503599627370497.0) / n_chars::DOUBLE AS priority_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, priority_key
    FROM keyed
    ORDER BY priority_key ASC, doc_id ASC
    LIMIT 200
    """,
    "L6+: deterministic weight-proportional sample (priority sampling, "
    "Duffield-Lund-Thorup) — 200 docs weighted by n_chars via "
    "content-addressed uniforms; add+divide-only key arithmetic makes "
    "the ranking bit-identical across engines (DSIR-style "
    "quality-weighted selection)",
)
def l_weighted_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return sampling.weighted_take(
        d.select("doc_id", "n_chars"), "doc_id", "n_chars", n=200, salt="q"
    ).orderBy(F.col("priority_key").asc(), F.col("doc_id").asc())


@_q(
    "l_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, length(text) - 4),
               i -> substr(text, i, 5))) AS shs
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.shs AS sa, b.shs AS sb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 = 0
    )
    SELECT id_a, id_b,
           round(len(list_intersect(sa, sb))::DOUBLE
                 / nullif(len(sa) + len(sb) - len(list_intersect(sa, sb)), 0), 6) AS jaccard
    FROM pairs
    ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    "L2: exact n-gram Jaccard similarity on a deterministic pair subset",
)
def l_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    pairs = (
        d.select(F.col("doc_id").alias("id_a")).join(
            d.select(F.col("doc_id").alias("id_b")),
            F.col("id_a") < F.col("id_b"),
        )
    )
    return (
        dedup.ngram_jaccard(pairs, _t(spark, sf_dir, "documents"), "doc_id", "text", k=5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first())
    )


@_q(
    "l_containment",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, length(text) - 7),
               i -> substr(text, i, 8)))) AS shingle
      FROM documents
    ), nd AS (SELECT count(*) AS n FROM documents),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    post AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN dfreq d USING (shingle), nd
      WHERE d.df <= floor(0.04 * nd.n)
    ),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM post a JOIN post b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
           round(common::DOUBLE / sa.sz, 6) AS containment_a_in_b,
           round(common::DOUBLE / sb.sz, 6) AS containment_b_in_a,
           round(greatest(common::DOUBLE / sa.sz,
                          common::DOUBLE / sb.sz), 6) AS max_containment
    FROM common JOIN sizes sa ON common.id_a = sa.doc_id
                JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE greatest(common::DOUBLE / sa.sz, common::DOUBLE / sb.sz) >= 0.15
    ORDER BY id_a, id_b
    """,
    "L2: asymmetric containment near-dup (|A∩B|/|A| over 8-shingles) — "
    "the quotation/excerpt case symmetric Jaccard LSH misses; "
    "inverted-index equi-join on shingle (Bayardo all-pairs shape), "
    "boilerplate cut at df > 4% of the corpus (scale-invariant "
    "fractional cap, corpus count as a 1-row broadcast)",
)
def l_containment(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        dedup.containment_pairs(
            d, "doc_id", "text", k=8, threshold=0.15, max_shingle_df=0.04
        )
        .select(
            "id_a", "id_b", "common", "size_a", "size_b",
            F.round("containment_a_in_b", 6).alias("containment_a_in_b"),
            F.round("containment_b_in_a", 6).alias("containment_b_in_a"),
            F.round("max_containment", 6).alias("max_containment"),
        )
        .orderBy("id_a", "id_b")
    )


@_q(
    "l_containment_drop",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, length(text) - 7),
               i -> substr(text, i, 8)))) AS shingle
      FROM documents
    ), nd AS (SELECT count(*) AS n FROM documents),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    post AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN dfreq d USING (shingle), nd
      WHERE d.df <= floor(0.04 * nd.n)
    ),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM post a JOIN post b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT id_a, id_b,
             common::DOUBLE / sa.sz AS ca,
             common::DOUBLE / sb.sz AS cb
      FROM common JOIN sizes sa ON common.id_a = sa.doc_id
                  JOIN sizes sb ON common.id_b = sb.doc_id
      WHERE greatest(common::DOUBLE / sa.sz, common::DOUBLE / sb.sz) >= 0.15
    ),
    drops AS (
      SELECT CASE WHEN ca >= 0.15 AND NOT cb >= 0.15 THEN id_a
                  ELSE id_b END AS doc_id,
             CASE WHEN ca >= 0.15 AND NOT cb >= 0.15 THEN id_b
                  ELSE id_a END AS dup_of
      FROM scored
    )
    SELECT doc_id, min(dup_of) AS dup_of
    FROM drops GROUP BY doc_id ORDER BY doc_id
    """,
    "L2: the containment dedup DECISION — the CONTAINED side of each "
    "pair drops (the quoted excerpt adds little novel content, not its "
    "host); mutual containment drops the larger id (min-id survivor, "
    "the exact-dedup/SemDeDup rule); multiple hosts report min dup_of "
    "so the decision is deterministic and re-runnable",
)
def l_containment_drop(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(
        d, "doc_id", "text", k=8, threshold=0.15, max_shingle_df=0.04
    )
    return dedup.containment_drop_decision(pairs, threshold=0.15).orderBy(
        "doc_id"
    )


@_q(
    "l_containment_decontam",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, length(text) - 7),
               i -> substr(text, i, 8)))) AS shingle
      FROM documents
    ),
    bp AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 97 = 0),
    cp AS (SELECT doc_id AS corpus_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    bs AS (SELECT bench_id, count(*) AS size_bench FROM bp GROUP BY 1),
    common AS (
      SELECT corpus_id, bench_id, count(*) AS common
      FROM cp JOIN bp USING (shingle) GROUP BY 1, 2
    )
    SELECT corpus_id, bench_id, common, size_bench,
           round(common::DOUBLE / size_bench, 6) AS containment
    FROM common JOIN bs USING (bench_id)
    WHERE common::DOUBLE / size_bench >= 0.25
    ORDER BY corpus_id, bench_id
    """,
    "L4+: GRADED containment decontamination — how much of WHICH "
    "benchmark item each corpus doc contains (|S(bench)∩S(doc)|/"
    "|S(bench)| over 8-shingles), the thresholded removal score, vs "
    "l_decontaminate's binary any-n-gram flag; benchmark postings "
    "broadcast (MBs vs a 100 TB corpus), corpus side streams — the "
    "only exchange is the per-pair count groupBy",
)
def l_containment_decontam(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return (
        dedup.containment_pairs_between(
            corpus, benchmark, "doc_id", "text", k=8, threshold=0.25
        )
        .select(
            "corpus_id", "bench_id", "common", "size_bench",
            F.round("containment", 6).alias("containment"),
        )
        .orderBy("corpus_id", "bench_id")
    )


@_q(
    "l_shingle_df_profile",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, length(text) - 7),
               i -> substr(text, i, 8)))) AS shingle
      FROM documents
    ), dfreq AS (SELECT shingle, count(*) AS doc_freq FROM sh GROUP BY shingle)
    SELECT doc_freq, count(*) AS n_shingles,
           (count(*) * doc_freq * (doc_freq - 1) / 2)::BIGINT AS join_pairs
    FROM dfreq GROUP BY doc_freq
    ORDER BY doc_freq
    """,
    "L2 observability: document-frequency histogram of the shingle "
    "inverted index — Σ df² is the containment join's cost; the table "
    "read before choosing a max_shingle_df cap (mirror of "
    "l_lsh_bucket_profile for the containment path)",
)
def l_shingle_df_profile(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.shingle_df_profile(d, "doc_id", "text", k=8).orderBy(
        "doc_freq"
    )


#: session-scoped build-once cache for the containment gate query: one
#: persisted shingle-postings index per sf_dir per process (the same
#: serve-many contract — and invalidation rationale — as _ANN_SHARED).
_CONTAIN_SHARED: dict = {}


def _containment_shared_index(spark, sf_dir):
    """Build (once per session) the persisted containment index over
    the history slice (doc_id % 3 != 0) of the documents table and
    return its path — deterministic content (shingle strings round-trip
    parquet exactly), so cached == fresh."""
    import tempfile

    from polars_fastx_spark import epochs

    path = _CONTAIN_SHARED.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_contain_shared_")
        _CONTAIN_SHARED[sf_dir] = path
    if not (
        epochs.committed(spark, f"{path}/meta")
        and epochs.committed_epochs(spark, f"{path}/postings")
    ):
        hist = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 != 0
        )
        dedup.containment_index_build(hist, "doc_id", "text", path, k=8)
    return path


def _prep_containment(spark, sf_dir):
    """prepare= hook: the shared containment-index build is BUILD
    cost, not query cost — benchmarks time it separately."""
    _containment_shared_index(spark, sf_dir)


@_q(
    "l_containment_gate",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, length(text) - 7),
               i -> substr(text, i, 8)))) AS shingle
      FROM documents
    ),
    hp AS (SELECT doc_id AS matched_id, shingle FROM sh WHERE doc_id % 3 <> 0),
    bp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 3 = 0),
    hs AS (SELECT matched_id, count(*) AS size_hist FROM hp GROUP BY 1),
    bs AS (SELECT doc_id, count(*) AS size_batch FROM bp GROUP BY 1),
    nd AS (SELECT count(*) AS n FROM hs),
    hdf AS (SELECT shingle, count(*) AS df FROM hp GROUP BY shingle),
    hpc AS (
      SELECT h.matched_id, h.shingle
      FROM hp h JOIN hdf d USING (shingle), nd
      WHERE d.df <= floor(0.04 * nd.n)
    ),
    common AS (
      SELECT b.doc_id, h.matched_id, count(*) AS common
      FROM bp b JOIN hpc h USING (shingle)
      GROUP BY 1, 2
    )
    SELECT doc_id, matched_id, common, size_batch, size_hist,
           round(common::DOUBLE / size_batch, 6) AS containment_batch_in_hist,
           round(common::DOUBLE / size_hist, 6) AS containment_hist_in_batch,
           round(greatest(common::DOUBLE / size_batch,
                          common::DOUBLE / size_hist), 6) AS max_containment
    FROM common JOIN bs USING (doc_id) JOIN hs USING (matched_id)
    WHERE greatest(common::DOUBLE / size_batch,
                   common::DOUBLE / size_hist) >= 0.15
    ORDER BY doc_id, matched_id
    """,
    "L2: the PERSISTED containment tier — an ingest batch (doc_id%3=0) "
    "scored against the on-disk shingle-postings index of history "
    "(doc_id%3≠0, containment_index_build) WITHOUT re-shingling "
    "history; per-shingle df maintained on add feeds the fractional "
    "boilerplate cap (4% of history); the incremental twin of "
    "l_containment, mirroring what l_neardup_gate is to l_minhash_lsh",
    prepare=_prep_containment
)
def l_containment_gate(spark, sf_dir):
    path = _containment_shared_index(spark, sf_dir)
    batch = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return (
        dedup.containment_hits(
            batch, path, "text", threshold=0.15, max_shingle_df=0.04
        )
        .select(
            "doc_id", "matched_id", "common", "size_batch", "size_hist",
            F.round("containment_batch_in_hist", 6).alias(
                "containment_batch_in_hist"
            ),
            F.round("containment_hist_in_batch", 6).alias(
                "containment_hist_in_batch"
            ),
            F.round("max_containment", 6).alias("max_containment"),
        )
        .orderBy("doc_id", "matched_id")
    )


#: deterministic URL-variant constructor shared by the URL queries:
#: five syntactic shapes of the messy-crawl inputs normalize_url is
#: for (case/www/default-port/tracking-params/fragment; co.uk
#: registry; scheme-less; a !www.ck exception host; non-default
#: port), manufactured relationally
#: from the documents table so the DuckDB oracle replays byte-for-byte
def _doc_url():
    d = F.col("doc_id").cast("string")
    s = F.col("source")
    return (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("HTTP://WWW."), s,
                F.lit(".Example.COM:80/news/"), d,
                F.lit("/?utm_source=feed&b=2&a=1#top"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("https://"), s,
                F.lit(".shop.example.co.uk/item?z=9&gclid=abc&y=8"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(s, F.lit(".team.github.io/")),
        )
        .when(
            # www IS the registrable label here (!www.ck): the PSL
            # tier must see the FULL host even though normalize_url
            # cosmetically strips 'www.'
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("http://www.ck/home/"), d, F.lit("#x")),
        )
        .otherwise(
            F.concat(
                F.lit("https://blog."), s,
                F.lit(".example.com:8443/post/"), d,
            ),
        )
    )


_URL_SQL = """
      CASE
        WHEN doc_id % 5 = 0 THEN 'HTTP://WWW.' || source
          || '.Example.COM:80/news/' || doc_id
          || '/?utm_source=feed&b=2&a=1#top'
        WHEN doc_id % 5 = 1 THEN 'https://' || source
          || '.shop.example.co.uk/item?z=9&gclid=abc&y=8'
        WHEN doc_id % 5 = 2 THEN source || '.team.github.io/'
        WHEN doc_id % 5 = 3 THEN 'http://www.ck/home/' || doc_id || '#x'
        ELSE 'https://blog.' || source || '.example.com:8443/post/'
          || doc_id
      END
"""

#: the normalization pipeline in DuckDB SQL (the oracle twin of
#: functions/urls.py — RFC 3986 §6 syntax normalization + the
#: tracking cut), over a CTE `u(doc_id, url)`
_URL_NORM_SQL = (
    """
    parsed AS (
      SELECT doc_id, url,
        coalesce(lower(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
        regexp_replace(regexp_replace(lower(coalesce(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]+)', 1), '')),
          ':[0-9]+$', ''), '^www\\.', '') AS host,
        -- FULL host (no cosmetic www strip) — what the PSL tier sees:
        -- 'www' can be a registrable label (!www.ck)
        regexp_replace(lower(coalesce(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]+)', 1), '')),
          ':[0-9]+$', '') AS host_full,
        coalesce(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#:]*:([0-9]+)', 1), '')
          AS port,
        coalesce(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^?#]*)', 1), '')
          AS path,
        coalesce(array_to_string(list_sort(list_filter(
          string_split(coalesce(
            regexp_extract(url, '\\?([^#]*)', 1), ''), '&'),
          p -> length(p) > 0 AND NOT starts_with(lower(p), 'utm_')
            AND NOT regexp_matches(lower(p),
              '^(gclid|fbclid|msclkid|ref|ref_src)='))), '&'), '')
          AS qs
      FROM u
    ),
    formed AS (
      SELECT doc_id, url, host, host_full,
        (CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END)
        || host
        || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443')
            THEN '' ELSE ':' || port END)
        || (CASE WHEN path = '/' THEN ''
            ELSE regexp_replace(path, '/$', '') END)
        || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS norm_url,
        string_split(host, '.') AS labels
      FROM parsed
    ),
    """
    + pslf.psl_rules_values_sql()
    + """,
    dom AS (
      SELECT doc_id, url, host, norm_url,
        """
    + pslf.psl_domain_sql("host_full")
    + """ AS domain
      FROM formed
    )
"""
)


@_q(
    "l_url_normalize",
    "WITH u AS (SELECT doc_id, " + _URL_SQL + " AS url FROM documents),"
    + _URL_NORM_SQL
    + """
    SELECT doc_id, url, norm_url, host, domain
    FROM dom ORDER BY doc_id
    """,
    "L-crawl: URL canonicalization (functions/urls.py — RFC 3986 §6 "
    "syntax normalization + tracking-param cut: case, www, default "
    "ports kept non-default, fragment, utm_*/gclid sorted-query) plus "
    "host and registrable-domain extraction (co.uk-style registry "
    "heuristic) — the key everything in a crawl pipeline dedups and "
    "caps on; pure codegen expression tree, zero Python",
)
def l_url_normalize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn("url", _doc_url())
    return (
        pslf.with_registrable_domain(d, "url", out="domain")
        .select(
            "doc_id", "url",
            urlsf.normalize_url("url").alias("norm_url"),
            urlsf.url_host("url").alias("host"),
            "domain",
        )
        .orderBy("doc_id")
    )


#: the PSL tricky-host battery — each lane exercises a distinct rule
#: class (private platform, ccTLD registry, deep host, wildcard,
#: exception, bare TLD, unknown-default); shared by the Spark query
#: and the DuckDB oracle so both engines face the identical hosts
_PSL_HOST_SQL = """
      CASE (doc_id % 12)
        WHEN 0 THEN 'u' || doc_id || '.github.io'
        WHEN 1 THEN 'shop' || doc_id || '.com.au'
        WHEN 2 THEN 'dept' || (doc_id % 7) || '.cam.ac.uk'
        WHEN 3 THEN 'a' || doc_id || '.b.kawasaki.jp'
        WHEN 4 THEN 'city.kawasaki.jp'
        WHEN 5 THEN 'www.ck'
        WHEN 6 THEN 'f' || doc_id || '.bar.ck'
        WHEN 7 THEN 'sch' || doc_id || '.k12.ca.us'
        WHEN 8 THEN 'b' || doc_id || '.blogspot.com.au'
        WHEN 9 THEN 'com'
        WHEN 10 THEN 'site' || doc_id || '.example.com'
        ELSE 'i' || doc_id || '.vm.compute.amazonaws.com'
      END
"""


def _psl_host_col():
    d = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 12
    return (
        F.when(m == 0, F.concat(F.lit("u"), d, F.lit(".github.io")))
        .when(m == 1, F.concat(F.lit("shop"), d, F.lit(".com.au")))
        .when(m == 2, F.concat(
            F.lit("dept"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".cam.ac.uk")))
        .when(m == 3, F.concat(F.lit("a"), d, F.lit(".b.kawasaki.jp")))
        .when(m == 4, F.lit("city.kawasaki.jp"))
        .when(m == 5, F.lit("www.ck"))
        .when(m == 6, F.concat(F.lit("f"), d, F.lit(".bar.ck")))
        .when(m == 7, F.concat(F.lit("sch"), d, F.lit(".k12.ca.us")))
        .when(m == 8, F.concat(
            F.lit("b"), d, F.lit(".blogspot.com.au")))
        .when(m == 9, F.lit("com"))
        .when(m == 10, F.concat(
            F.lit("site"), d, F.lit(".example.com")))
        .otherwise(F.concat(
            F.lit("i"), d, F.lit(".vm.compute.amazonaws.com")))
    )


@_q(
    "l_psl_domain",
    "WITH h AS (SELECT doc_id, " + _PSL_HOST_SQL + " AS host "
    "FROM documents),\n    "
    + pslf.psl_rules_values_sql()
    + ",\n    d AS (SELECT doc_id, host, "
    + pslf.psl_domain_sql("host")
    + """ AS domain FROM h)
    SELECT doc_id, host, domain FROM d ORDER BY doc_id
    """,
    "L-crawl: Public-Suffix-List registrable domains (functions/"
    "psl.py) over a 12-lane tricky-host battery — hosting platforms "
    "(user.github.io, blogspot.com.au), ccTLD registries (com.au, "
    "cam.ac.uk, k12.ca.us), the PSL wildcard (*.kawasaki.jp, *.ck) "
    "and exception (!city.kawasaki.jp, !www.ck) machinery, bare TLDs "
    "and the implicit-* default; Spark compiles the bundled rule "
    "table into one codegen expression (InSet literal tests — no "
    "join, no exchange), the oracle replays the SAME rule tuples as "
    "a VALUES table — engine and check share data, not code",
)
def l_psl_domain(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _psl_host_col().alias("host")
    )
    return (
        pslf.with_registrable_domain(
            d, "host", out="domain", host_input=True
        )
        .select("doc_id", "host", "domain")
        .orderBy("doc_id")
    )


#: robots.txt variants planted per domain — shared verbatim by the
#: Spark synthesis and the DuckDB oracle (CASE over domain id)
_ROBOTS_TXT = {
    "strict": (
        "User-agent: *\nDisallow: /private/\n"
        "Allow: /private/ok.html\nDisallow: /*.pdf$\n"
    ),
    "block_mybot": (
        "User-agent: mybot\nDisallow: /\n\nUser-agent: *\nAllow: /\n"
    ),
    "allow_all": "User-agent: *\nDisallow:\n",
    "empty": "",
}


def _robots_escape_sql(expr: str) -> str:
    """The pattern→regex translation (functions/robots.py:
    pattern_regex) as a DuckDB expression over ``expr`` (the
    anchor-stripped pattern body) — BUILT FROM the same escape list
    so the chains cannot drift."""
    s = expr
    for ch in ("\\", ".", "+", "?", "(", ")", "[", "]", "{", "}",
               "^", "|", "$"):
        lit = ch.replace("''", "").replace("'", "''")
        esc = ("\\" + ch) if ch != "\\" else "\\\\"
        s = f"replace({s}, '{lit}', '{esc}')"
    return f"replace({s}, '*', '.*')"


def _robots_rules_sql(agent: str = "mybot") -> str:
    """The robots parse+group+agent-resolution CTE chain — reads a
    ``robots(domain, robots_txt)`` CTE, defines ``applicable`` —
    shared by every oracle that gates on robots (l_robots_gate,
    l_sitemap_seed), generated from the same escape constants as
    functions/robots.py so the chains cannot drift."""
    esc = _robots_escape_sql(
        "CASE WHEN value LIKE '%$' THEN substring(value, 1, length(value) - 1) ELSE value END"
    )
    return f"""
    lines0 AS (
      SELECT domain,
        unnest(string_split_regex(robots_txt, '\r?\n')) AS raw,
        generate_subscripts(string_split_regex(robots_txt, '\r?\n'), 1)
          AS pos
      FROM robots
    ),
    lines1 AS (
      SELECT domain, pos,
        trim(regexp_replace(raw, '#.*$', '')) AS line
      FROM lines0
    ),
    lines2 AS (
      SELECT domain, pos,
        lower(coalesce(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1), ''))
          AS directive,
        trim(coalesce(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$', 1), ''))
          AS value
      FROM lines1 WHERE line <> ''
    ),
    lines3 AS (
      SELECT * FROM lines2
      WHERE directive IN ('user-agent', 'allow', 'disallow')
    ),
    lines4 AS (
      SELECT *,
        CASE WHEN directive = 'user-agent'
              AND coalesce(lag(directive) OVER
                    (PARTITION BY domain ORDER BY pos), '')
                  <> 'user-agent'
         THEN 1 ELSE 0 END AS grp_start
      FROM lines3
    ),
    grouped AS (
      SELECT *,
        sum(grp_start) OVER (PARTITION BY domain ORDER BY pos) AS grp
      FROM lines4
    ),
    agents AS (
      SELECT domain, grp, lower(value) AS agent
      FROM grouped WHERE directive = 'user-agent'
      GROUP BY 1, 2, 3
    ),
    rules AS (
      SELECT g.domain, a.agent,
        (g.directive = 'allow') AS allow,
        g.value AS pattern, strlen(g.value) AS pattern_len,
        '^' || {esc}
          || (CASE WHEN g.value LIKE '%$' THEN '$' ELSE '' END) AS rx
      FROM grouped g JOIN agents a
        ON g.domain = a.domain AND g.grp = a.grp
      WHERE g.directive <> 'user-agent' AND g.value <> ''
    ),
    named_doms AS (
      SELECT DISTINCT domain FROM rules WHERE agent = '{agent}'
    ),
    applicable AS (
      SELECT * FROM rules WHERE agent = '{agent}'
      UNION ALL
      SELECT * FROM rules
      WHERE agent = '*' AND domain NOT IN (SELECT domain FROM named_doms)
    )"""


def _robots_oracle_sql() -> str:
    esc = _robots_escape_sql(
        "CASE WHEN value LIKE '%$' THEN substring(value, 1, length(value) - 1) ELSE value END"
    )
    txts = {k: v.replace("\n", chr(10)).replace("'", "''")
            for k, v in _ROBOTS_TXT.items()}
    return f"""
    WITH doms AS (
      SELECT DISTINCT (doc_id % 7) AS d FROM documents
    ),
    robots AS (
      SELECT 'site' || d || '.net' AS domain,
        CASE WHEN d IN (0, 1) THEN '{txts["strict"]}'
             WHEN d IN (2, 3) THEN '{txts["block_mybot"]}'
             WHEN d = 4 THEN '{txts["allow_all"]}'
             ELSE '{txts["empty"]}' END AS robots_txt
      FROM doms WHERE d <> 6
    ),
    {_robots_rules_sql()},
    u AS (
      SELECT doc_id,
        'https://site' || (doc_id % 7) || '.net'
        || CASE (doc_id % 5)
             WHEN 0 THEN '/pub/' || doc_id
             WHEN 1 THEN '/private/p' || doc_id
             WHEN 2 THEN '/files/f' || doc_id || '.pdf#sec'
             WHEN 3 THEN '/private/ok.html'
             ELSE '/' END AS url,
        'site' || (doc_id % 7) || '.net' AS dom,
        CASE (doc_id % 5)
             WHEN 0 THEN '/pub/' || doc_id
             WHEN 1 THEN '/private/p' || doc_id
             WHEN 2 THEN '/files/f' || doc_id || '.pdf'
             WHEN 3 THEN '/private/ok.html'
             ELSE '/' END AS path
      FROM documents
    ),
    verdicts AS (
      SELECT u.doc_id, u.url, r.allow, r.pattern_len,
        row_number() OVER (PARTITION BY u.doc_id
          ORDER BY r.pattern_len DESC,
                   CASE WHEN r.allow THEN 1 ELSE 0 END DESC) AS rn
      FROM u LEFT JOIN applicable r
        ON u.dom = r.domain AND regexp_matches(u.path, r.rx)
    )
    SELECT doc_id, url,
      coalesce(bool_or(CASE WHEN rn = 1 THEN allow END), TRUE)
        AS allowed
    FROM verdicts GROUP BY doc_id, url ORDER BY doc_id
    """


def _robots_frames(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    d7 = (F.col("doc_id") % 7).cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("/pub/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("/private/p"),
                       F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 5 == 2,
              # '#sec' fragment planted so the gate must strip it
              # before matching '/*.pdf$' (RFC 9309: path+query only;
              # the oracle's path CASE is fragment-free by build)
              F.concat(F.lit("/files/f"),
                       F.col("doc_id").cast("string"),
                       F.lit(".pdf#sec")))
        .when(F.col("doc_id") % 5 == 3, F.lit("/private/ok.html"))
        .otherwise(F.lit("/"))
    )
    urls_df = docs.select(
        "doc_id",
        F.concat(F.lit("https://site"), d7, F.lit(".net"), path).alias(
            "url"
        ),
    )
    dom_id = (F.col("doc_id") % 7)
    robots_df = (
        docs.select(dom_id.alias("d")).distinct().filter(F.col("d") != 6)
        .select(
            F.concat(F.lit("site"), F.col("d").cast("string"),
                     F.lit(".net")).alias("domain"),
            F.when(F.col("d").isin(0, 1), F.lit(_ROBOTS_TXT["strict"]))
            .when(F.col("d").isin(2, 3), F.lit(_ROBOTS_TXT["block_mybot"]))
            .when(F.col("d") == 4, F.lit(_ROBOTS_TXT["allow_all"]))
            .otherwise(F.lit(_ROBOTS_TXT["empty"]))
            .alias("robots_txt"),
        )
    )
    return urls_df, robots_df


@_q(
    "l_robots_gate",
    _robots_oracle_sql(),
    "L-crawl: robots.txt COMPLIANCE gate (functions/robots.py, RFC "
    "9309) — per-domain robots files parse relationally (line "
    "explode -> window prefix-scan group assembly -> per-agent rule "
    "table with patterns compiled to regexes, '*' and trailing '$' "
    "honored), then every URL resolves its applicable group (exact "
    "agent beats '*'), longest-pattern match decides, Allow wins "
    "ties, absent/empty robots allows; one domain-key join (tiny "
    "build side) + one URL-keyed aggregation — the politeness tier "
    "that belongs BEFORE domain_cap in a frontier; planted variants "
    "cover agent-specific blocks, wildcard/anchor patterns, empty "
    "Disallow, empty file, and missing file",
)
def l_robots_gate(spark, sf_dir):
    from polars_fastx_spark.functions import robots as rb

    urls_df, robots_df = _robots_frames(spark, sf_dir)
    rules = rb.parse_robots(robots_df)
    return (
        rb.robots_allowed(urls_df, rules, agent="mybot")
        .select("doc_id", "url", "allowed")
        .orderBy("doc_id")
    )


def _sitemap_oracle_sql() -> str:
    txts = {k: v.replace("\n", chr(10)).replace("'", "''")
            for k, v in _ROBOTS_TXT.items()}
    return f"""
    WITH blocks AS (
      SELECT (doc_id % 7) AS d,
        '<url><loc>https://site' || (doc_id % 7) || '.net'
        || (CASE WHEN doc_id % 3 = 1 THEN '/private/x' ELSE '/s/' END)
        || doc_id || '</loc>'
        || (CASE WHEN doc_id % 2 = 0
            THEN '<lastmod>2026-01-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
                 || '</lastmod>' ELSE '' END)
        || '</url>' AS block
      FROM documents
    ),
    sitemaps AS (
      SELECT d, '<urlset>' || string_agg(block, '' ORDER BY block)
        || '</urlset>' AS xml
      FROM blocks GROUP BY d
    ),
    locs0 AS (
      SELECT d,
        unnest(regexp_extract_all(xml,
          '(?is)<url\\s*>.*?</url\\s*>', 0)) AS blk
      FROM sitemaps
    ),
    seeds0 AS (
      SELECT
        replace(replace(replace(replace(replace(
          coalesce(regexp_extract(blk,
            '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1), ''),
          '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', chr(39)) AS url,
        coalesce(regexp_extract(blk,
          '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1), '')
          AS lastmod
      FROM locs0
    ),
    seeds1 AS (
      SELECT DISTINCT url, lastmod FROM seeds0 WHERE url <> ''
    ),
    crawled AS (
      SELECT DISTINCT 'https://site' || (doc_id % 7) || '.net/s/'
        || doc_id AS url
      FROM documents WHERE doc_id % 3 = 2
    ),
    fresh AS (
      SELECT s.* FROM seeds1 s
      WHERE s.url NOT IN (SELECT url FROM crawled)
    ),
    doms AS (SELECT DISTINCT (doc_id % 7) AS d FROM documents),
    robots AS (
      SELECT 'site' || d || '.net' AS domain,
        CASE WHEN d IN (0, 1) THEN '{txts["strict"]}'
             WHEN d IN (2, 3) THEN '{txts["block_mybot"]}'
             ELSE '{txts["allow_all"]}' END AS robots_txt
      FROM doms WHERE d <> 6
    ),
    {_robots_rules_sql()},
    u AS (
      SELECT url, lastmod,
        regexp_replace(regexp_replace(lower(coalesce(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]+)', 1), '')),
          ':[0-9]+$', ''), '^www\\.', '') AS dom,
        coalesce(nullif(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^#]*)', 1), ''), '/')
          AS path
      FROM fresh
    ),
    verdicts AS (
      SELECT u.url, u.lastmod, r.allow, r.pattern_len,
        row_number() OVER (PARTITION BY u.url
          ORDER BY r.pattern_len DESC,
                   CASE WHEN r.allow THEN 1 ELSE 0 END DESC) AS rn
      FROM u LEFT JOIN applicable r
        ON u.dom = r.domain AND regexp_matches(u.path, r.rx)
    ),
    gated AS (
      SELECT url, lastmod,
        coalesce(bool_or(CASE WHEN rn = 1 THEN allow END), TRUE)
          AS allowed
      FROM verdicts GROUP BY url, lastmod
    )
    SELECT url, lastmod FROM gated WHERE allowed
    ORDER BY url, lastmod
    """


@_q(
    "l_sitemap_seed",
    _sitemap_oracle_sql(),
    "L-crawl: SITEMAP frontier seeds (functions/sitemaps.py, "
    "sitemaps.org) — per-domain <urlset> documents (entity-encoded "
    "locs, optional per-url lastmod) explode into (url, lastmod) "
    "rows via codegen regexes, already-crawled urls anti-join out on "
    "the url key, and the robots gate keeps only fetchable seeds "
    "(exact-agent groups, wildcard patterns — the l_robots_gate "
    "machinery reused via the same generated SQL chain); lastmod is "
    "the recrawl-scheduling signal snapshot_diff consumes. Planted: "
    "/private/ seeds under strict domains drop, block-all domains "
    "contribute nothing, the no-robots domain passes everything "
    "uncrawled",
)
def l_sitemap_seed(spark, sf_dir):
    from polars_fastx_spark.functions import sitemaps as smf

    docs = _t(spark, sf_dir, "documents")
    d7 = (F.col("doc_id") % 7).cast("string")
    did = F.col("doc_id").cast("string")
    block = F.concat(
        F.lit("<url><loc>https://site"), d7, F.lit(".net"),
        F.when(F.col("doc_id") % 3 == 1, F.lit("/private/x")).otherwise(
            F.lit("/s/")
        ),
        did, F.lit("</loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<lastmod>2026-01-"),
                F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    smaps = (
        docs.select((F.col("doc_id") % 7).alias("d"), block.alias("b"))
        .groupBy("d")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws("", F.array_sort(F.collect_list("b"))),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    crawled = docs.filter(F.col("doc_id") % 3 == 2).select(
        F.concat(
            F.lit("https://site"), d7, F.lit(".net/s/"), did
        ).alias("url")
    )
    _, robots_df = _robots_frames(spark, sf_dir)
    # same planted variants minus the empty-file domain (the empty
    # text becomes allow_all here so the sitemap lane exercises the
    # no-rules path through a PRESENT file too)
    robots_df = robots_df.withColumn(
        "robots_txt",
        F.when(
            F.col("robots_txt") == _ROBOTS_TXT["empty"],
            F.lit(_ROBOTS_TXT["allow_all"]),
        ).otherwise(F.col("robots_txt")),
    )
    return (
        smf.sitemap_seeds(smaps, crawled, robots=robots_df, agent="mybot")
        .orderBy("url", "lastmod")
    )


#: Crawl-delay fixture texts — distinct from _ROBOTS_TXT so the gate
#: queries' planted strings stay untouched; shared verbatim by Spark
#: and the oracle
_DELAY_TXT = {
    "star": "User-agent: *\nCrawl-delay: 2\nDisallow: /private/\n",
    "named": (
        "User-agent: mybot\nCrawl-delay: 0.5\n\n"
        "User-agent: *\nCrawl-delay: 10\n"
    ),
    "junk": "User-agent: *\nCrawl-delay: abc\n",
}


def _fetch_schedule_oracle_sql() -> str:
    txts = {k: v.replace("\n", chr(10)).replace("'", "''")
            for k, v in _DELAY_TXT.items()}
    return f"""
    WITH robots AS (
      SELECT 'site' || d || '.net' AS domain,
        CASE d WHEN 0 THEN '{txts["star"]}'
               WHEN 1 THEN '{txts["named"]}'
               ELSE '{txts["junk"]}' END AS robots_txt
      FROM (SELECT DISTINCT (doc_id % 4) AS d FROM documents
            WHERE doc_id % 4 <> 3)
    ),
    lines0 AS (
      SELECT domain,
        unnest(string_split_regex(robots_txt, '\r?\n')) AS raw,
        generate_subscripts(string_split_regex(robots_txt, '\r?\n'), 1)
          AS pos
      FROM robots
    ),
    lines2 AS (
      SELECT domain, pos,
        lower(coalesce(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1), ''))
          AS directive,
        trim(coalesce(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$', 1), ''))
          AS value
      FROM (SELECT domain, pos,
                   trim(regexp_replace(raw, '#.*$', '')) AS line
            FROM lines0) WHERE line <> ''
    ),
    lines3 AS (
      SELECT * FROM lines2
      WHERE directive IN ('user-agent', 'crawl-delay')
    ),
    grouped AS (
      SELECT *, sum(grp_start) OVER (PARTITION BY domain ORDER BY pos)
               AS grp
      FROM (SELECT *,
              CASE WHEN directive = 'user-agent'
                    AND coalesce(lag(directive) OVER
                          (PARTITION BY domain ORDER BY pos), '')
                        <> 'user-agent'
               THEN 1 ELSE 0 END AS grp_start
            FROM lines3)
    ),
    agents AS (
      SELECT domain, grp, lower(value) AS agent
      FROM grouped WHERE directive = 'user-agent' GROUP BY 1, 2, 3
    ),
    delays0 AS (
      SELECT g.domain, a.agent,
             try_cast(g.value AS DOUBLE) AS crawl_delay
      FROM grouped g JOIN agents a
        ON g.domain = a.domain AND g.grp = a.grp
      WHERE g.directive = 'crawl-delay'
        AND try_cast(g.value AS DOUBLE) IS NOT NULL
        AND try_cast(g.value AS DOUBLE) >= 0
    ),
    named_doms AS (
      SELECT DISTINCT domain FROM delays0 WHERE agent = 'mybot'
    ),
    applicable AS (
      SELECT * FROM delays0 WHERE agent = 'mybot'
      UNION ALL
      SELECT * FROM delays0
      WHERE agent = '*' AND domain NOT IN (SELECT domain FROM named_doms)
    ),
    dmax AS (
      SELECT domain, max(crawl_delay) AS crawl_delay
      FROM applicable GROUP BY domain
    ),
    u AS (
      SELECT doc_id,
        'https://site' || (doc_id % 4) || '.net/u/' || doc_id AS url,
        'site' || (doc_id % 4) || '.net' AS domain
      FROM documents
    ),
    sched AS (
      SELECT u.doc_id, u.url, u.domain,
        row_number() OVER (PARTITION BY u.domain
                           ORDER BY md5(u.url), u.url) AS rn,
        coalesce(d.crawl_delay, 1.0) AS delay
      FROM u LEFT JOIN dmax d USING (domain)
    )
    SELECT doc_id, url, domain,
           round((rn - 1) * delay, 3) AS fetch_offset_s
    FROM sched ORDER BY doc_id
    """


@_q(
    "l_fetch_schedule",
    _fetch_schedule_oracle_sql(),
    "L-crawl: POLITENESS SCHEDULING — Crawl-delay directives parse "
    "through the same RFC 9309 group assembly and agent resolution "
    "as the Allow/Disallow rules (functions/robots.py:"
    "parse_crawl_delays — exact agent beats '*', largest applicable "
    "value wins, non-numeric values drop via try_cast), then "
    "fetch_schedule assigns the k-th URL of each registrable domain "
    "(md5-deterministic order — every crawler replica computes the "
    "SAME schedule with no coordination) fetch offset (k-1)*delay, "
    "default 1.0s for domains without a directive; one tiny-side "
    "join + one bounded per-domain window (compose AFTER "
    "domain_cap). Planted: star-group delay, named-beats-star "
    "(0.5 vs 10), junk value -> default, missing robots -> default",
)
def l_fetch_schedule(spark, sf_dir):
    from polars_fastx_spark.functions import robots as rb

    docs = _t(spark, sf_dir, "documents")
    d4 = (F.col("doc_id") % 4).cast("string")
    urls_df = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), d4, F.lit(".net/u/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    robots_df = (
        docs.select((F.col("doc_id") % 4).alias("d")).distinct()
        .filter(F.col("d") != 3)
        .select(
            F.concat(F.lit("site"), F.col("d").cast("string"),
                     F.lit(".net")).alias("domain"),
            F.when(F.col("d") == 0, F.lit(_DELAY_TXT["star"]))
            .when(F.col("d") == 1, F.lit(_DELAY_TXT["named"]))
            .otherwise(F.lit(_DELAY_TXT["junk"]))
            .alias("robots_txt"),
        )
    )
    delays = rb.parse_crawl_delays(robots_df, agent="mybot")
    return (
        rb.fetch_schedule(urls_df, delays, default_delay=1.0)
        .select(
            "doc_id", "url", "domain",
            F.round("fetch_offset_s", 3).alias("fetch_offset_s"),
        )
        .orderBy("doc_id")
    )


@_q(
    "l_recrawl_schedule",
    """
    WITH crawled AS (
      SELECT doc_id,
        'https://s' || (doc_id % 3) || '.net/p/' || doc_id AS url,
        (1000 + doc_id)::BIGINT AS fetched_at
      FROM documents
    ),
    entries AS (
      SELECT 'https://s' || (doc_id % 3) || '.net/p/' || doc_id AS url,
        (1000 + doc_id
          + CASE WHEN doc_id % 4 = 0 THEN 7 ELSE -7 END)::BIGINT
          AS lastmod
      FROM documents WHERE doc_id % 2 = 0
    ),
    stale AS (
      SELECT c.doc_id, c.url, c.fetched_at, e.lastmod,
             's' || (c.doc_id % 3) || '.net' AS domain
      FROM crawled c JOIN entries e USING (url)
      WHERE e.lastmod > c.fetched_at
    ),
    sched AS (
      SELECT *, row_number() OVER (PARTITION BY domain
                                   ORDER BY md5(url), url) AS rn,
        CASE WHEN domain = 's0.net' THEN 5.0 ELSE 1.0 END AS delay
      FROM stale
    )
    SELECT doc_id, url, domain, lastmod,
           round((rn - 1) * delay, 3) AS fetch_offset_s
    FROM sched ORDER BY doc_id
    """,
    "L-crawl: RECRAWL scheduling (functions/sitemaps.py:"
    "recrawl_candidates/recrawl_schedule — round 9): sitemap_seeds "
    "covers DISCOVERY (its anti-join keeps only never-crawled URLs), "
    "this covers the other half — already-crawled pages whose "
    "sitemap lastmod moved past the recorded fetch time re-enter the "
    "fetch queue; one url-key equi-join + row-local compare (NULL "
    "lastmod never recrawls), then the SAME politeness contract as "
    "the discovery frontier (fetch_schedule: md5-deterministic "
    "per-domain order, (k-1)*crawl_delay offsets), so one fetch loop "
    "drains both queues with one discipline. Planted: even doc_ids "
    "carry sitemap entries, %4==0 are stale (+7) and the rest moved "
    "backwards (-7, never recrawled); s0.net is delay-5.0, others "
    "default; oracle replays join + staleness + schedule",
)
def l_recrawl_schedule(spark, sf_dir):
    from polars_fastx_spark.functions import sitemaps as sm

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://s"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".net/p/"), did,
    )
    crawled = docs.select(
        "doc_id", url.alias("url"),
        (F.lit(1000) + F.col("doc_id")).cast("long").alias("fetched_at"),
    )
    entries = docs.filter(F.col("doc_id") % 2 == 0).select(
        url.alias("url"),
        (
            F.lit(1000) + F.col("doc_id")
            + F.when(F.col("doc_id") % 4 == 0, 7).otherwise(-7)
        ).cast("long").alias("lastmod"),
    )
    delays = spark.createDataFrame(
        [("s0.net", 5.0)], "domain string, crawl_delay double"
    )
    return (
        sm.recrawl_schedule(crawled, entries, delays, default_delay=1.0)
        .select(
            "doc_id", "url", "domain", "lastmod",
            F.round("fetch_offset_s", 3).alias("fetch_offset_s"),
        )
        .orderBy("doc_id")
    )


@_q(
    "l_domain_cap",
    """
    WITH u AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
          THEN 'https://cdn.mirror-farm.com/d/' || doc_id
          WHEN doc_id % 3 = 1
          THEN 'https://u' || (doc_id % 5) || '.github.io/d/' || doc_id
          ELSE 'https://www.' || source || '.net/d/' || doc_id
        END AS url
      FROM documents
    ),
    hosts AS (
      SELECT doc_id, url,
        regexp_replace(lower(coalesce(regexp_extract(url,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]+)', 1), '')),
          ':[0-9]+$', '') AS host
      FROM u
    ),
    """
    + pslf.psl_rules_values_sql()
    + """,
    domd AS (
      SELECT doc_id, """
    + pslf.psl_domain_sql("host")
    + """ AS dom
      FROM hosts
    ),
    ranked AS (
      SELECT doc_id, dom,
        row_number() OVER (PARTITION BY dom
          ORDER BY md5(doc_id::VARCHAR), doc_id::VARCHAR) AS rn
      FROM domd
    )
    SELECT doc_id, dom AS domain FROM ranked
    WHERE rn <= 3 ORDER BY doc_id
    """,
    "L-crawl: per-registrable-domain cap (functions/urls.py:"
    "domain_cap) — keep ≤3 docs per domain, the standard SEO-farm/"
    "mirror defense: a planted mega-domain holding a third of the "
    "corpus collapses to 3 rows while the long tail passes whole; "
    "a second planted lane of uN.github.io user sites caps PER USER "
    "SITE, not per platform, because domains are Public-Suffix-List "
    "accurate (functions/psl.py broadcast rule table — the oracle "
    "replays the same table, not a shared shortcut); md5-ordered "
    "deterministic survivors (content-addressed, engine-stable)",
)
def l_domain_cap(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://cdn.mirror-farm.com/d/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://u"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".github.io/d/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), F.col("source"), F.lit(".net/d/"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    capped = urlsf.domain_cap(d, "url", cap=3, order_col="doc_id")
    return (
        pslf.with_registrable_domain(capped, "url", out="domain")
        .select("doc_id", "domain")
        .orderBy("doc_id")
    )


def _charset_oracle_sql() -> str:
    """Oracle for l_charset_decode: the RESOLUTION chain (BOM → HTTP
    charset param → meta sniff → windows-1252 fallback — WHATWG gives
    the BOM precedence over the transport header) replays via SQL
    GENERATED FROM the module's regex + alias constants
    (functions/charset.py: http_charset_sql / meta_charset_sql) over
    the same content-type and ASCII-prefix strings both engines
    plant. The BOM is a binary-only signal DuckDB's VARCHAR regexes
    cannot probe, so its lanes (m=4 plain BOM, m=6 BOM beating a
    conflicting charset=ISO-8859-1 header — the round-8 ADVICE
    regression lane) flag by fixture position (the byte check itself
    is pytest-pinned in tests/test_charset.py); decoded
    TEXT per lane is the planted string both engines construct — the
    legacy-codec byte→text mapping is pytest golden territory, the
    oracle's job is the resolution logic."""
    from polars_fastx_spark.functions import charset as csf

    http_cs = csf.http_charset_sql("ct")
    meta_cs = csf.meta_charset_sql("prefix")
    return f"""
    WITH f AS (
      SELECT doc_id, (doc_id % 7) AS m,
        CASE (doc_id % 7)
          WHEN 0 THEN 'text/html; charset=UTF-8'
          WHEN 1 THEN 'text/html; charset=ISO-8859-1'
          WHEN 6 THEN 'text/html; charset=ISO-8859-1'
          ELSE 'text/html' END AS ct,
        CASE (doc_id % 7)
          WHEN 2 THEN '<html><head><meta charset="Shift_JIS">'
            || '</head><body>p' || doc_id || ' '
          WHEN 3 THEN '<meta http-equiv="Content-Type" '
            || 'content="text/html; charset=GB2312">x' || doc_id || ' '
          ELSE '' END AS prefix
      FROM documents
    ),
    r AS (
      SELECT doc_id, m,
        coalesce(
          CASE WHEN m IN (4, 6) THEN 'utf-8-sig' END,
          {http_cs},
          {meta_cs},
          'windows-1252') AS charset
      FROM f
    )
    SELECT doc_id, charset,
      CASE m
        WHEN 0 THEN '<p>café ' || doc_id || '</p>'
        WHEN 1 THEN '<p>café déjà ' || doc_id || '</p>'
        WHEN 2 THEN '<html><head><meta charset="Shift_JIS"></head>'
          || '<body>p' || doc_id || ' 日本語</body>'
        WHEN 3 THEN '<meta http-equiv="Content-Type" '
          || 'content="text/html; charset=GB2312">x' || doc_id
          || ' 中文'
        WHEN 4 THEN 'bom σ ' || doc_id
        WHEN 6 THEN 'rés ' || doc_id
        ELSE '“q' || doc_id || '”' END AS text
    FROM r ORDER BY doc_id
    """


@_q(
    "l_charset_decode",
    _charset_oracle_sql(),
    "L-crawl: CHARSET-AWARE payload decoding (functions/charset.py) "
    "— the crawl ingest seam that a blind UTF-8 cast corrupts: per "
    "record the charset resolves BOM → HTTP charset= param → "
    "meta-tag sniff on a bounded byte prefix → windows-1252 "
    "fallback (WHATWG order — the BOM beats the transport header; "
    "all one codegen expression, labels normalized through "
    "the WHATWG alias map), then UTF-8 rows decode as a pure Column "
    "cast while the legacy minority (planted Shift_JIS/GBK/cp1252/"
    "BOM lanes — incl. a BOM-vs-conflicting-header lane — minted as "
    "escaped BYTES) crosses one Arrow "
    "mapInPandas stage; the oracle replays the full resolution chain "
    "from the same regex/alias constants, the legacy byte→text "
    "mapping is pytest-golden",
)
def l_charset_decode(spark, sf_dir):
    from polars_fastx_spark.functions import charset as csf

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 7
    ct = (
        F.when(m == 0, F.lit("text/html; charset=UTF-8"))
        .when(m == 1, F.lit("text/html; charset=ISO-8859-1"))
        .when(m == 6, F.lit("text/html; charset=ISO-8859-1"))
        .otherwise(F.lit("text/html"))
    )
    prefix = (
        F.when(m == 2, F.concat(
            F.lit('<html><head><meta charset="Shift_JIS"></head><body>p'),
            did, F.lit(" ")))
        .when(m == 3, F.concat(
            F.lit('<meta http-equiv="Content-Type" '
                  'content="text/html; charset=GB2312">x'),
            did, F.lit(" ")))
        .otherwise(F.lit(""))
    )
    # legacy lanes mint REAL legacy bytes: 日本語 in Shift_JIS, 中文 in
    # GBK, cp1252 smart quotes — the exact byte sequences a blind
    # UTF-8 cast would mojibake
    payload = (
        F.when(m == 0, F.encode(
            F.concat(F.lit("<p>café "), did, F.lit("</p>")), "UTF-8"))
        .when(m == 1, F.encode(
            F.concat(F.lit("<p>café déjà "), did, F.lit("</p>")),
            "ISO-8859-1"))
        .when(m == 2, F.concat(
            F.encode(prefix, "US-ASCII"),
            F.lit("日本語".encode("shift_jis")),
            F.encode(F.lit("</body>"), "US-ASCII")))
        .when(m == 3, F.concat(
            F.encode(prefix, "US-ASCII"),
            F.lit("中文".encode("gbk"))))
        .when(m == 4, F.concat(
            F.lit(b"\xef\xbb\xbf"),
            F.encode(F.concat(F.lit("bom σ "), did), "UTF-8")))
        .when(m == 6, F.concat(
            F.lit(b"\xef\xbb\xbf"),
            F.encode(F.concat(F.lit("rés "), did), "UTF-8")))
        .otherwise(F.concat(
            F.lit(b"\x93"),
            F.encode(F.concat(F.lit("q"), did), "US-ASCII"),
            F.lit(b"\x94")))
    )
    frame = d.select(
        "doc_id",
        ct.alias("http_content_type"),
        payload.alias("payload"),
    )
    return (
        csf.decode_payloads(frame, charset_col="charset")
        .select("doc_id", "charset", "text")
        .orderBy("doc_id")
    )


@_q(
    "l_ce_quarantine",
    """
    WITH f AS (
      SELECT doc_id, text,
        CASE (doc_id % 5)
          WHEN 1 THEN 'br'
          WHEN 2 THEN ''
          WHEN 3 THEN 'gzip, br'
          WHEN 4 THEN '   '
          END AS content_encoding
      FROM documents
    )
    SELECT doc_id, content_encoding,
      (content_encoding IS NOT NULL
        AND trim(content_encoding) <> '') AS quarantined,
      CASE WHEN content_encoding IS NOT NULL
        AND trim(content_encoding) <> '' THEN NULL
        ELSE text END AS text
    FROM f ORDER BY doc_id
    """,
    "L-crawl: undecoded Content-Encoding QUARANTINE (functions/"
    "charset.py:quarantine_undecoded over the residual column "
    "sources/warc.py surfaces) — the round-8 verdict's top finding: "
    "a br/zstd/corrupt-gzip body the parser could not undo must "
    "never be charset-'decoded' (windows-1252 maps every byte) into "
    "garbage text that poisons dedup hashes, lang-ID and quality "
    "gates. Planted residual lanes (NULL, 'br', '', 'gzip, br', "
    "whitespace) flag exactly the non-blank residuals and NULL "
    "their text; the crawl front door uses the drop form of the "
    "same predicate (pipeline.py step 3a). Pure Column, "
    "shuffle-free; the oracle replays the predicate",
)
def l_ce_quarantine(spark, sf_dir):
    from polars_fastx_spark.functions.charset import quarantine_undecoded

    m = F.col("doc_id") % 5
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(m == 1, F.lit("br"))
        .when(m == 2, F.lit(""))
        .when(m == 3, F.lit("gzip, br"))
        .when(m == 4, F.lit("   "))
        .alias("content_encoding"),
        "text",
    )
    return (
        quarantine_undecoded(d)
        .select("doc_id", "content_encoding", "quarantined", "text")
        .orderBy("doc_id")
    )


def _html_entities_sql(col: str) -> str:
    """Entity-decode chain in DuckDB, from the module constants."""
    from polars_fastx_spark.functions import html as _html

    s = col
    for ent, rep in _html._ENTITIES:
        rep_sql = rep.replace("'", "''")
        s = f"replace({s}, '{ent}', '{rep_sql}')"
    return s


def _html_strip_sql(col: str) -> str:
    """The DuckDB replay of functions/html.py:strip_html, BUILT FROM
    THE SAME module constants (_DROP_CONTENT/_BLOCK_BREAK/_ENTITIES)
    so the two chains cannot drift — every regexp is RE2-safe by
    design there."""
    from polars_fastx_spark.functions import html as _html

    s = col
    for el in _html._DROP_CONTENT:
        s = (
            f"regexp_replace({s}, '(?is)<{el}[^>]*>.*?</{el}>', ' ', 'g')"
        )
    s = f"regexp_replace({s}, '(?s)<!--.*?-->', ' ', 'g')"
    closers = "|".join(_html._BLOCK_BREAK)
    nl = "chr(10)"
    s = (
        f"regexp_replace({s}, '(?i)</(?:{closers})>', ' ' || {nl}, 'g')"
    )
    s = f"regexp_replace({s}, '(?i)<br[^>]*>', ' ' || {nl}, 'g')"
    s = f"regexp_replace({s}, '(?s)<[^>]*>', ' ', 'g')"
    s = _html_entities_sql(s)
    s = f"regexp_replace({s}, '[ \\t\\r\\f]+', ' ', 'g')"
    s = f"regexp_replace({s}, ' ?\\n[ \\n]*', {nl}, 'g')"
    return f"regexp_replace({s}, '^\\s+|\\s+$', '', 'g')"


#: deterministic HTML wrapper for the extraction query — script/style/
#: comment noise, entities, block structure, all manufactured
#: relationally so the oracle replays byte-for-byte
_HTML_DOC_SQL = """
      '<html><head><title>Doc ' || doc_id || ' &amp; ' || source
      || '</title><style>body { color: red; }</style></head>'
      || '<body><script>var x = "<p>not text</p>";</script>'
      || '<!-- hidden <p>comment</p> --><h1>Doc ' || doc_id
      || '</h1><p>' || substr(text, 1, 120)
      || '</p><div>tail&nbsp;block</div></body></html>'
"""


def _doc_html():
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), d, F.lit(" &amp; "),
        F.col("source"),
        F.lit("</title><style>body { color: red; }</style></head>"),
        F.lit('<body><script>var x = "<p>not text</p>";</script>'),
        F.lit("<!-- hidden <p>comment</p> --><h1>Doc "), d,
        F.lit("</h1><p>"), F.substring("text", 1, 120),
        F.lit("</p><div>tail&nbsp;block</div></body></html>"),
    )


@_q(
    "l_html_extract",
    "WITH u AS (SELECT doc_id, " + _HTML_DOC_SQL + " AS html "
    "FROM documents) "
    "SELECT doc_id, "
    "trim(regexp_replace(" + _html_entities_sql(
        "coalesce(regexp_extract(html, "
        "'(?is)<title[^>]*>(.*?)</title>', 1), '')"
    ) + ", '\\s+', ' ', 'g')) AS title, "
    + _html_strip_sql("html")
    + """ AS text_out,
    round(length(""" + _html_strip_sql("html") + """)::DOUBLE
      / nullif(length(html), 0), 6) AS text_density
    FROM u ORDER BY doc_id
    """,
    "L-crawl: HTML → visible text (functions/html.py — script/style/"
    "noscript/template + comment removal, block-break spacing, tag "
    "strip, core entity decode, whitespace collapse), <title> "
    "extraction, and the text-density boilerplate signal — the crawl "
    "pipeline's first transform after the WARC scan; one RE2-safe "
    "codegen regexp chain, oracle built from the SAME module "
    "constants so Spark and DuckDB cannot drift",
)
def l_html_extract(spark, sf_dir):
    from polars_fastx_spark.functions import html as htmlf

    d = _t(spark, sf_dir, "documents").withColumn("html", _doc_html())
    return d.select(
        "doc_id",
        htmlf.html_title("html").alias("title"),
        htmlf.strip_html("html").alias("text_out"),
        F.round(htmlf.text_density("html"), 6).alias("text_density"),
    ).orderBy("doc_id")


#: the crawl-pipeline composition's URL constructor: doc pairs
#: (2k, 2k+1) are SYNTACTIC VARIANTS of one page — the messy form
#: (case/www/port/tracking) and the clean form — so canonical-URL
#: dedup has real work
_CRAWL_URL_SQL = """
      CASE WHEN doc_id % 2 = 0
        THEN 'HTTPS://WWW.' || source || '-Pages.NET:443/page/'
          || (doc_id // 2) || '?utm_source=x'
        ELSE 'https://' || source || '-pages.net/page/'
          || (doc_id // 2)
      END
"""


def _crawl_url():
    k = F.floor(F.col("doc_id") / 2).cast("long").cast("string")
    s = F.col("source")
    return F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTPS://WWW."), s, F.lit("-Pages.NET:443/page/"),
            k, F.lit("?utm_source=x"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), s, F.lit("-pages.net/page/"), k
        )
    )


@_q(
    "l_crawl_pipeline",
    "WITH u AS (SELECT doc_id, " + _CRAWL_URL_SQL + " AS url "
    "FROM documents),"
    + _URL_NORM_SQL
    + ", h AS (SELECT doc_id, "
    + _html_strip_sql("html")
    + """ AS text_out,
      trim(regexp_replace("""
    + _html_entities_sql(
        "coalesce(regexp_extract(html, "
        "'(?is)<title[^>]*>(.*?)</title>', 1), '')"
    )
    + """, '\\s+', ' ', 'g')) AS title
      FROM (SELECT doc_id, """ + _HTML_DOC_SQL + """ AS html
            FROM documents)
    ),
    joined AS (
      SELECT d.doc_id, d.norm_url, d.domain, h.title, h.text_out
      FROM dom d JOIN h USING (doc_id)
      WHERE length(h.text_out) >= 50
    ),
    uniq AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY norm_url ORDER BY doc_id) AS rn
        FROM joined) WHERE rn = 1
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY domain
          ORDER BY md5(doc_id::VARCHAR), doc_id::VARCHAR) AS rn2
        FROM uniq) WHERE rn2 <= 3
    )
    SELECT doc_id, norm_url AS url, domain, title,
           length(text_out) AS n_chars
    FROM capped ORDER BY doc_id
    """,
    "L-crawl FLAGSHIP composition — the ingest story in ONE declared "
    "plan: HTML → visible text + title (functions/html.py), messy URL "
    "→ canonical form (functions/urls.py; planted variant pairs "
    "collapse), length quality gate, exact dedup on canonical URL "
    "(min-id survivor), per-registrable-domain cap (md5-deterministic) "
    "— five tiers, each a codegen expression or one keyed window, "
    "Catalyst fuses the lot; the DuckDB oracle replays every stage",
)
def l_crawl_pipeline(spark, sf_dir):
    from pyspark.sql import Window

    from polars_fastx_spark.functions import html as htmlf

    d = (
        pslf.with_registrable_domain(
            _t(spark, sf_dir, "documents")
            .withColumn("html", _doc_html())
            .withColumn("url", _crawl_url()),
            "url",
            out="domain",
        )
        .select(
            "doc_id",
            urlsf.normalize_url("url").alias("norm_url"),
            "domain",
            htmlf.html_title("html").alias("title"),
            htmlf.strip_html("html").alias("text_out"),
        )
        .filter(F.length("text_out") >= 50)
    )
    w_dup = Window.partitionBy("norm_url").orderBy("doc_id")
    w_cap = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(),
        F.col("doc_id").cast("string").asc(),
    )
    return (
        d.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .withColumn("rn2", F.row_number().over(w_cap))
        .filter(F.col("rn2") <= 3)
        .select(
            "doc_id", F.col("norm_url").alias("url"), "domain",
            "title", F.length("text_out").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


@_q(
    "l_link_graph",
    """
    WITH pages AS (
      SELECT doc_id,
        'https://' || source || '-pages.net/p/' || doc_id AS page_url,
        '<html><body><p>body</p>'
        || '<a href="HTTPS://WWW.src' || (doc_id % 7)
        || '-pages.NET:443/x/' || doc_id || '?utm_source=l">a</a>'
        || '<a class=x href=''https://src' || ((doc_id + 3) % 7)
        || '-pages.net/y''>b</a>'
        || '<a href="#frag">skip</a><a href="https://cdn.hub.org/'
        || (doc_id % 2) || '">c</a></body></html>' AS html
      FROM documents
    ),
    links AS (
      SELECT doc_id,
        unnest(regexp_extract_all(html,
          '(?is)<a[^>]+href\\s*=\\s*["'']([^"''#][^"'']*)["'']', 1))
          AS href
      FROM pages
    ),
    u AS (SELECT doc_id, href AS url FROM links),
    """
    + _URL_NORM_SQL
    + """
    SELECT doc.source || '-pages.net' AS src_domain,
           d.domain AS dst_domain, count(*)::BIGINT AS n_links
    FROM dom d JOIN documents doc USING (doc_id)
    GROUP BY 1, 2
    ORDER BY src_domain, dst_domain
    """,
    "L-crawl: the LINK GRAPH — html_links href extraction (RE2-safe, "
    "fragments/empties excluded) → canonical URL → registrable-domain "
    "aggregation into (src_domain, dst_domain, n_links) edges, the "
    "input to per-domain PageRank quality priors (l_pagerank is the "
    "iterative half); explode is row-local, the only exchange is the "
    "edge groupBy",
)
def l_link_graph(spark, sf_dir):
    from polars_fastx_spark.functions import html as htmlf

    d = F.col("doc_id").cast("string")
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit("-pages.net/p/"), d
    )
    html = F.concat(
        F.lit("<html><body><p>body</p>"),
        F.lit('<a href="HTTPS://WWW.src'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("-pages.NET:443/x/"), d, F.lit('?utm_source=l">a</a>'),
        F.lit("<a class=x href='https://src"),
        ((F.col("doc_id") + 3) % 7).cast("string"),
        F.lit("-pages.net/y'>b</a>"),
        F.lit('<a href="#frag">skip</a><a href="https://cdn.hub.org/'),
        (F.col("doc_id") % 2).cast("string"),
        F.lit('">c</a></body></html>'),
    )
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", page_url.alias("page_url"), html.alias("html")
    )
    links = pages.select(
        "doc_id", "page_url",
        F.explode(htmlf.html_links("html")).alias("href"),
    )
    links = pslf.with_registrable_domain(
        links, "page_url", out="src_domain"
    )
    links = pslf.with_registrable_domain(
        links, urlsf.normalize_url("href"), out="dst_domain"
    )
    return (
        links.groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .orderBy("src_domain", "dst_domain")
    )


@_q(
    "l_simhash_neardup",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ), bitsum AS (
      SELECT doc_id, i.i AS bit_idx,
             sum(CASE WHEN ((strpos('0123456789abcdef',
                                    substr(md5(tok), (i.i // 4)::INT + 1, 1)) - 1)
                            // (1 << (3 - (i.i % 4)))) % 2 = 1
                      THEN 1 ELSE -1 END) AS c
      FROM tok, (SELECT unnest(generate_series(0, 63)) AS i) i
      GROUP BY doc_id, i.i
    ), sig AS (
      SELECT doc_id,
             list(CASE WHEN c > 0 THEN 1 ELSE 0 END ORDER BY bit_idx) AS sig
      FROM bitsum GROUP BY doc_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(list_sum([abs(a.sig[i] - b.sig[i])
                            for i in generate_series(1, 64)]) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    "L2: SimHash near-duplicate pairs (hamming ≤ 3 via pigeonhole banding; "
    "md5 bit family so the oracle brute-forces identical signatures — the "
    "banding is exact, so banded == all-pairs)",
)
def l_simhash_neardup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        dedup.simhash_near_duplicates(d, "doc_id", "text", max_distance=3, family="md5")
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy(F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first())
    )


@_q(
    "l_cosine_topk",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY cosine DESC NULLS LAST, id_a ASC, id_b ASC
    LIMIT 5
    """,
    "L3: top-5 most-similar embedding pairs (numpy block-matmul fast path)",
)
def l_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_numpy(
        e, "vec_id", "embedding", k=5, n=_meta_rows(sf_dir, "embeddings")
    ).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


@_q(
    "l_embed_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    "L2/L3: embedding-cosine near-duplicate pairs (threshold 0.35)",
)
def l_embed_neardup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_above_numpy(
        e, "vec_id", "embedding", threshold=0.35,
        n=_meta_rows(sf_dir, "embeddings"),
    ).orderBy(F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first())


#: multilingual planted text, shared by the unicode-floor queries
#: (l_token_stats / l_fingerprint / l_lang_id): five lanes — the
#: original Latin text plus Chinese / Japanese / Russian / Arabic
#: documents whose per-doc distinctness uses NO ascii digits (doc_id
#: transliterated via translate()), so the old Latin-only
#: normalization would collapse every non-Latin lane to ONE
#: fingerprint — exactly the hazard the unicode floor closes. Both
#: engines construct the column byte-for-byte.
_ML_NUM = ("0123456789", "零一二三四五六七八九")


def _ml_text():
    d = F.col("doc_id").cast("string")
    zh_num = F.translate(d, *_ML_NUM)
    m = F.col("doc_id") % 5
    return (
        F.when(m == 1, F.concat(
            F.lit("中文文档"), zh_num, F.lit("号的正文内容很长")))
        .when(m == 2, F.concat(
            F.lit("これは日本語の文書"), zh_num,
            F.lit("です テスト")))
        .when(m == 3, F.concat(
            F.lit("Русский документ номер "), d,
            F.lit(" содержит текст")))
        .when(m == 4, F.concat(
            F.lit("نص عربي رقم "), d, F.lit(" للاختبار")))
        .otherwise(F.col("text"))
    )


_ML_TEXT_SQL = f"""
      CASE (doc_id % 5)
        WHEN 1 THEN '中文文档' ||
          translate(doc_id::VARCHAR, '{_ML_NUM[0]}', '{_ML_NUM[1]}')
          || '号的正文内容很长'
        WHEN 2 THEN 'これは日本語の文書' ||
          translate(doc_id::VARCHAR, '{_ML_NUM[0]}', '{_ML_NUM[1]}')
          || 'です テスト'
        WHEN 3 THEN 'Русский документ номер ' || doc_id
          || ' содержит текст'
        WHEN 4 THEN 'نص عربي رقم ' || doc_id || ' للاختبار'
        ELSE text
      END
"""


@_q(
    "l_token_stats",
    "WITH ml AS (SELECT doc_id, (doc_id % 5) AS lane, "
    + _ML_TEXT_SQL
    + """ AS text FROM documents)
    SELECT lane,
           count(*) AS n_docs,
           CAST(sum(len("""
    + text.tokens_sql("text")
    + """)) AS BIGINT) AS total_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM ml
    GROUP BY lane
    ORDER BY lane NULLS FIRST
    """,
    "L4: token counting per language lane over a MULTILINGUAL planted "
    "corpus (Latin + zh/ja/ru/ar): tokens() segments Han/kana/Hangul/"
    "Thai runs into overlapping character bigrams (the standard CLIR "
    "segmentation — whitespace split would make each CJK document ONE "
    "token and every count/vocab/BM25 statistic noise), Latin text "
    "tokenizes exactly as before; the oracle replays the same unit "
    "regex + bigram expansion generated from the module constants "
    "(operators/text.py:tokens_sql)",
)
def l_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 5).alias("lane"),
        _ml_text().alias("text"),
    )
    return (
        d.groupBy("lane")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(text.token_count("text")).alias("total_tokens"),
            F.sum(text.bpe_ish_token_count("text")).alias("total_bpe_tokens"),
            F.sum(text.char_count("text")).alias("total_chars"),
        )
        .orderBy(F.col("lane").asc_nulls_first())
    )


@_q(
    "l_quality_score",
    """
    WITH scored AS (
      SELECT doc_id, source,
             0.4 * least(length(text) / 500.0, 1.0)
             + 0.3 * greatest(least((
                 (list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''), t -> length(t)))::DOUBLE
                  / nullif(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) - 2.0) / 8.0, 1.0), 0.0)
             + 0.3 * (1.0 - least(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                                  / nullif(length(text), 0) * 5.0, 1.0)) AS q
      FROM documents
    )
    SELECT source, count(*) AS n, round(avg(q), 6) AS avg_quality
    FROM scored GROUP BY source
    ORDER BY source NULLS FIRST
    """,
    "L4: heuristic quality score per source",
)
def l_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("source", text.quality_score("text").alias("q"))
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.round(F.avg("q"), 6).alias("avg_quality"))
        .orderBy(F.col("source").asc_nulls_first())
    )


#: planted per-lane text for the Gopher/C4 gate query: lane 0 is
#: engineered to PASS every rule, lanes 2-7 each trip a specific one,
#: lane 1 is the raw document text (whatever it scores — both engines
#: replay it). Shared byte-for-byte by Spark and the oracle.
_GOPHER_CLEAN = (
    "the quick brown fox jumps over and that is fine to have with "
)


def _gopher_text():
    d = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 9
    return (
        F.when(m == 0, F.concat(
            F.repeat(F.lit(_GOPHER_CLEAN), 6), F.lit("doc "), d))
        .when(m == 8, F.concat(
            # clean CJK doc: must PASS via the unsegmented-script
            # relaxation (English word-length/stopword rules skip)
            F.repeat(F.lit("这是一个质量良好的中文网页正文内容"), 8),
            F.lit("编号"), F.translate(d, *_ML_NUM)))
        .when(m == 2, F.repeat(
            F.concat(F.lit("- bullet item "), d, F.lit("\n")), 20))
        .when(m == 3, F.repeat(
            F.concat(F.lit("the line "), d, F.lit(" trails off...\n")),
            12))
        .when(m == 4, F.concat(
            F.repeat(F.lit("# tag "), 40), F.lit("num "), d))
        .when(m == 5, F.concat(
            F.lit("function f() { return 1; } "),
            F.repeat(F.lit(_GOPHER_CLEAN), 6), d))
        .when(m == 6, F.concat(
            F.lit("Lorem ipsum dolor sit amet "),
            F.repeat(F.lit(_GOPHER_CLEAN), 6), d))
        .when(m == 7, F.repeat(
            F.concat(F.lit("zxqj wvky "), d, F.lit(" ")), 30))
        .otherwise(F.col("text"))
    )


_GOPHER_TEXT_SQL = f"""
      CASE (doc_id % 9)
        WHEN 0 THEN repeat('{_GOPHER_CLEAN}', 6) || 'doc ' || doc_id
        WHEN 8 THEN repeat('这是一个质量良好的中文网页正文内容', 8)
          || '编号' || translate(doc_id::VARCHAR, '{_ML_NUM[0]}', '{_ML_NUM[1]}')
        WHEN 2 THEN repeat('- bullet item ' || doc_id || chr(10), 20)
        WHEN 3 THEN repeat('the line ' || doc_id || ' trails off...'
          || chr(10), 12)
        WHEN 4 THEN repeat('# tag ', 40) || 'num ' || doc_id
        WHEN 5 THEN 'function f() {{ return 1; }} '
          || repeat('{_GOPHER_CLEAN}', 6) || doc_id
        WHEN 6 THEN 'Lorem ipsum dolor sit amet '
          || repeat('{_GOPHER_CLEAN}', 6) || doc_id
        WHEN 7 THEN repeat('zxqj wvky ' || doc_id || ' ', 30)
        ELSE text
      END
"""


def _gopher_oracle_sql() -> str:
    from polars_fastx_spark.operators import gopher as G

    reasons = G.gopher_reasons_sql("text")
    return f"""
    WITH planted AS (
      SELECT doc_id, (doc_id % 9) AS lane, {_GOPHER_TEXT_SQL} AS text
      FROM documents
    ),
    gated AS (
      SELECT doc_id, lane, {reasons} AS fail_reasons FROM planted
    )
    SELECT doc_id, lane, (fail_reasons = '') AS passes_quality,
           fail_reasons
    FROM gated ORDER BY doc_id
    """


@_q(
    "l_gopher_gates",
    _gopher_oracle_sql(),
    "L4: the Gopher/C4 QUALITY RULE-PACK (operators/gopher.py) — the "
    "published gate set a corpus builder reaches for first (word-"
    "count bounds, mean word length, symbol-to-word ratio, bullet/"
    "ellipsis line fractions, alphabetic-word fraction, required-"
    "stopword presence, curly-brace and lorem-ipsum rejects), the "
    "whole rule TABLE compiled into ONE row-local projection emitting "
    "per-doc pass/fail + ordered failure reasons — zero shuffle, "
    "zero Python, fuses into the scan stage at any corpus size; "
    "planted lanes trip each rule class and lane 0 passes clean; the "
    "oracle replays every rule's arithmetic from the same metric/"
    "threshold constants (gopher_reasons_sql)",
)
def l_gopher_gates(spark, sf_dir):
    from polars_fastx_spark.operators import gopher as G

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 9).alias("lane"),
        _gopher_text().alias("text"),
    )
    return (
        G.gopher_gates(d)
        .select("doc_id", "lane", "passes_quality", "fail_reasons")
        .orderBy("doc_id")
    )


#: planted lanes for the multilingual gopher stopword rule (round 9):
#: clean English / German / Portuguese pages (each ≥50 words built
#: from its language's vocabulary, all other rules passing) plus a
#: word-salad lane with no stopwords in ANY language. Under the
#: published English-only list the clean de/pt pages FAIL the
#: stopword rule; under multilingual_stopwords() only the salad does.
_GOPHER_ML_LANES: tuple[str, ...] = (
    _GOPHER_CLEAN * 6 + "doc ",
    "der hund und die katze ist nicht ein tier zu mit haus baum "
    "wasser licht " * 5 + "doc ",
    "não é uma coisa simples você já sabe disso também são mais "
    "como isso para casa " * 4 + "doc ",
    "zxqv wqkk pmln brzt gkfd vvrn ttsl ppwa hhjd rrkc mmvn bbsw "
    "ddql ffzt ggxp " * 5 + "doc ",
)


def _gopher_ml_oracle_sql() -> str:
    from polars_fastx_spark.operators import gopher as G

    lanes = "\n".join(
        "WHEN %d THEN '%s' || doc_id" % (i, s.replace("'", "''"))
        for i, s in enumerate(_GOPHER_ML_LANES)
    )
    text_case = f"CASE (doc_id % {len(_GOPHER_ML_LANES)})\n{lanes}\nEND"
    ml = G.gopher_reasons_sql("text", stopwords=G.multilingual_stopwords())
    en = G.gopher_reasons_sql("text")
    return f"""
    WITH planted AS (
      SELECT doc_id, (doc_id % {len(_GOPHER_ML_LANES)}) AS lane,
             {text_case} AS text
      FROM documents
    )
    SELECT doc_id, lane,
           ({ml} = '') AS passes_ml,
           {ml} AS reasons_ml,
           (list_contains(string_split({en}, ','), 'stopwords'))
             AS en_stopword_fail
    FROM planted ORDER BY doc_id
    """


@_q(
    "l_gopher_multilingual",
    _gopher_ml_oracle_sql(),
    "L4: MULTILINGUAL required-stopword rule for the Gopher pack "
    "(operators/gopher.py:multilingual_stopwords — round 9): the "
    "published English-only stopword list fails every clean non-"
    "English Latin page (the same English-calibration gap the unseg "
    "relaxation closes for CJK, one script family over); widening "
    "the vocabulary to the union of the 11 Latin-tier STOPWORDS "
    "lists keeps the gate one InSet with no plan change. Planted "
    "lanes: clean en/de/pt pages + a no-language word salad — under "
    "multilingual only the salad fails the stopword rule, while the "
    "en_stopword_fail column proves the de/pt lanes WOULD fail under "
    "the English-only default; oracle generated from the same "
    "constants via gopher_reasons_sql(stopwords=...)",
)
def l_gopher_multilingual(spark, sf_dir):
    from polars_fastx_spark.operators import gopher as G

    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % len(_GOPHER_ML_LANES)
    text_col = None
    for i, s in enumerate(_GOPHER_ML_LANES):
        branch = F.concat(F.lit(s), did)
        text_col = (F.when(m == i, branch) if text_col is None
                    else text_col.when(m == i, branch))
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", m.alias("lane"), text_col.alias("text")
    )
    ml = G.gopher_gates(
        d, stopwords=G.multilingual_stopwords(),
        out_pass="passes_ml", out_reasons="reasons_ml",
    )
    both = G.gopher_gates(
        ml, out_pass="__en_pass", out_reasons="__en_reasons"
    )
    return both.select(
        "doc_id", "lane", "passes_ml", "reasons_ml",
        F.array_contains(
            F.split(F.col("__en_reasons"), ","), "stopwords"
        ).alias("en_stopword_fail"),
    ).orderBy("doc_id")


@_q(
    "l_fingerprint",
    "WITH ml AS (SELECT doc_id, (doc_id % 5) AS lane, "
    + _ML_TEXT_SQL
    + """ AS text FROM documents)
    SELECT lane,
           count(*) AS n_docs,
           count(DISTINCT md5("""
    + text.normalize_sql("text")
    + """)) AS n_fingerprints,
           count(DISTINCT text) AS n_exact
    FROM ml GROUP BY lane ORDER BY lane NULLS FIRST
    """,
    "L4: normalized-text fingerprint dedup counts per lane of a "
    "MULTILINGUAL planted corpus — normalization keeps Unicode "
    "letters/digits (\\p{L}\\p{N}, Java∩RE2 dialect), so two distinct "
    "Chinese/Russian/Arabic documents get distinct fingerprints; the "
    "old Latin-only [^a-z0-9] class normalized every non-Latin doc "
    "to '' and collapsed each lane to ONE md5 (the round-7 verdict's "
    "live dedup hazard — n_fingerprints per non-Latin lane would "
    "read 1 instead of ~n_docs); oracle generated from the same "
    "class constant (operators/text.py:normalize_sql)",
)
def l_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 5).alias("lane"),
        _ml_text().alias("text"),
    )
    return (
        d.groupBy("lane")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(text.fingerprint("text")).alias(
                "n_fingerprints"
            ),
            F.countDistinct("text").alias("n_exact"),
        )
        .orderBy(F.col("lane").asc_nulls_first())
    )


#: dedicated 12-lane fixture for l_lang_id (round-9 task 4): the
#: extended Latin tier (pt/it/nl/pl/id/sv/tr) gets a planted lane
#: each, alongside script-tier lanes (zh/ru), classic-vote lanes
#: (de/fr) and the raw document text. Sentences are built FROM the
#: language's own STOPWORDS so the vote has a clear winner; the
#: oracle constructs the identical column. Per-doc distinctness via
#: the appended doc_id (the digits don't vote).
_LANG_LANES: tuple[tuple[str, str], ...] = (
    ("zh", "中文文档号的正文内容很长 "),
    ("pt", "não é uma coisa simples você já sabe disso também são mais "),
    ("it", "il documento che non sono anche questo della prova gli più nella "),
    ("nl", "het een niet ook maar zijn voor van op dat "),
    ("pl", "nie jest się że jak ale czy tym dla przez "),
    ("id", "yang ini dan itu dengan untuk tidak adalah dari di "),
    ("sv", "och att det som är inte jag på för med "),
    ("tr", "bir ve bu için ile olarak gibi çok daha ama "),
    ("de", "der die und das ist nicht ich ein zu mit "),
    ("fr", "le la les des est une dans pour que pas "),
    ("ru", "Русский документ номер содержит текст "),
)


def _lang_fixture_text():
    d = F.col("doc_id").cast("string")
    m = F.col("doc_id") % (len(_LANG_LANES) + 1)
    out = None
    for i, (_, sent) in enumerate(_LANG_LANES, start=1):
        branch = F.concat(F.lit(sent), d)
        out = (F.when(m == i, branch) if out is None
               else out.when(m == i, branch))
    return out.otherwise(F.col("text"))


def _lang_fixture_sql() -> str:
    whens = "\n".join(
        "WHEN %d THEN '%s' || doc_id" % (i, sent.replace("'", "''"))
        for i, (_, sent) in enumerate(_LANG_LANES, start=1)
    )
    return (
        f"CASE (doc_id % {len(_LANG_LANES) + 1})\n{whens}\n"
        "ELSE text END"
    )


def _lang_id_oracle() -> str:
    """DuckDB twin of text.lang_id, generated from the SAME constants
    so the two can never drift: the SCRIPT-FIRST tier replays via
    text.lang_id_script_sql (unicode-range char counts, same
    thresholds), the Latin stopword vote via the STOPWORDS table with
    tokens_sql tokenization; argmax tie-break = alphabetical lang
    (Spark folds the scored array in sorted(STOPWORDS) order and
    takes the first maximum — identical to ORDER BY hits DESC, lang
    ASC)."""
    return _lang_vote_cte() + """
    SELECT pred_lang, count(*) AS n
    FROM voted
    GROUP BY 1
    ORDER BY pred_lang NULLS FIRST
    """


def _lang_vote_cte() -> str:
    """The shared CTE chain replaying text.lang_id over the 12-lane
    fixture, ending in ``voted(doc_id, text, tk, pred_lang)`` — one
    row per document with its decided language, consumed by both the
    distribution tail (l_lang_id) and the corpus-report tail
    (l_lang_report)."""
    rows = ", ".join(
        "('%s', [%s])"
        % (lang, ", ".join("'%s'" % w for w in words))
        for lang, words in sorted(text.STOPWORDS.items())
    )
    script = text.lang_id_script_sql("text")
    toks = text.tokens_sql("text")
    return f"""
    WITH ml AS (
      SELECT doc_id, {_lang_fixture_sql()} AS text FROM documents
    ),
    sc AS (
      SELECT doc_id, text, {script} AS script_lang FROM ml
    ),
    toks AS (
      SELECT doc_id, text, script_lang,
             list_transform({toks}, t -> lower(t)) AS tk
      FROM sc
    ),
    scored AS (
      SELECT doc_id, text, tk, script_lang, lang,
             len(list_filter(tk, t -> list_contains(sw, t))) AS hits
      FROM toks CROSS JOIN (VALUES {rows}) AS langs(lang, sw)
    ),
    ranked AS (
      SELECT doc_id, text, tk, script_lang, lang, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang ASC) AS rn,
             max(hits) OVER (PARTITION BY doc_id) AS mx
      FROM scored
    ),
    voted AS (
      SELECT doc_id, text, tk,
             coalesce(script_lang,
                      CASE WHEN mx > 0 THEN lang ELSE 'und' END)
               AS pred_lang
      FROM ranked WHERE rn = 1
    )
    """


@_q(
    "l_lang_id",
    _lang_id_oracle(),
    "L4: language-ID distribution over a MULTILINGUAL planted corpus "
    "— SCRIPT-FIRST classification (unicode-range char counts decide "
    "zh/ja/ko/th/ru/ar/el/he/hi before any tokenization: stopword "
    "voting structurally cannot work on unsegmented scripts), then "
    "the stopword vote within Latin — round 9 extends the Latin tier "
    "to pt/it/nl/pl/id/sv/tr (11 Latin languages; a planted lane per "
    "new language in the 12-lane fixture); oracle generated from the "
    "same SCRIPT_RANGES/STOPWORDS constants and thresholds "
    "(operators/text.py:lang_id_script_sql)",
)
def l_lang_id(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents").select(
        "doc_id", _lang_fixture_text().alias("text")
    )
    return (
        d.select(text.lang_id("text").alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("pred_lang").asc_nulls_first())
    )


@_q(
    "l_lang_report",
    _lang_vote_cte() + """
    SELECT pred_lang, count(*) AS n_docs,
           sum(len(tk))::BIGINT AS total_tokens,
           sum(length(text))::BIGINT AS total_chars
    FROM voted
    GROUP BY 1
    ORDER BY pred_lang NULLS FIRST
    """,
    "L4: per-language CORPUS REPORT (round 9) — the dashboard a "
    "multilingual-corpus owner actually reads: documents classify "
    "through the full lang_id chain (script tier + 11-language "
    "Latin stopword vote), then per predicted language the doc "
    "count, unicode-aware token volume (CJK bigrams — whitespace "
    "counts would make the zh lane one token per doc) and char "
    "volume aggregate in one pass; the old 4-language tier lumped "
    "pt/it/nl/pl/id/sv/tr into 'und', under-reporting exactly the "
    "per-language budgets this table exists to track; oracle shares "
    "the l_lang_id vote CTE (one generator, two tails)",
)
def l_lang_report(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents").select(
        "doc_id", _lang_fixture_text().alias("text")
    )
    return (
        d.select(
            text.lang_id("text").alias("pred_lang"),
            text.token_count("text").alias("__tok"),
            text.char_count("text").alias("__ch"),
        )
        .groupBy("pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__tok").alias("total_tokens"),
            F.sum("__ch").alias("total_chars"),
        )
        .orderBy(F.col("pred_lang").asc_nulls_first())
    )


@_q(
    "g_pivot",
    """
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'F') AS n_f,
           count(*) FILTER (o_orderstatus = 'O') AS n_o,
           count(*) FILTER (o_orderstatus = 'P') AS n_p,
           round(sum(o_totalprice::DECIMAL(18,6))
                 FILTER (o_orderstatus = 'F'), 2)::DOUBLE AS sum_f
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority NULLS FIRST
    """,
    "G6+: pivot (wide aggregation by category values)",
)
def g_pivot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("o_totalprice").alias("sum"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
        F.col("P_n").alias("n_p"),
        F.col("F_sum").alias("sum_f"),
    ).orderBy(F.col("o_orderpriority").asc_nulls_first())


@_q(
    "w_range_frame",
    """
    SELECT o_orderkey,
           count(*) OVER (
             PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
             RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW
           ) AS n_last_30d
    FROM orders
    ORDER BY o_orderkey NULLS FIRST
    """,
    "W3: value-based RANGE frame — orders per customer in trailing 30 days",
)
def w_range_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        # o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC so the
        # cast's epoch matches DuckDB's epoch_us on the naive value
        "od_us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od_us")
        .rangeBetween(-30 * 24 * 3600 * 1_000_000, Window.currentRow)
    )
    return (
        o.select("o_orderkey", F.count("*").over(w).alias("n_last_30d"))
        .orderBy(F.col("o_orderkey").asc_nulls_first())
    )


@_q(
    "f_nulls",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_or_other,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS bal_nonneg,
           (c_acctbal < 0) AS was_negative,
           ifnull(CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END, 0.0)
             AS bal_filled
    FROM customer
    ORDER BY c_custkey NULLS FIRST
    """,
    "F-null: nullif/coalesce/fillna + null-predicate handling",
)
def f_nulls(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    bal_nonneg = F.when(F.col("c_acctbal") >= 0, F.round("c_acctbal", 2))
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")
        ).alias("seg_or_other"),
        bal_nonneg.alias("bal_nonneg"),
        (F.col("c_acctbal") < 0).alias("was_negative"),
        F.coalesce(bal_nonneg, F.lit(0.0)).alias("bal_filled"),
    ).orderBy(F.col("c_custkey").asc_nulls_first())


# =====================================================================
# §2.10 UDAF / UDTF surface (X5/X6)
# =====================================================================

@_q(
    "x_udaf_entropy",
    """
    WITH counts AS (
      SELECT source, lang, count(*) AS n_gv FROM documents
      WHERE lang IS NOT NULL GROUP BY source, lang
    )
    SELECT source,
           round(ln(sum(n_gv)) - sum(n_gv * ln(n_gv)) / sum(n_gv), 9) AS entropy
    FROM counts GROUP BY source
    ORDER BY source NULLS FIRST
    """,
    "X5: per-group Shannon entropy — two-level groupBy, partial-agg friendly",
)
def x_udaf_entropy(spark, sf_dir):
    from polars_fastx_spark.operators import udaf

    d = _t(spark, sf_dir, "documents")
    return (
        udaf.entropy_by_group(d, "source", "lang")
        .select("source", F.round("entropy", 9).alias("entropy"))
        .orderBy(F.col("source").asc_nulls_first())
    )


@_q(
    "x_applyinpandas_zscore",
    """
    SELECT c_custkey,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey))
                 / nullif(stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey), 0), 6)
             AS zscore
    FROM customer
    ORDER BY c_custkey NULLS FIRST
    """,
    "X5: applyInPandas per-group z-score, oracle-checked against window SQL",
)
def x_applyinpandas_zscore(spark, sf_dir):
    from polars_fastx_spark.operators import udaf

    c = _t(spark, sf_dir, "customer")
    # 3 of customer's 8 columns feed the group z-score; projecting
    # before the applyInPandas boundary keeps c_comment/c_address etc.
    # out of the group shuffle and the Arrow transpose (guide §4.1).
    c = c.select("c_custkey", "c_nationkey", "c_acctbal")
    return (
        udaf.zscore_by_group(c, "c_nationkey", "c_acctbal")
        .select("c_custkey", F.round("zscore", 6).alias("zscore"))
        .orderBy(F.col("c_custkey").asc_nulls_first())
    )


@_q(
    "x_udtf_ngrams",
    """
    SELECT doc_id, substr(text, i, 3) AS ngram, (i - 1)::INT AS pos
    FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
          FROM documents WHERE doc_id % 100 = 0)
    ORDER BY doc_id NULLS FIRST, pos NULLS FIRST
    """,
    "X6: n-gram row expansion (pure-SQL UDTF twin); NgramUDTF pytest-pinned",
)
def x_udtf_ngrams(spark, sf_dir):
    from polars_fastx_spark.operators import udtf

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0).select(
        "doc_id", "text"
    )
    return (
        udtf.ngrams_sql(d, "text", 3)
        .select("doc_id", "ngram", "pos")
        .orderBy(F.col("doc_id").asc_nulls_first(), F.col("pos").asc_nulls_first())
    )


def _ann_lsh_oracle(dim: int = 64, k: int = 5, num_planes: int = 4,
                    seed: int = 42) -> str:
    """DuckDB twin of similarity.ann_topk_via_lsh — the hyperplanes are
    pure functions of (seed, plane, dim index) computed driver-side, so
    the oracle embeds the SAME IEEE doubles (via repr round-trip) and
    replays bucket-sign assignment + in-bucket cosine top-k in SQL.
    Sign flips would need a dot product within ~1e-16 of zero; the
    distinct random embeddings rule that out."""
    import math

    planes = [
        [repr(math.sin(float(seed) + 1.0 + p * 1013.0 + i * 9.17))
         for i in range(dim)]
        for p in range(num_planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(c)}]) >= 0 "
        f"THEN 1 ELSE 0 END) * {2 ** (num_planes - 1 - p)}"
        for p, c in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             ({bucket}) AS bucket
      FROM embeddings
    ),
    n AS (SELECT id, v, bucket, sqrt(list_dot_product(v, v)) AS nrm FROM b),
    pairs AS (
      SELECT a.id AS id_a, c.id AS id_b,
             list_dot_product(a.v, c.v) / nullif(a.nrm * c.nrm, 0.0)
               AS cosine
      FROM n a JOIN n c ON a.bucket = c.bucket AND a.id < c.id
    )
    SELECT id_a, id_b, round(cosine, 4) AS cosine
    FROM pairs ORDER BY cosine DESC, id_a, id_b LIMIT {k}
    """


@_q(
    "l_ann_lsh_topk",
    _ann_lsh_oracle(),
    "L3 scale path: ANN top-k via random-hyperplane LSH buckets; "
    "oracle replays the deterministic hyperplane signs + in-bucket "
    "cosine re-rank in SQL (recall-vs-exact additionally "
    "property-tested in pytest)",
)
def l_ann_lsh_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk_via_lsh(
        e, "vec_id", "embedding", dim=64, k=5, num_planes=4
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


_IVF_ORACLE = """
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    cent AS (
      SELECT md5(id::VARCHAR) AS cell, v AS cvec, nrm AS cnrm
      FROM base ORDER BY cell LIMIT 8
    ),
    assigned AS (
      SELECT b.id, b.v, b.nrm,
             arg_max(c.cell,
                     list_dot_product(b.v, c.cvec)
                       / nullif(b.nrm * c.cnrm, 0.0)) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.id, b.v, b.nrm
    ),
    pairs AS (
      SELECT a.id AS id_a, c.id AS id_b,
             list_dot_product(a.v, c.v) / nullif(a.nrm * c.nrm, 0.0)
               AS cosine
      FROM assigned a JOIN assigned c
        ON a.cell = c.cell AND a.id < c.id
    )
    SELECT id_a, id_b, round(cosine, 4) AS cosine
    FROM pairs ORDER BY cosine DESC, id_a, id_b LIMIT 5
    """


@_q(
    "l_ivf_topk",
    _IVF_ORACLE,
    "L3 scale path: ANN top-k via IVF cells (deterministic "
    "md5-smallest-k centroids); oracle replays seeding, nearest-cell "
    "assignment (arg_max cosine — no ties in the distinct random "
    "embeddings), and in-cell exact re-rank in SQL",
)
def l_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(e, "vec_id", "embedding", k=5, num_cells=8).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


@_q(
    "l_semdedup",
    """
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    cent AS (
      SELECT md5(id::VARCHAR) AS cell, v AS cvec, nrm AS cnrm
      FROM base ORDER BY cell LIMIT 16
    ),
    assigned AS (
      SELECT b.id, b.v, b.nrm,
             arg_max(c.cell,
                     list_dot_product(b.v, c.cvec)
                       / nullif(b.nrm * c.cnrm, 0.0)) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.id, b.v, b.nrm
    )
    SELECT a.id AS vec_id, min(b.id) AS dup_of
    FROM assigned a JOIN assigned b
      ON a.cell = b.cell AND b.id < a.id
     AND list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0.0) >= 0.35
    GROUP BY a.id
    ORDER BY vec_id NULLS FIRST
    """,
    "L2/L3 scale path: SemDeDup-style celled embedding dedup — IVF "
    "coarse clusters (md5-seeded, broadcast assignment) bound the pair "
    "scan to within-cell candidates; drops every vector with a "
    "smaller-id neighbor at cosine >= 0.35 in its cell. The "
    "linear-scaling alternative to l_embed_neardup's exact all-pairs.",
)
def l_semdedup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.semdedup(
        e, "vec_id", "embedding", threshold=0.35, num_cells=16
    ).orderBy(F.col("vec_id").asc_nulls_first())


@_q(
    "l_knn_per_query",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    s AS (
      SELECT q.vec_id AS id_q, i.vec_id AS id_i,
             list_dot_product(q.v, i.v) / nullif(q.nrm * i.nrm, 0.0) AS c
      FROM base q JOIN base i ON i.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ),
    r AS (
      SELECT id_q, id_i, c,
             row_number() OVER (PARTITION BY id_q
                                ORDER BY c DESC, id_i ASC) AS rk
      FROM s
    )
    SELECT id_q, id_i, round(c, 4) AS cosine
    FROM r WHERE rk <= 3
    ORDER BY id_q NULLS FIRST, cosine DESC, id_i
    """,
    "L3 batch search mode: exact 3 nearest neighbors PER QUERY vector "
    "(5 queries drawn from the indexed table, self-matches excluded) — "
    "distributed blocked gemm per (query-block, index-block) cell, "
    "per-query window over <= k*blocks bounded candidates",
)
def l_knn_per_query(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = similarity.cosine_topk_per_query(
        e, "vec_id", "embedding", q, k=3, exclude_self=True
    )
    return out.select(
        "id_q", "id_i", F.round("cosine", 4).alias("cosine")
    ).orderBy(
        F.col("id_q").asc_nulls_first(), F.col("cosine").desc(), F.col("id_i")
    )


@_q(
    "l_multimodal_features",
    """
    SELECT 'mem://doc/' || doc_id AS path,
           4 AS width, 4 AS height, 3 AS n_channels,
           round(((list_avg([ascii(substr(rpad(text, 48, '.'), i, 1))
                             for i in generate_series(1, 46, 3)])
                   / 255.0)::FLOAT)::DOUBLE,
                 6) AS emb0
    FROM documents
    ORDER BY path NULLS FIRST
    """,
    "L5: binary media column → REAL builtin decode (PPM P6) → feature "
    "rows; the oracle recomputes channel-0 mean from the same bytes",
)
def l_multimodal_features(spark, sf_dir):
    """4×4 P6 (PPM) images synthesized deterministically from
    documents.text (header + 48 raster bytes), decoded by the REAL
    builtin decoder — the full pipeline (binary column → Arrow batches
    → mapInPandas decode → typed feature rows) with no injected fake.
    emb0 = channel-0 mean/255, recomputed byte-for-byte by the oracle.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("path"),
        F.concat(
            F.encode(F.lit("P6\n4 4\n255\n"), "UTF-8"),
            F.encode(F.rpad(F.col("text"), 48, "."), "UTF-8"),
        ).alias("content"),
    )
    feats = multimodal.extract_image_features(d)  # default = real decoder
    # embedding is array<float>; round on DOUBLE after the float32
    # quantization (the oracle applies the same ::FLOAT::DOUBLE hop)
    return feats.select(
        "path", "width", "height", "n_channels",
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("emb0"),
    ).orderBy(F.col("path").asc_nulls_first())


@_q(
    "l_decontaminate",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(
               [array_to_string(toks[i:i+4], ' ')
                for i in generate_series(1, greatest(len(toks) - 4, 0))]
             )) AS g
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)
    ),
    bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
    corp AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT doc_id, count(*) AS n_hit_ngrams
      FROM corp WHERE g IN (SELECT g FROM bench)
      GROUP BY doc_id
    )
    SELECT d.doc_id AS doc_id,
           coalesce(h.n_hit_ngrams, 0) AS n_hit_ngrams,
           coalesce(h.n_hit_ngrams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 97 <> 0
    ORDER BY d.doc_id NULLS FIRST
    """,
    "L4+: benchmark decontamination — flag corpus docs sharing any word "
    "5-gram with the held-out set (broadcast benchmark n-gram set)",
)
def l_decontaminate(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return text.decontaminate(corpus, benchmark, "doc_id", "text", n=5).orderBy(
        F.col("doc_id").asc_nulls_first()
    )


#: DuckDB fold of one 8-hex-char md5 slice to an int bit position —
#: slice ``j`` of md5({expr}), mod {m} (the DSIR bucket pattern)
def _bloom_pos_sql(expr: str, j: str, m: int) -> str:
    return (
        "list_reduce([strpos('0123456789abcdef', x) - 1 "
        f"for x in string_split(substr(md5({expr}), 1 + 8 * ({j}), 8), '')], "
        f"(a, b) -> a * 16 + b) % {m}"
    )


@_q(
    "l_bloom_decontam",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(
               [array_to_string(toks[i:i+4], ' ')
                for i in generate_series(1, greatest(len(toks) - 4, 0))]
             )) AS g
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)
    ),
    jdx AS (SELECT unnest(generate_series(0, 3)) AS j),
    bpos AS (
      SELECT DISTINCT {_bloom_pos_sql('g', 'j', 8192)} AS pos
      FROM (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0) CROSS JOIN jdx
    ),
    mask AS (
      SELECT pos // 63 AS widx, bit_or(1::BIGINT << (pos % 63)::INT) AS word
      FROM bpos GROUP BY pos // 63
    ),
    cpos AS (
      SELECT doc_id, g, {_bloom_pos_sql('g', 'j', 8192)} AS pos
      FROM (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0) CROSS JOIN jdx
    ),
    hitg AS (
      SELECT doc_id, g
      FROM cpos JOIN mask ON mask.widx = cpos.pos // 63
      WHERE (mask.word & (1::BIGINT << (cpos.pos % 63)::INT))
            = (1::BIGINT << (cpos.pos % 63)::INT)
      GROUP BY doc_id, g
      HAVING count(*) = 4
    ),
    hits AS (SELECT doc_id, count(*) AS n_hit_ngrams FROM hitg GROUP BY doc_id)
    SELECT d.doc_id AS doc_id,
           coalesce(h.n_hit_ngrams, 0) AS n_hit_ngrams,
           coalesce(h.n_hit_ngrams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 97 <> 0
    ORDER BY d.doc_id NULLS FIRST
    """,
    "L4+: Bloom-filter decontamination — the benchmark n-gram set "
    "compressed into a bit-packed (widx, word) mask (≤ m/63 longs via "
    "one bit_or groupBy, broadcastable no matter the eval-suite size), "
    "corpus grams probe k=4 md5-slice positions through a broadcast "
    "join. Never undercounts (no false negatives); m=8192 is sized so "
    "the sf0.01 run exercises real false positives, and the oracle "
    "replays them bit-exactly — md5 positions, 63-bit packing (DuckDB "
    "raises on 1<<63), no RNG (operators/text.py:bloom_decontaminate)",
)
def l_bloom_decontam(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return text.bloom_decontaminate(
        corpus, benchmark, "doc_id", "text", n=5, m_bits=8192, k=4
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "l_unigram_quality",
    """
    WITH w AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    model AS (SELECT w, count(*) AS wn FROM w GROUP BY w),
    tot AS (SELECT count(*)::DOUBLE AS tot FROM w),
    scored AS (
      SELECT doc_id, count(*)::BIGINT AS n_words,
             round(avg(ln(wn / tot)), 6) AS avg_logprob
      FROM w JOIN model USING (w), tot
      GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(s.n_words, 0) AS n_words, s.avg_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY doc_id NULLS FIRST
    """,
    "L4+: unigram-LM perplexity proxy — corpus-trained word "
    "log-probabilities, per-doc mean (quality-tail filter)",
)
def l_unigram_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text.unigram_logprob_score(d, "doc_id", "text").orderBy(
        F.col("doc_id").asc_nulls_first()
    )


@_q(
    "l_vocab",
    """
    WITH w AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    t -> t <> '')) AS word
      FROM documents
    ),
    c AS (SELECT word, count(*) AS count FROM w
          GROUP BY word HAVING count(*) >= 5)
    SELECT word, count,
           (row_number() OVER (ORDER BY count DESC, word ASC) - 1)::BIGINT
             AS word_id
    FROM c
    ORDER BY word_id
    """,
    "L4+: frequency-ranked vocabulary build (word -> contiguous id by "
    "count desc, word asc; min_count=5) — the tokenizer-vocab/embedding "
    "-table primitive; ranking window is vocabulary-bounded (Heaps' "
    "law), not corpus-bounded",
)
def l_vocab(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text.vocab_build(d, "doc_id", "text", min_count=5).orderBy(
        F.col("word_id").asc_nulls_first()
    )


@_q(
    "l_tokenize_ids",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ),
    w AS (SELECT unnest(ts) AS word FROM toks),
    c AS (SELECT word, count(*) AS cnt FROM w
          GROUP BY word HAVING count(*) >= 5),
    vocab AS (
      SELECT word,
             (row_number() OVER (ORDER BY cnt DESC, word ASC) - 1)::BIGINT
               AS word_id
      FROM c
    ),
    pos AS (
      SELECT doc_id, i AS pos, ts[i] AS word
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
            FROM toks WHERE len(ts) >= 1)
    ),
    seqs AS (
      SELECT p.doc_id,
             count(*)::BIGINT AS n_tokens,
             to_json(list(coalesce(v.word_id, -1) ORDER BY p.pos)) AS ids
      FROM pos p LEFT JOIN vocab v USING (word)
      GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.ids, '[]') AS ids
    FROM documents d LEFT JOIN seqs s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id NULLS FIRST
    """,
    "L4+ flagship prep step: corpus tokenized to ORDERED vocab-id "
    "sequences (frequency-ranked vocab min_count=5, OOV -> -1) — "
    "posexplode + vocab join + value-ordered reassembly; ids rendered "
    "as JSON text (§4.4.7)",
)
def l_tokenize_ids(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = text.tokenize_to_ids(d, "doc_id", "text", min_count=5)
    return out.select(
        "doc_id", "n_tokens", F.to_json("ids").alias("ids")
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "l_tfidf",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    t -> t <> '')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, count(*)::DOUBLE AS tf
           FROM w GROUP BY doc_id, word),
    dfq AS (SELECT word, count(*)::DOUBLE AS df FROM tf GROUP BY word),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents),
    s AS (
      SELECT doc_id, word, tf * (ln((n + 1) / (df + 1)) + 1) AS tfidf
      FROM tf JOIN dfq USING (word), n
    ),
    r AS (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word ASC) AS rk
      FROM s
    )
    SELECT doc_id, word, round(tfidf, 6) AS tfidf
    FROM r WHERE rk <= 3
    ORDER BY doc_id NULLS FIRST, tfidf DESC, word
    """,
    "L4+: per-document top-3 terms by smoothed TF-IDF "
    "(tf * (ln((N+1)/(df+1))+1)) — keyword extraction / sparse "
    "retrieval; per-doc window bounded by doc vocabulary",
)
def l_tfidf(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = text.tfidf_top_terms(d, "doc_id", "text", top=3)
    return out.select(
        "doc_id", "word", F.round("tfidf", 6).alias("tfidf")
    ).orderBy(
        F.col("doc_id").asc_nulls_first(), F.col("tfidf").desc(), F.col("word")
    )


@_q(
    "l_bigram_quality",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ),
    bg AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks WHERE len(ts) >= 2)
    ),
    pc AS (SELECT w1, w2, count(*)::DOUBLE AS cp FROM bg GROUP BY w1, w2),
    hc AS (SELECT w1, count(*)::DOUBLE AS ch FROM bg GROUP BY w1),
    sc AS (
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             round(avg(ln(cp / ch)), 6) AS avg_logprob
      FROM bg JOIN pc USING (w1, w2) JOIN hc USING (w1)
      GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.avg_logprob
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id NULLS FIRST
    """,
    "L4+: bigram-LM quality score — corpus-trained p(w2|w1), per-doc "
    "mean bigram log-probability (catches word-salad unigram stats "
    "miss); <2-word docs keep a row with n_bigrams=0",
)
def l_bigram_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text.bigram_logprob_score(d, "doc_id", "text").orderBy(
        F.col("doc_id").asc_nulls_first()
    )


@_q(
    "l_bm25",
    """
    WITH w AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM w GROUP BY doc_id),
    st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    h AS (SELECT doc_id, w FROM w WHERE w IN ('data', 'table', 'join')),
    dfq AS (SELECT w, count(DISTINCT doc_id)::DOUBLE AS dfq FROM h GROUP BY w),
    tf AS (SELECT doc_id, w, count(*)::DOUBLE AS tf FROM h GROUP BY doc_id, w)
    SELECT doc_id,
           round(sum(ln(1 + (n - dfq + 0.5) / (dfq + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
    FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id), st
    GROUP BY doc_id
    ORDER BY doc_id NULLS FIRST
    """,
    "L4+: Okapi BM25 lexical retrieval scores for a fixed query — the "
    "RAG retrieval primitive (corpus stats as 1-row broadcast)",
)
def l_bm25(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        text.bm25_scores(d, "doc_id", "text", ["data", "table", "join"])
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "l_rrf_hybrid",
    """
    WITH w AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM w GROUP BY doc_id),
    st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    h AS (SELECT doc_id, w FROM w WHERE w IN ('data', 'table', 'join')),
    dfq AS (SELECT w, count(DISTINCT doc_id)::DOUBLE AS dfq FROM h GROUP BY w),
    tf AS (SELECT doc_id, w, count(*)::DOUBLE AS tf FROM h GROUP BY doc_id, w),
    bm AS (
      SELECT doc_id,
             round(sum(ln(1 + (n - dfq + 0.5) / (dfq + 0.5)) * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS s
      FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id), st
      GROUP BY doc_id
    ),
    bmr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
            FROM bm),
    qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
    cs AS (SELECT vec_id AS doc_id,
                  round(list_cosine_similarity(embedding::DOUBLE[], q), 6) AS s
           FROM embeddings, qv),
    csr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
            FROM cs),
    contrib AS (
      SELECT doc_id, 1.0 / (60 + r) AS c FROM bmr WHERE r <= 50
      UNION ALL
      SELECT doc_id, 1.0 / (60 + r) AS c FROM csr WHERE r <= 50
    )
    SELECT doc_id, round(sum(c), 6) AS rrf, count(*) AS n_sources
    FROM contrib GROUP BY doc_id
    ORDER BY rrf DESC, doc_id ASC NULLS FIRST
    """,
    "L4+/RAG: Reciprocal Rank Fusion of BM25 lexical top-50 with "
    "embedding-cosine semantic top-50 (query vector = embedding of doc 0; "
    "RRF k=60, Cormack et al. SIGIR'09) — hybrid retrieval without score "
    "calibration",
)
def l_rrf_hybrid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    bm = text.bm25_scores(d, "doc_id", "text", ["data", "table", "join"]).select(
        "doc_id", F.round("bm25", 6).alias("score")
    )
    # semantic retriever: cosine vs a fixed query vector (1-row broadcast)
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    v = F.col("embedding").cast("array<double>")
    sem = e.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            similarity.cosine(
                v, F.col("qv"), similarity.l2_norm(v), similarity.l2_norm(F.col("qv"))
            ),
            6,
        ).alias("score"),
    )
    fused = retrieval.rrf_fuse(
        [(bm, "score"), (sem, "score")], "doc_id", top_n=50, k=60
    )
    return fused.select(
        "doc_id", F.round("rrf", 6).alias("rrf"), "n_sources"
    ).orderBy(F.col("rrf").desc(), F.col("doc_id").asc_nulls_first())


def _bpe_oracle_sql(num_merges: int, tail: str = "rules") -> str:
    """Chained-CTE DuckDB twin of bpe._train: each round counts
    adjacent symbol pairs over the vocabulary symbol arrays, takes the
    argmax with the same (count DESC, lhs, rhs) tiebreak, and applies
    the leftmost-greedy merge SET-WISE — Spark folds the array
    sequentially; here match sites can only conflict inside
    equal-symbol runs (site i+1 needs syms[i+1]=rhs=lhs), where greedy
    selects alternating sites: islands of consecutive site positions +
    row_number parity. A delimiter-joined string replace is NOT
    equivalent (it crosses symbol boundaries when rhs prefixes the
    next symbol — caught by the randomized differential). ``tail``
    picks the projection: the learned rules, or the final token
    vocabulary (the encode side). Assumes each round finds a pair
    (true for the test corpora at 63-symbol words); the ENGINE handles
    exhaustion by stopping early."""
    parts = [
        """
    WITH w0 AS (
        SELECT word, regexp_extract_all(word, '.') AS syms, cnt
        FROM (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
                FROM documents WHERE text IS NOT NULL
            ) WHERE word <> '' GROUP BY word
        )
    ),
    pos AS (SELECT unnest(generate_series(1, 63)) AS i)"""
    ]
    for r in range(1, num_merges + 1):
        parts.append(
            f""",
    p{r} AS (
        SELECT w.syms[i.i] AS lhs, w.syms[i.i + 1] AS rhs,
               sum(w.cnt) AS pair_count
        FROM w{r - 1} w, pos i
        WHERE i.i < len(w.syms)
        GROUP BY 1, 2
    ),
    m{r} AS MATERIALIZED (
        SELECT lhs, rhs, pair_count FROM p{r}
        ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
    ),
    st{r} AS (
        SELECT w.word, i.i AS i,
               i.i - row_number() OVER (
                   PARTITION BY w.word ORDER BY i.i) AS isl
        FROM w{r - 1} w, m{r} m, pos i
        WHERE i.i < len(w.syms)
          AND w.syms[i.i] = m.lhs AND w.syms[i.i + 1] = m.rhs
    ),
    sel{r} AS MATERIALIZED (
        SELECT word, i FROM (
            SELECT word, i,
                   row_number() OVER (
                       PARTITION BY word, isl ORDER BY i) AS rn
            FROM st{r}
        ) WHERE rn % 2 = 1
    ),
    w{r} AS MATERIALIZED (
        SELECT w.word,
               list(CASE WHEN s1.i IS NOT NULL THEN m.lhs || m.rhs
                         ELSE w.syms[p.i] END ORDER BY p.i) AS syms,
               w.cnt AS cnt
        FROM w{r - 1} w
        CROSS JOIN m{r} m
        CROSS JOIN pos p
        LEFT JOIN sel{r} s1 ON s1.word = w.word AND s1.i = p.i
        LEFT JOIN sel{r} s2 ON s2.word = w.word AND s2.i = p.i - 1
        WHERE p.i <= len(w.syms) AND s2.i IS NULL
        GROUP BY w.word, w.cnt
    )"""
        )
    if tail == "rules":
        union = "\n        UNION ALL ".join(
            f"SELECT {r} AS round, lhs, rhs, pair_count::BIGINT AS pair_count "
            f"FROM m{r}"
            for r in range(1, num_merges + 1)
        )
        parts.append(
            f"""
    SELECT * FROM (
        {union}
    ) ORDER BY round NULLS FIRST
    """
        )
    else:
        parts.append(
            f"""
    SELECT token, sum(cnt)::BIGINT AS n
    FROM (SELECT unnest(syms) AS token, cnt FROM w{num_merges})
    GROUP BY token
    ORDER BY token NULLS FIRST
    """
        )
    return "".join(parts)


@_q(
    "l_bpe_merges",
    _bpe_oracle_sql(6),
    "L4: BPE tokenizer training (Sennrich et al. ACL'16) — 6 merge "
    "rules learned over the document corpus. The distributed-scale "
    "shape every production trainer uses: ONE corpus pass builds the "
    "(word, cnt) vocabulary, then every round runs over the bounded "
    "vocab table (pair explode + map-side-combined groupBy, 1-row "
    "TakeOrderedAndProject argmax collected as one bounded row, merge "
    "as a leftmost-greedy SYMBOL-SCAN fold over the symbol arrays). "
    "The oracle unrolls the rounds as chained MATERIALIZED CTEs with "
    "the set-wise equivalent of the greedy scan (run-parity site "
    "selection) and replays training merge-for-merge.",
)
def l_bpe_merges(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return bpe.bpe_train(d, "text", 6).orderBy(
        F.col("round").asc_nulls_first()
    )


@_q(
    "l_bpe_encode",
    _bpe_oracle_sql(6, tail="vocab"),
    "L4: the encode side of BPE — the corpus token vocabulary after "
    "the 6 learned merges (each vocab word's final symbol state "
    "exploded back to tokens, weighted by corpus frequency). Shares "
    "the training rounds with l_bpe_merges; the oracle chains the "
    "same CTEs through the final merged state.",
)
def l_bpe_encode(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return bpe.bpe_token_counts(d, "text", 6).orderBy(
        F.col("token").asc_nulls_first()
    )


@_q(
    "l_hard_negatives",
    """
    SELECT anchor_id, rank, vec_id, cos FROM (
        SELECT a.vec_id AS anchor_id, e.vec_id AS vec_id,
               round(list_cosine_similarity(
                   e.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS cos,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6)
                       DESC, e.vec_id ASC) AS rank
        FROM embeddings a JOIN embeddings e ON e.label <> a.label
        WHERE a.vec_id < 5
    ) WHERE rank <= 3
    ORDER BY anchor_id NULLS FIRST, rank NULLS FIRST
    """,
    "L3+: hard-negative mining for contrastive embedding training — "
    "for each anchor, the top-3 most-similar vectors with a DIFFERENT "
    "label (the negatives that actually move the loss). Pure "
    "composition: broadcast anchor set x label-mismatched candidates, "
    "JVM-fold cosine rounded before ranking so the oracle replays the "
    "cut deterministically. Bounded anchor sets ride this window "
    "form; large query batches route through the blocked "
    "knn_per_query path with a label-pruned candidate join.",
)
def l_hard_negatives(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", "label", v.alias("v"))
    anchors = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
    )
    cand = F.broadcast(anchors).join(
        base, F.col("label") != F.col("anchor_label")
    )
    cos = F.round(
        similarity.cosine(
            F.col("v"), F.col("av"),
            similarity.l2_norm(F.col("v")), similarity.l2_norm(F.col("av")),
        ),
        6,
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        cand.select("anchor_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("anchor_id", "rank", "vec_id", "cos")
        .orderBy(
            F.col("anchor_id").asc_nulls_first(),
            F.col("rank").asc_nulls_first(),
        )
    )


def _mmr_oracle_sql(query_ids, pool_n: int, k: int, lam: float) -> str:
    """Unrolled-greedy DuckDB twin of retrieval.mmr_rerank (the
    l_kmeans chained-CTE pattern): each round anti-joins the selected
    set, scores lam·rel − (1−lam)·max_sim over rounded-to-9dp cosines,
    and picks the argmax with the same (score DESC, vec_id ASC)
    tiebreak. Multipliers are embedded as repr() of the exact doubles
    Spark computes (1.0 − 0.7 is NOT the double literal 0.3), so the
    arithmetic replays bit-for-bit."""
    ids = ", ".join(str(i) for i in query_ids)
    lam_r, om_r = repr(float(lam)), repr(1.0 - float(lam))
    parts = [
        f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({ids})),
    pool AS (
        SELECT qid, vec_id, v, rel FROM (
            SELECT q.qid, e.vec_id, e.v,
                   round(list_cosine_similarity(e.v, q.qv), 9) AS rel,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(list_cosine_similarity(e.v, q.qv), 9)
                                DESC, e.vec_id ASC) AS rn
            FROM q JOIN e ON e.vec_id <> q.qid
        ) WHERE rn <= {pool_n}
    ),
    acc1 AS (
        SELECT qid, vec_id, v, rel, 1 AS rank, rel AS mmr FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rn
            FROM pool
        ) WHERE rn = 1
    )"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
    cand{r} AS (
        SELECT p.qid, p.vec_id, p.v, p.rel,
               {lam_r} * p.rel - {om_r} *
                   max(round(list_cosine_similarity(p.v, s.v), 9)) AS mmr
        FROM pool p JOIN acc{r - 1} s USING (qid)
        WHERE NOT EXISTS (SELECT 1 FROM acc{r - 1} a
                          WHERE a.qid = p.qid AND a.vec_id = p.vec_id)
        GROUP BY p.qid, p.vec_id, p.v, p.rel
    ),
    acc{r} AS (
        SELECT * FROM acc{r - 1}
        UNION ALL
        SELECT qid, vec_id, v, rel, {r} AS rank, mmr FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY mmr DESC, vec_id ASC) AS rn
            FROM cand{r}
        ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT qid AS query_id, rank, vec_id, round(mmr, 6) AS mmr_score
    FROM acc{k}
    ORDER BY query_id NULLS FIRST, rank NULLS FIRST
    """
    )
    return "".join(parts)


@_q(
    "l_mmr_rerank",
    _mmr_oracle_sql((1, 2), 16, 5, 0.7),
    "L3+/RAG: Maximal Marginal Relevance diversification (Carbonell & "
    "Goldstein SIGIR'98) — per-query greedy top-5 balancing relevance "
    "against redundancy to the already-selected set (lambda 0.7), "
    "unrolled as 5 relational rounds with NO Python stage: pool cut to "
    "16 per query first (broadcast query x corpus relevance pass + "
    "window), then each round joins <= pool candidates against <= k "
    "selected rows per query. Cosines rounded to 9dp before every "
    "argmax so the DuckDB oracle replays the selection path "
    "decision-for-decision.",
)
def l_mmr_rerank(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return retrieval.mmr_rerank(
        e, "vec_id", "embedding", [1, 2], pool_n=16, k=5, lam=0.7
    ).orderBy(
        F.col("query_id").asc_nulls_first(), F.col("rank").asc_nulls_first()
    )


def _jl_oracle_sql(in_dim: int, out_dim: int, salt: str) -> str:
    """DuckDB twin of vectors.random_project: rebuild the md5-seeded
    sign matrix in a CTE, project with an ordered list-comprehension
    sum (sequential like Spark's fold), scale by the exact double
    1/sqrt(out_dim) via repr()."""
    import math

    inv = repr(1.0 / math.sqrt(out_dim))
    return f"""
    WITH r AS (
        SELECT j.j AS j,
               list(CASE WHEN ('0x' || substring(
                                   md5('{salt}:' || j.j || ':' || i.i),
                                   1, 8))::BIGINT % 2 = 0
                         THEN 1.0 ELSE -1.0 END ORDER BY i.i) AS s
        FROM (SELECT unnest(generate_series(0, {out_dim - 1})) AS j) j,
             (SELECT unnest(generate_series(0, {in_dim - 1})) AS i) i
        GROUP BY j.j
    )
    SELECT e.vec_id AS id, r.j,
           round(list_sum([e.embedding[i + 1]::DOUBLE * r.s[i + 1]
                           for i in generate_series(0, {in_dim - 1})])
                 * {inv}, 6) AS comp
    FROM embeddings e, r
    WHERE e.embedding IS NOT NULL
    ORDER BY id NULLS FIRST, j NULLS FIRST
    """


@_q(
    "l_random_project",
    _jl_oracle_sql(64, 16, "jl"),
    "L3: Johnson-Lindenstrauss random projection 64 -> 16 dims "
    "(Achlioptas +/-1 signs) — the ANN front end that shrinks vectors "
    "4x while preserving pairwise geometry within O(1/sqrt(16)). The "
    "sign matrix is md5-seeded (RNG-free, engine-reproducible) and "
    "embedded as plan literals, so projection is ONE codegen'd map "
    "pass: no matrix join, no shuffle, no Python. Long-form output "
    "(id, j, comp) keeps the value hash float-format-safe.",
)
def l_random_project(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return vectors.random_project(
        e, "vec_id", "embedding", 64, 16, salt="jl"
    ).orderBy(F.col("id").asc_nulls_first(), F.col("j").asc_nulls_first())


@_q(
    "l_quantize_int8",
    """
    WITH s AS (
      SELECT i.i AS i, max(abs(embedding[i.i]::DOUBLE)) AS s
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
      GROUP BY i.i
    ),
    sv AS (
      SELECT list(CASE WHEN s = 0 THEN 1.0 ELSE s END ORDER BY i) AS scales
      FROM s
    )
    SELECT vec_id,
           to_json([greatest(-127, least(127,
              floor(embedding[i]::DOUBLE / scales[i] * 127.0 + 0.5)::INT))
            for i in generate_series(1, 64)])::VARCHAR AS qvec,
           round(list_max(
             [abs(embedding[i]::DOUBLE
                  - greatest(-127, least(127,
                      floor(embedding[i]::DOUBLE / scales[i] * 127.0
                            + 0.5)::INT)) * scales[i] / 127.0)
              for i in generate_series(1, 64)]), 6) AS max_abs_err
    FROM embeddings, sv
    ORDER BY vec_id NULLS FIRST
    """,
    "L3+: symmetric per-dimension int8 embedding quantization with "
    "per-vector reconstruction bound (the 4x ANN memory lever)",
)
def l_quantize_int8(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = vectors.quantize_int8(e, "vec_id", "embedding")
    # qvec rendered as canonical JSON text (§4.4.7): the driver's pandas
    # canonicalizer cannot sort list-valued cells (r2 red row).
    return out.select(
        "vec_id",
        F.to_json("qvec").alias("qvec"),
        F.round("max_abs_err", 6).alias("max_abs_err"),
    ).orderBy(F.col("vec_id").asc_nulls_first())


# =====================================================================
# §2.9 Event-time windows, batch semantics (T3-T5)
# =====================================================================

@_q(
    "t_tumbling_window",
    """
    SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start_s,
           event_type,
           count(*) AS n,
           round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start_s NULLS FIRST, event_type NULLS FIRST
    """,
    "T3: tumbling 1h event-time window aggregate",
)
def t_tumbling_window(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("ts_ts", F.timestamp_micros(F.col("ts_us")))
        .groupBy(F.window("ts_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy(F.col("window_start_s").asc_nulls_first(), F.col("event_type").asc_nulls_first())
    )


@_q(
    "t_sliding_window",
    """
    WITH slid AS (
      SELECT epoch(time_bucket(INTERVAL '15 minutes', ts)
                   - k * INTERVAL '15 minutes')::BIGINT AS window_start_s,
             value
      FROM events, LATERAL generate_series(0, 3) t(k)
    )
    SELECT window_start_s, count(*) AS n, round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
    FROM slid GROUP BY 1
    ORDER BY window_start_s NULLS FIRST
    """,
    "T4: sliding window (1h width, 15min slide)",
)
def t_sliding_window(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("ts_ts", F.timestamp_micros(F.col("ts_us")))
        .groupBy(F.window("ts_ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"), "n", "sum_value"
        )
        .orderBy(F.col("window_start_s").asc_nulls_first())
    )


@_q(
    "t_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
                       > INTERVAL '5 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id, epoch_us(min(ts))::BIGINT AS session_start_us,
           count(*) AS n_events, round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id NULLS FIRST, session_start_us NULLS FIRST
    """,
    "T5: session windows (5-minute gap) — batch semantics",
)
def t_session_window(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("ts_ts", F.timestamp_micros(F.col("ts_us")))
        .groupBy(F.session_window("ts_ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
        .orderBy(F.col("user_id").asc_nulls_first(), F.col("session_start_us").asc_nulls_first())
    )


@_q(
    "r_upsample_ffill",
    """
    WITH base AS (
      SELECT user_id, (epoch_us(ts) // 86400000000)::BIGINT AS day,
             round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS day_value
      FROM events WHERE user_id % 100 = 0
      GROUP BY user_id, day
    ), bounds AS (
      SELECT user_id, min(day) AS lo, max(day) AS hi FROM base GROUP BY user_id
    ), spine AS (
      SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM bounds
    )
    SELECT s.user_id, s.day,
           round(last_value(b.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS day_value
    FROM spine s LEFT JOIN base b ON b.user_id = s.user_id AND b.day = s.day
    ORDER BY s.user_id NULLS FIRST, s.day NULLS FIRST
    """,
    "R: upsample to dense daily spine + forward fill (Polars upsample analog)",
)
def r_upsample_ffill(spark, sf_dir):
    from polars_fastx_spark.operators.resample import upsample_ffill

    ev = _events(spark, sf_dir).filter(F.col("user_id") % 100 == 0)
    daily = ev.groupBy(
        "user_id", F.expr("ts_us div 86400000000").alias("day")
    ).agg(_dsum("value").alias("day_value"))
    out = upsample_ffill(daily, "day", "user_id", ["day_value"])
    return out.select(
        "user_id", "day", F.round("day_value", 2).alias("day_value")
    ).orderBy(F.col("user_id").asc_nulls_first(), F.col("day").asc_nulls_first())


@_q(
    "u_unpivot",
    """
    SELECT o_orderkey, kind,
           CAST(floor(amount * 100 + 0.5) AS BIGINT) AS amount_cents
    FROM (
      SELECT o_orderkey, 'total' AS kind, o_totalprice AS amount FROM orders
      UNION ALL
      SELECT o_orderkey, 'half', o_totalprice / 2 FROM orders
    )
    WHERE o_orderkey % 50 = 0
    ORDER BY o_orderkey NULLS FIRST, kind NULLS FIRST
    """,
    "U4: unpivot/melt — wide columns to (key, kind, amount) rows",
)
def u_unpivot(spark, sf_dir):
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("total"),
            (F.col("o_totalprice") / 2).alias("half"),
        )
    )
    return (
        o.unpivot("o_orderkey", ["total", "half"], "kind", "amount")
        # cents-as-bigint: round(double, 2) half-way behavior differs
        # across engines (SURVEY.md §4.4.2)
        .select(
            "o_orderkey", "kind",
            F.floor(F.col("amount") * 100 + 0.5).cast("bigint").alias("amount_cents"),
        )
        .orderBy(F.col("o_orderkey").asc_nulls_first(), F.col("kind").asc_nulls_first())
    )


# =====================================================================
# §2.1 scans (S4) — multi-table scan sanity
# =====================================================================

@_q(
    "s_scan_counts",
    """
    SELECT 'customer' AS tbl, count(*) AS n FROM customer
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'region', count(*) FROM region
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    ORDER BY tbl NULLS FIRST
    """,
    "S4: parquet scan row counts across the star schema",
)
def s_scan_counts(spark, sf_dir):
    dfs = []
    for name in ["customer", "events", "lineitem", "nation", "orders", "part", "region", "supplier"]:
        dfs.append(
            _t(spark, sf_dir, name).agg(F.count("*").alias("n")).select(
                F.lit(name).alias("tbl"), "n"
            )
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.orderBy(F.col("tbl").asc_nulls_first())


# =====================================================================
# Subqueries (Tier C relational surface; SURVEY.md §2.3/§2.4 host ops).
# Spark plans correlated EXISTS/IN as semi/anti joins and uncorrelated
# scalar subqueries as broadcast one-row joins — at 100 TB the scalar
# aggregate is a single-row broadcast, never a driver collect.
# =====================================================================

@_q(
    "sq_scalar_avg",
    """
    SELECT p_partkey, p_name,
           CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM part
    WHERE p_retailprice > 1.5 * (
      SELECT (sum(trunc(p_retailprice * 1000000 + 0.5)::BIGINT))::DOUBLE
             / 1000000 / count(*)
      FROM part)
    ORDER BY p_partkey NULLS FIRST
    """,
    "SQ1: uncorrelated scalar subquery — parts priced >1.5× the global "
    "average; 1-row aggregate broadcast-joined, not collected. The avg "
    "threshold uses the exact fixed-point sum (§4.4) so a price that "
    "ties the real 1.5×avg boundary cannot split the engines",
)
def sq_scalar_avg(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    avg_df = p.agg(
        F.expr(
            f"CAST(sum({_fp('p_retailprice')}) AS DOUBLE) / {_FP} / count(1)"
        ).alias("_avg_price")
    )
    return (
        p.join(F.broadcast(avg_df))
        .filter(F.col("p_retailprice") > 1.5 * F.col("_avg_price"))
        .select(
            "p_partkey",
            "p_name",
            F.floor(F.col("p_retailprice") * 100 + 0.5).cast("bigint").alias("price_cents"),
        )
        .orderBy(F.col("p_partkey").asc_nulls_first())
    )


def _sq_views(spark, sf_dir):
    """Session-scoped temp views for the spark.sql subquery surface."""
    for name in ["customer", "orders", "lineitem"]:
        _t(spark, sf_dir, name).createOrReplaceTempView(f"pfs_{name}")


@_q(
    "sq_exists_corr",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    ORDER BY c_custkey NULLS FIRST
    """,
    "SQ2: correlated EXISTS through spark.sql — Catalyst rewrites to a "
    "left-semi hash join (no per-row subquery execution)",
)
def sq_exists_corr(spark, sf_dir):
    _sq_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM pfs_customer c
        WHERE EXISTS (SELECT 1 FROM pfs_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        ORDER BY c_custkey ASC NULLS FIRST
        """
    )


@_q(
    "sq_not_exists_corr",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    ORDER BY c_custkey NULLS FIRST
    """,
    "SQ3: correlated NOT EXISTS → left-anti join (customers with no "
    "order since 2000)",
)
def sq_not_exists_corr(spark, sf_dir):
    _sq_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM pfs_customer c
        WHERE NOT EXISTS (SELECT 1 FROM pfs_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        ORDER BY c_custkey ASC NULLS FIRST
        """
    )


@_q(
    "sq_in_uncorr",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus NULLS FIRST
    """,
    "SQ4: uncorrelated IN-subquery filter → semi join on the subquery "
    "result, then aggregate",
)
def sq_in_uncorr(spark, sf_dir):
    _sq_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total_price
        FROM pfs_orders
        WHERE o_custkey IN (SELECT c_custkey FROM pfs_customer
                            WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus ASC NULLS FIRST
        """
    )


@_q(
    "g_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           count(*) AS n_orders,
           round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY g_status NULLS FIRST, g_prio NULLS FIRST,
             o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    "G6: explicit GROUPING SETS with grouping() disambiguation of "
    "rolled-up NULLs (cube/rollup's general form)",
)
def g_grouping_sets(spark, sf_dir):
    _sq_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total_price
        FROM pfs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY g_status ASC NULLS FIRST, g_prio ASC NULLS FIRST,
                 o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


# =====================================================================
# TPC-H-shaped multi-join workloads — plan-quality flagships. At scale:
# dims (region/nation/supplier) broadcast; the lineitem⋈orders backbone
# is the only shuffle pair, and AQE coalesces its partitions.
# =====================================================================

@_q(
    "q_tpch3",
    """
    SELECT l_orderkey,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate  > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey NULLS FIRST
    LIMIT 10
    """,
    "TPC-H Q3 (shipping priority): segment-filtered customer broadcast "
    "into orders⋈lineitem, top-10 revenue with deterministic tie-break",
)
def q_tpch3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc_nulls_first())
        .limit(10)
    )


@_q(
    "q_tpch5",
    """
    SELECT n_name,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name NULLS FIRST
    """,
    "TPC-H Q5 (local supplier volume): 6-way join; supplier/nation/"
    "region broadcast, lineitem⋈orders⋈customer shuffle backbone",
)
def q_tpch5(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc_nulls_first())
    )


# =====================================================================
# Deterministic sampling & dataset splits (training-pipeline surface;
# operators/sampling.py). Content-addressed md5 bucketing — pure
# row-wise maps, zero shuffles, bit-exact against any engine's md5.
# =====================================================================

@_q(
    "l_det_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5(doc_id || ':s1'), 1, 4) < '2666'
    ORDER BY doc_id NULLS FIRST
    """,
    "L-sampling: content-addressed 15% sample — same ids survive every "
    "run and any repartitioning; filter-only plan (no shuffle, no RNG)",
)
def l_det_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        sampling.deterministic_sample(d, "doc_id", 0.15, salt="s1")
        .select("doc_id", "lang")
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "l_split_assign",
    """
    SELECT CASE WHEN k < 'cccd' THEN 'train'
                WHEN k < 'e666' THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n
    FROM (SELECT substring(md5(doc_id || ':split'), 1, 4) AS k FROM documents)
    GROUP BY split
    ORDER BY split NULLS FIRST
    """,
    "L-sampling: permanent 80/10/10 train/valid/test carve of the md5 "
    "bucket space — disjoint + exhaustive, an id never changes split",
)
def l_split_assign(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        sampling.assign_splits(d, "doc_id", salt="split")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("split").asc_nulls_first())
    )


@_q(
    "l_stratified_take",
    """
    SELECT lang, doc_id
    FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substring(md5(doc_id || ':'), 1, 4) ASC,
                            doc_id ASC
               ) AS rk
        FROM documents
    )
    WHERE rk <= 40
    ORDER BY lang NULLS FIRST, doc_id NULLS FIRST
    """,
    "L-sampling: deterministic stratified sample — exactly ≤40 docs per "
    "lang by md5-key rank; one shuffle on the stratum key only",
)
def l_stratified_take(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        sampling.stratified_take(d, "lang", "doc_id", 40)
        .select("lang", "doc_id")
        .orderBy(
            F.col("lang").asc_nulls_first(), F.col("doc_id").asc_nulls_first()
        )
    )


# =====================================================================
# TPC-H continued (Q6/Q10/Q14/Q18) — the classic scan/agg, outer-fact
# join backbone, broadcast-dim ratio, and agg-filtered-semi-join shapes.
# (The remaining queries — Q2/4/7/8/9/11/12/16/17/20/21/22, adapted to
# the synthetic schema — are in the "TPC-H completion" section below.)
# =====================================================================

@_q(
    "q_tpch6",
    """
    SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(18,6)), 2)::DOUBLE
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
    "TPC-H Q6 (forecast revenue change): pure scan+filter+agg — all "
    "three predicates reach the parquet scan, map-side partial agg, "
    "single-row exchange; the shape AQE can't make cheaper",
)
def q_tpch6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum("l_extendedprice * l_discount").alias("revenue")
        )
    )


@_q(
    "q_tpch10",
    """
    SELECT c_custkey, c_name,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey   = o_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey NULLS FIRST
    LIMIT 20
    """,
    "TPC-H Q10 (returned-item reporting): quarter-filtered orders ⋈ "
    "returned lineitem shuffle backbone, nation broadcast, top-20 "
    "customers by lost revenue",
)
def q_tpch10(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc_nulls_first())
        .limit(20)
    )


@_q(
    "q_tpch14",
    """
    SELECT round(
             100.0 * (sum(CASE WHEN p_type = 'PROMO'
                              THEN (l_extendedprice * (1 - l_discount))
                                     ::DECIMAL(18,6)
                              ELSE 0 END))::DOUBLE
             / (sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)))
                 ::DOUBLE, 4) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    "TPC-H Q14 (promotion effect): month-sliced fact against the part "
    "dim — date filter pushed to the lineitem scan so the join input is "
    "~1/60th of the fact; part joins by shuffle (AQE broadcasts it when "
    "small enough); conditional agg folds to one pass",
)
def q_tpch14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(
                        F.col("p_type") == "PROMO", rev.cast("decimal(18,6)")
                    ).otherwise(F.lit(0).cast("decimal(18,6)"))
                ).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


@_q(
    "q_tpch15",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))
                   AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           round(total_rev, 2)::DOUBLE AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15 (top supplier by quarterly revenue): the spec's revenue "
    "VIEW is one quarter-sliced fact aggregate (filter pushed to the "
    "scan, ~1/12 of lineitem shuffles). The scalar-max gate is an "
    "argmax-with-ties via a global window OVER THE AGGREGATE — the "
    "view is computed once by construction (the textbook "
    "self-join-the-max form re-plans the aggregate as two subtrees, "
    "and AQE stage reuse did not dedupe them here, doubling the fact "
    "scan; the window shape can't). The window's single partition "
    "holds one 16-byte row per supplier — bounded by dim cardinality, "
    "not fact size. The max compares on the exact fixed-point long "
    "sum (ties and the argmax are bit-deterministic across engines "
    "and partitionings; a double-sum max can pick a different "
    "supplier per run), and only the output rescales to money. The "
    "≤1-row winner set broadcasts into the supplier dim join.",
)
def q_tpch15(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.expr(f"sum({_fp('l_extendedprice * (1 - l_discount)')})").alias("__fp")
    )
    winners = (
        rev.withColumn("__mx", F.max("__fp").over(Window.partitionBy()))
        .filter(F.col("__fp") == F.col("__mx"))
        .drop("__mx")
    )
    s = _t(spark, sf_dir, "supplier")
    money = (
        F.col("__fp").cast("decimal(38,0)")
        * F.lit("0.000001").cast("decimal(7,6)")
    )
    return (
        s.join(F.broadcast(winners), s.s_suppkey == winners.l_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(money, 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@_q(
    "q_tpch18",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS totalprice,
           CAST(floor(sum(l_quantity)) AS BIGINT) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 280
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey NULLS FIRST
    LIMIT 50
    """,
    "TPC-H Q18 (large-volume customers): the textbook IN-subquery would "
    "scan+shuffle lineitem twice (once for HAVING, once for total_qty); "
    "since the subquery's aggregate IS total_qty, we aggregate once, "
    "filter > 280 (fact collapses to ~100 orders), then broadcast-join "
    "orders and customer onto the survivors — one fact scan, one fact "
    "shuffle at any scale",
)
def q_tpch18(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 280)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.floor(F.col("_sq")).cast("bigint").alias("total_qty"),
        )
        .orderBy(
            F.col("totalprice").desc(), F.col("o_orderkey").asc_nulls_first()
        )
        .limit(50)
    )


# =====================================================================
# Time-series depth: per-entity EWMA (applyInPandas recursion) and the
# TimescaleDB-style hierarchical rollup (operators/timeseries.py).
# =====================================================================

@_q(
    "t_ewma",
    """
    SELECT event_id, user_id, round(ew, 6) AS ewma
    FROM (
        SELECT event_id, user_id,
               list_reduce(
                   list(value) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   (acc, x) -> 0.9 * acc + 0.1 * x) AS ew
        FROM events)
    ORDER BY user_id NULLS FIRST, event_id NULLS FIRST
    """,
    "T-series: per-user EWMA (α=0.1, adjust=False recursion) via "
    "applyInPandas — one shuffle on user_id, vectorized pandas ewm per "
    "group; oracle folds the same recursion with DuckDB list_reduce "
    "(bit-identical in double precision, round(6) belt-and-braces)",
)
def t_ewma(spark, sf_dir):
    e = _events(spark, sf_dir)
    # Project to the 4 columns the recursion needs BEFORE the
    # applyInPandas boundary (guide §4.1): ewma() emits its whole
    # input schema, so an unprojected call ships event_type and the
    # wide props JSON string through BOTH exchanges and the Arrow
    # transpose for nothing — the final select keeps only
    # event_id/user_id/ewma either way.
    out = timeseries.ewma(
        e.select("event_id", "user_id", "ts", "value"),
        "value", ["ts", "event_id"], "user_id", alpha=0.1
    )
    return (
        out.select(
            "event_id", "user_id", F.round("ewma", 6).alias("ewma")
        )
        .orderBy(
            F.col("user_id").asc_nulls_first(),
            F.col("event_id").asc_nulls_first(),
        )
    )


@_q(
    "t_rollup_hier",
    """
    WITH base AS (
        SELECT epoch_us(ts) AS us, event_type, value FROM events
    )
    SELECT resolution, bucket_us, event_type, n,
           round(sum_value, 2) AS sum_value
    FROM (
        SELECT 'minute' AS resolution, us - ((us % 60000000) + 60000000) % 60000000 AS bucket_us,
               event_type, count(*)::BIGINT AS n, sum(value) AS sum_value
        FROM base GROUP BY 2, 3
        UNION ALL
        SELECT 'hour', us - ((us % 3600000000) + 3600000000) % 3600000000, event_type,
               count(*)::BIGINT, sum(value)
        FROM base GROUP BY 2, 3
        UNION ALL
        SELECT 'day', us - ((us % 86400000000) + 86400000000) % 86400000000, event_type,
               count(*)::BIGINT, sum(value)
        FROM base GROUP BY 2, 3
    )
    ORDER BY resolution NULLS FIRST, bucket_us NULLS FIRST,
             event_type NULLS FIRST
    """,
    "T-series: minute→hour→day continuous-aggregate rollup — raw fact "
    "aggregated once at minute grain, coarser grains re-aggregate the "
    "previous level (decomposable count/sum), so 100 TB is scanned once "
    "for all resolutions; oracle recomputes each grain from raw",
)
def t_rollup_hier(spark, sf_dir):
    e = _events(spark, sf_dir)
    out = timeseries.hierarchical_rollup(
        e, "ts_us", ["event_type"], "value"
    )
    return (
        out.select(
            "resolution", "bucket_us", "event_type", "n",
            F.round("sum_value", 2).alias("sum_value"),
        )
        .orderBy(
            F.col("resolution").asc_nulls_first(),
            F.col("bucket_us").asc_nulls_first(),
            F.col("event_type").asc_nulls_first(),
        )
    )


@_q(
    "q_funnel",
    """
    WITH signup AS (
        SELECT user_id, min(epoch_us(ts)) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT DISTINCT s.user_id
        FROM signup s
        JOIN events e ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND epoch_us(e.ts) >  s.t0
         AND epoch_us(e.ts) <= s.t0 + 604800000000
    )
    SELECT (SELECT count(*) FROM signup)::BIGINT AS n_signup,
           (SELECT count(*) FROM conv)::BIGINT   AS n_converted,
           round((SELECT count(*) FROM conv) * 1.0
                 / (SELECT count(*) FROM signup), 6) AS conversion
    """,
    "Product-analytics funnel: first signup → purchase within 7 days, "
    "per user. Equi-join on user_id carries the time-range predicate "
    "(never a cross join); left_semi stops at the first qualifying "
    "purchase so state per user is O(1); two single-row aggregates "
    "cross-joined for the scalar report",
)
def q_funnel(spark, sf_dir):
    week_us = 7 * 86_400_000_000
    e = _events(spark, sf_dir)
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t0"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts_us").alias("p_ts")
    )
    conv = signup.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("t0"))
        & (F.col("p_ts") <= F.col("t0") + F.lit(week_us)),
        "left_semi",
    )
    a = signup.agg(F.count("*").alias("n_signup"))
    b = conv.agg(F.count("*").alias("n_converted"))
    return a.crossJoin(b).select(
        "n_signup",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_signup"), 6).alias(
            "conversion"
        ),
    )


@_q(
    "l_corpus_pipeline",
    """
    WITH kept AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id) AS rk
        FROM documents
        WHERE n_chars >= 100
    ),
    assigned AS (
        SELECT CASE WHEN substring(md5(doc_id || ':corpus'), 1, 4) < 'cccd'
                    THEN 'train'
                    WHEN substring(md5(doc_id || ':corpus'), 1, 4) < 'e666'
                    THEN 'valid'
                    ELSE 'test' END AS split,
               lang, n_chars
        FROM kept WHERE rk = 1
    )
    SELECT split, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM assigned
    GROUP BY split, lang
    ORDER BY split NULLS FIRST, lang NULLS FIRST
    """,
    "Flagship training-corpus pipeline: length gate (pushed to the "
    "scan) → exact dedup keeping the lowest doc_id per content hash "
    "(one shuffle on md5(text)) → permanent split assignment (pure map) "
    "→ per-split/lang report. The three stages compose operators from "
    "text/dedup/sampling; at 100 TB the only data movements are the "
    "dedup shuffle and the final small aggregation",
)
def l_corpus_pipeline(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    kept = (
        d.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    assigned = sampling.assign_splits(kept, "doc_id", salt="corpus")
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(
            F.col("split").asc_nulls_first(), F.col("lang").asc_nulls_first()
        )
    )


# =====================================================================
# Mergeable-sketch tier (functions/sketches.py) — DataSketches HLL /
# approx_top_k as built-in JVM aggregates; the pre-aggregate-then-merge
# pattern that replaces raw recomputation at 100 TB.
# =====================================================================

@_q(
    "x_sketch_topk",
    """
    SELECT row_number() OVER (ORDER BY cnt DESC) AS rank, cnt
    FROM (
        SELECT count(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_partkey
        ORDER BY cnt DESC LIMIT 10
    )
    ORDER BY rank NULLS FIRST
    """,
    "Sketch tier: approx_top_k heavy hitters in exact mode "
    "(maxItemsTracked ≥ NDV) — output is the rank→count spectrum, the "
    "deterministic part under boundary ties; item membership at the "
    "tie line is sketch-order-dependent so it stays out of the hash",
)
def x_sketch_topk(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return sketches.top_k_counts(li, "l_partkey", 10).orderBy(
        F.col("rank").asc_nulls_first()
    )


@_q(
    "x_sketch_hll",
    None,  # DataSketches HLL estimate ≠ DuckDB's HLL → rows-only
    "Sketch tier: per-event_type distinct users from UNIONED per-day "
    "HLL partials — the persist-sketches-merge-later pattern; "
    "merge==direct equality and <5% error pinned in tests/test_sketches.py",
)
def x_sketch_hll(spark, sf_dir):
    e = _events(spark, sf_dir)
    partials = sketches.hll_partials(
        e, ["event_type"], "user_id", F.expr("ts div 86400000000000")
    )
    return (
        sketches.hll_merge(partials, ["event_type"])
        .orderBy(F.col("event_type").asc_nulls_first())
    )


@_q(
    "x_sketch_hll_exact",
    """
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS exact_ndv,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type
    ORDER BY event_type NULLS FIRST
    """,
    "Sketch tier, oracle companion of x_sketch_hll: the merged per-day "
    "HLL-partials estimate pinned against the EXACT distinct count "
    "through the driver protocol — the query emits the exact NDV plus "
    "a within-5%% boolean computed from the sketch estimate, so the "
    "oracle's TRUE literal turns red the round the estimate drifts. "
    "(The sketch's register internals stay rows-only in x_sketch_hll.)",
)
def x_sketch_hll_exact(spark, sf_dir):
    e = _events(spark, sf_dir)
    partials = sketches.hll_partials(
        e, ["event_type"], "user_id", F.expr("ts div 86400000000000")
    )
    merged = sketches.hll_merge(partials, ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_ndv")
    )
    # null-safe join key: a NULL event_type GROUP exists on both sides
    # (groupBy keeps it), but a plain equi-join would drop it
    return (
        merged.join(
            exact,
            merged["event_type"].eqNullSafe(exact["event_type"]),
        )
        .drop(exact["event_type"])
        .select(
            "event_type",
            "exact_ndv",
            (
                F.abs(F.col("ndv_est") - F.col("exact_ndv"))
                / F.col("exact_ndv")
                <= 0.05
            ).alias("hll_within_5pct"),
        )
        .orderBy(F.col("event_type").asc_nulls_first())
    )


@_q(
    "x_sketch_kll",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           TRUE AS kll_within_rank_bound
    FROM lineitem GROUP BY l_returnflag
    ORDER BY l_returnflag NULLS FIRST
    """,
    "Sketch tier: per-key median from MERGED per-shard KLL rank-sketch "
    "partials (kll_partials/kll_merge_quantiles — the persist-"
    "sketches-merge-later pattern hll already demonstrates, applied to "
    "quantiles). Oracle-gated like x_sketch_hll_exact: the query emits "
    "the EXACT per-key median plus a boolean pinning the merged "
    "estimate inside KLL's rank-error contract (between the exact 45th "
    "and 55th percentiles — ~3x the sketch's ~1.7%% normalized rank "
    "error), so the oracle's TRUE literal turns red the round the "
    "sketch drifts; the approximate value itself stays out of the hash",
)
def x_sketch_kll(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey"
    )
    partials = sketches.kll_partials(
        li, ["l_returnflag"], "l_extendedprice", F.expr("l_orderkey % 8")
    )
    est = sketches.kll_merge_quantiles(partials, ["l_returnflag"], [0.5])
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50_exact"),
        F.percentile("l_extendedprice", 0.45).alias("__lo"),
        F.percentile("l_extendedprice", 0.55).alias("__hi"),
    )
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "p50_exact",
            (
                (F.col("q50") >= F.col("__lo"))
                & (F.col("q50") <= F.col("__hi"))
            ).alias("kll_within_rank_bound"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first())
    )


@_q(
    "x_sketch_cms",
    """
    WITH src AS (
        SELECT l_suppkey::VARCHAR AS v
        FROM lineitem WHERE l_suppkey IS NOT NULL
    ),
    ds AS (SELECT unnest(range(4)) AS d),
    cms AS (
        SELECT d,
               ('0x' || substring(md5(d::VARCHAR || ':' || v), 1, 8))
                   ::BIGINT % 64 AS bucket,
               count(*) AS cnt
        FROM src CROSS JOIN ds
        GROUP BY d, bucket
    ),
    keyed AS (
        SELECT v, d,
               ('0x' || substring(md5(d::VARCHAR || ':' || v), 1, 8))
                   ::BIGINT % 64 AS bucket
        FROM (SELECT DISTINCT v FROM src) CROSS JOIN ds
    ),
    est AS (
        SELECT k.v, min(coalesce(c.cnt, 0)) AS est
        FROM keyed k LEFT JOIN cms c USING (d, bucket)
        GROUP BY k.v
    ),
    exact AS (SELECT v, count(*) AS n FROM src GROUP BY v)
    SELECT est.v AS probe, est.est::BIGINT AS est, exact.n::BIGINT AS exact,
           est.est >= exact.n AS never_undercounts
    FROM est JOIN exact ON est.v = exact.v
    ORDER BY probe NULLS FIRST
    """,
    "Sketch tier: Count-Min frequency estimates from MERGED per-shard "
    "relational sketches (cms_partials/cms_merge — a (d, bucket, cnt) "
    "counter TABLE, not Spark's opaque count_min_sketch binary, which "
    "has no SQL point-query). Map-side partials collapse to ≤ "
    "depth·width rows per task, so the shuffle moves a fixed-size "
    "sketch regardless of input size; the ≤256-row sketch broadcasts "
    "into the probe join. Unlike the HLL/KLL rows, the ESTIMATES "
    "themselves are value-hashed: md5 bucketing replays bit-exactly "
    "in DuckDB (counter sums are associative, so merged == the "
    "oracle's direct construction), including the overcounts where "
    "1000 suppliers collide in 64 buckets at sf0.1. The est ≥ exact "
    "column pins the CMS never-undercount guarantee per probe.",
)
def x_sketch_cms(spark, sf_dir):
    li = _tp(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    partials = sketches.cms_partials(
        li, "l_suppkey", F.expr("l_orderkey % 8"), depth=4, width=64
    )
    cms = sketches.cms_merge(partials)
    exact = (
        li.filter(F.col("l_suppkey").isNotNull())
        .groupBy(F.col("l_suppkey").cast("string").alias("probe"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    # probe FROM the exact-counts aggregate (already distinct): probing
    # the raw fact again would add a third scan + a 600k-row distinct
    est = sketches.cms_query(cms, exact, "probe", depth=4, width=64)
    return (
        est.join(exact, "probe")
        .select(
            "probe",
            "est",
            "exact",
            (F.col("est") >= F.col("exact")).alias("never_undercounts"),
        )
        .orderBy(F.col("probe").asc_nulls_first())
    )


@_q(
    "x_sketch_kmv",
    """
    WITH ha AS (
        SELECT DISTINCT
               ('0x' || substring(md5(l_partkey::VARCHAR), 1, 8))::BIGINT AS h
        FROM lineitem WHERE l_quantity <= 2 AND l_partkey IS NOT NULL
    ),
    hb AS (
        SELECT DISTINCT
               ('0x' || substring(md5(l_partkey::VARCHAR), 1, 8))::BIGINT AS h
        FROM lineitem WHERE l_quantity >= 49 AND l_partkey IS NOT NULL
    ),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
    ku AS (
        SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        ORDER BY h LIMIT 64
    ),
    sa AS (SELECT count(*) AS n, max(h) AS mx FROM ka),
    sb AS (SELECT count(*) AS n, max(h) AS mx FROM kb),
    su AS (SELECT count(*) AS n, max(h) AS mx FROM ku),
    ea AS (
        SELECT round(CASE WHEN n < 64 THEN n::DOUBLE
                          ELSE 63.0 / ((mx + 1) / 4294967296.0) END
               )::BIGINT AS est_a
        FROM sa
    ),
    eb AS (
        SELECT round(CASE WHEN n < 64 THEN n::DOUBLE
                          ELSE 63.0 / ((mx + 1) / 4294967296.0) END
               )::BIGINT AS est_b
        FROM sb
    ),
    eu AS (
        SELECT round(CASE WHEN n < 64 THEN n::DOUBLE
                          ELSE 63.0 / ((mx + 1) / 4294967296.0) END
               )::BIGINT AS est_union
        FROM su
    ),
    ti AS (
        SELECT least(
            CASE WHEN sa.n < 64 THEN 1.0
                 ELSE (sa.mx + 1) / 4294967296.0 END,
            CASE WHEN sb.n < 64 THEN 1.0
                 ELSE (sb.mx + 1) / 4294967296.0 END) AS theta
        FROM sa, sb
    ),
    ci AS (
        SELECT count(*) AS n_common
        FROM ka JOIN kb USING (h), ti
        WHERE (h + 1) / 4294967296.0 < ti.theta
    ),
    ei AS (
        SELECT round(ci.n_common / ti.theta)::BIGINT AS est_inter
        FROM ci, ti
    ),
    exact AS (
        SELECT sum(has_r)::BIGINT AS exact_a,
               sum(has_a)::BIGINT AS exact_b,
               count(*)::BIGINT AS exact_union,
               sum(has_r * has_a)::BIGINT AS exact_inter
        FROM (
            SELECT l_partkey,
                   max(CASE WHEN l_quantity <= 2 THEN 1 ELSE 0 END)
                       AS has_r,
                   max(CASE WHEN l_quantity >= 49 THEN 1 ELSE 0 END)
                       AS has_a
            FROM lineitem
            WHERE (l_quantity <= 2 OR l_quantity >= 49)
              AND l_partkey IS NOT NULL
            GROUP BY l_partkey
        )
    )
    SELECT ea.est_a, exact.exact_a, eb.est_b, exact.exact_b,
           eu.est_union, exact.exact_union, ei.est_inter, exact.exact_inter
    FROM ea, eb, eu, ei, exact
    """,
    "Sketch tier: KMV (k-minimum-values / bottom-k theta) distinct "
    "sketch with SET ALGEBRA — the union AND intersection NDV "
    "estimates HLL cannot give without inclusion-exclusion error "
    "blowup. Parts seen in tiny orders (qty <= 2) vs bulk orders "
    "(qty >= 49) — genuinely overlapping-but-distinct sets at every "
    "scale — from per-shard bottom-64 md5-hash partials merged "
    "shard-independently; every "
    "retained set is ≤ 64 rows so the set algebra runs as ARRAY "
    "EXPRESSIONS on a one-row frame — no joins between tiny frames. "
    "ONE lineitem scan feeds both the sketch and the exact companion: "
    "the per-part membership bitmap is the shared distinct base (its "
    "exchange is reused across both branches), so the whole report is "
    "a handful of exchanges instead of one per composed sub-frame. "
    "Unlike HLL/KLL the ESTIMATES value-hash: md5 bottom-k replays "
    "bit-exactly in DuckDB (theta, (k-1)/theta, and the clipped "
    "intersection count are all deterministic), alongside the exact "
    "counts from one flag-bitmap scan for side-by-side error reading.",
)
def x_sketch_kmv(spark, sf_dir):
    k = 64
    li = _tp(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    in_a = F.col("l_quantity") <= 2
    in_b = F.col("l_quantity") >= 49
    # shared distinct base: per-part membership bitmap from ONE scan —
    # feeds the exact companion AND the sketch (ReusedExchange)
    flags = (
        li.filter((in_a | in_b) & F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(
            F.max(F.when(in_a, 1).otherwise(0)).alias("has_r"),
            F.max(F.when(in_b, 1).otherwise(0)).alias("has_a"),
        )
    )
    exact = flags.agg(
        F.sum("has_r").cast("bigint").alias("exact_a"),
        F.sum("has_a").cast("bigint").alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("has_r") * F.col("has_a")).cast("bigint").alias(
            "exact_inter"
        ),
    )
    # sketch side: label each distinct part with its set memberships,
    # dedupe at the HASH level (md5 collisions: the sketch retains
    # distinct hashes, not distinct values), bottom-k per set
    member = flags.select(
        sketches.kmv_hash(F.col("l_partkey")).alias("h"),
        F.explode(
            F.array_compact(
                F.array(
                    F.when(F.col("has_r") == 1, F.lit("a")),
                    F.when(F.col("has_a") == 1, F.lit("b")),
                )
            )
        ).alias("s"),
    ).distinct()
    w = Window.partitionBy("s").orderBy("h")
    bottomk = member.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    # both ≤k retained sets as sorted arrays on ONE row; the whole
    # estimator algebra (A, B, A∪B, A∩B) is then plain array math
    arrs = bottomk.agg(
        F.sort_array(
            F.collect_list(F.when(F.col("s") == "a", F.col("h")))
        ).alias("ha"),
        F.sort_array(
            F.collect_list(F.when(F.col("s") == "b", F.col("h")))
        ).alias("hb"),
    )
    space = 4294967296.0

    def _est(arr):
        n = F.size(arr)
        theta = F.when(n < k, F.lit(1.0)).otherwise(
            (F.element_at(arr, -1) + F.lit(1)) / F.lit(space)
        )
        return F.round(
            F.when(n < k, n.cast("double")).otherwise(
                F.lit(float(k - 1)) / theta
            )
        ).cast("bigint"), theta

    est_a, theta_a = _est(F.col("ha"))
    est_b, theta_b = _est(F.col("hb"))
    hu = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("ha"), F.col("hb")))),
        1, k,
    )
    est_u, _ = _est(hu)
    theta = F.least(theta_a, theta_b)
    n_common = F.size(
        F.filter(
            F.array_intersect(F.col("ha"), F.col("hb")),
            lambda h: (h + F.lit(1)) / F.lit(space) < theta,
        )
    )
    ests = arrs.select(
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        F.round(n_common / theta).cast("bigint").alias("est_inter"),
    )
    return ests.crossJoin(F.broadcast(exact)).select(
        "est_a", "exact_a", "est_b", "exact_b",
        "est_union", "exact_union", "est_inter", "exact_inter",
    )


@_q(
    "x_sketch_kmv_by_key",
    """
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substring(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    kk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= 64
    ),
    s AS (
        SELECT event_type, count(*) AS n, max(h) AS mx
        FROM kk GROUP BY event_type
    ),
    est AS (
        SELECT event_type, n::BIGINT AS n_retained,
               round(CASE WHEN n < 64 THEN n::DOUBLE
                          ELSE 63.0 / ((mx + 1) / 4294967296.0) END
               )::BIGINT AS ndv_est
        FROM s
    ),
    exact AS (
        SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_ndv
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type
    )
    SELECT est.event_type AS event_type, est.n_retained, est.ndv_est,
           exact.exact_ndv
    FROM est JOIN exact ON est.event_type IS NOT DISTINCT FROM exact.event_type
    ORDER BY est.event_type NULLS FIRST
    """,
    "Sketch tier: GROUPED KMV — per-event_type distinct users from one "
    "bottom-64 pass (the daily-uniques-per-segment production shape; "
    "one sketch per key, state bounded per key like the streaming "
    "twin streaming_kmv). Estimates value-hash bit-exactly like "
    "x_sketch_kmv, next to the exact per-key NDV; below-k keys are "
    "exact by construction, above-k keys exercise the (k-1)/theta "
    "estimator.",
)
def x_sketch_kmv_by_key(spark, sf_dir):
    e = _events(spark, sf_dir).select("event_type", "user_id")
    est = sketches.kmv_by_key(e, ["event_type"], "user_id", 64)
    exact = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_ndv"))
    )
    return (
        est.join(
            exact, est["event_type"].eqNullSafe(exact["event_type"])
        )
        .drop(exact["event_type"])
        .select("event_type", "n_retained", "ndv_est", "exact_ndv")
        .orderBy(F.col("event_type").asc_nulls_first())
    )


@_q(
    "x_sketch_join_size",
    """
    WITH src AS (
        SELECT l_partkey::VARCHAR AS v
        FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    ds AS (SELECT unnest(range(4)) AS d),
    cms AS (
        SELECT d,
               ('0x' || substring(md5(d::VARCHAR || ':' || v), 1, 8))
                   ::BIGINT % 64 AS bucket,
               count(*) AS cnt
        FROM src CROSS JOIN ds
        GROUP BY d, bucket
    ),
    est AS (
        SELECT min(ip)::BIGINT AS join_size_est
        FROM (SELECT d, sum(cnt * cnt) AS ip FROM cms GROUP BY d)
    ),
    exact AS (
        SELECT sum(n * n)::BIGINT AS join_size_exact
        FROM (SELECT v, count(*) AS n FROM src GROUP BY v)
    )
    SELECT est.join_size_est, exact.join_size_exact,
           est.join_size_est >= exact.join_size_exact AS never_undercounts
    FROM est, exact
    """,
    "Sketch tier: equijoin-size estimation from CMS inner products "
    "(AMS '96 / Cormode-Muthukrishnan '05) — the self-join size "
    "(second frequency moment F2) of lineitem on l_partkey, estimated "
    "as min over hash rows of sum(cnt^2) from the SAME fixed-size "
    "relational sketch the frequency queries use. This is how a "
    "planner sizes a join at 100 TB from two KB-sized sketches "
    "without touching either table. md5 bucketing replays bit-exactly "
    "in DuckDB so the estimate itself is value-hashed, next to the "
    "exact F2 from one groupBy and the never-undercount guarantee.",
)
def x_sketch_join_size(spark, sf_dir):
    li = _tp(spark, sf_dir, "lineitem").select("l_partkey")
    cms = sketches.cms_table(li, "l_partkey", depth=4, width=64)
    est = sketches.cms_inner_product(cms, cms)
    exact = (
        li.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("join_size_exact"))
    )
    return est.crossJoin(exact).select(
        "join_size_est",
        "join_size_exact",
        (F.col("join_size_est") >= F.col("join_size_exact")).alias(
            "never_undercounts"
        ),
    )


@_q(
    "q_scd2",
    """
    WITH marked AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS t,
               lag(event_type) OVER w AS prev_attr,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    versions AS (
        SELECT user_id, event_type, event_id, t
        FROM marked
        WHERE prev_ts IS NULL OR prev_attr IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, t AS valid_from,
           lead(t) OVER v AS valid_to, event_id,
           lead(t) OVER v IS NULL AS is_current
    FROM versions
    WINDOW v AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC)
    ORDER BY user_id NULLS FIRST, valid_from NULLS FIRST,
             event_id NULLS FIRST
    """,
    "SCD2 dimension history from the event log: per-user event_type "
    "versions with [valid_from, valid_to) intervals — lag() change "
    "detection + lead() close-out share one shuffle on user_id; no "
    "self-join, no driver state (operators/scd.py)",
)
def q_scd2(spark, sf_dir):
    e = _events(spark, sf_dir)
    out = scd2_from_log(
        e, ["user_id"], "ts_us", ["event_type"], ["event_id"]
    )
    return (
        out.select(
            "user_id", "event_type",
            F.col("valid_from"), F.col("valid_to"), "event_id",
            "is_current",
        )
        .orderBy(
            F.col("user_id").asc_nulls_first(),
            F.col("valid_from").asc_nulls_first(),
            F.col("event_id").asc_nulls_first(),
        )
    )


# =====================================================================
# Binned range join + document chunking (operators/rangejoin.py,
# operators/text.py:chunk_text).
# =====================================================================

@_q(
    "j_binned_range",
    """
    WITH iv AS (
        SELECT o_orderkey, epoch(o_orderdate)::BIGINT AS lo,
               epoch(o_orderdate)::BIGINT + 2592000 AS hi
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey, count(l_orderkey)::BIGINT AS n_shipped
    FROM iv LEFT JOIN lineitem
      ON epoch(l_shipdate)::BIGINT >= lo
     AND epoch(l_shipdate)::BIGINT <  hi
    GROUP BY o_orderkey
    ORDER BY o_orderkey NULLS FIRST
    """,
    "Keyless range join, binned: lineitems shipped inside each order's "
    "30-day window — intervals explode to 7-day epoch-second bins, "
    "points carry one bin, equi-join on the bin then exact predicate; "
    "never a nested-loop join (pinned). Oracle is the naive O(N·M) "
    "range join; left-join zeros recovered by re-joining interval keys",
)
def j_binned_range(spark, sf_dir):
    from polars_fastx_spark.operators.rangejoin import point_in_interval_join

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("lo"),
            (F.unix_timestamp("o_orderdate") + 2_592_000).alias("hi"),
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.unix_timestamp("l_shipdate").alias("p")
    )
    matched = (
        point_in_interval_join(li, "p", o, "lo", "hi", bin_width=604_800)
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_shipped"))
    )
    # LEFT-join semantics: windows with zero shipments still report
    return (
        o.select("o_orderkey")
        .join(matched, "o_orderkey", "left")
        .select(
            "o_orderkey", F.coalesce("n_shipped", F.lit(0)).alias("n_shipped")
        )
        .orderBy(F.col("o_orderkey").asc_nulls_first())
    )


@_q(
    "l_chunk_text",
    """
    SELECT doc_id, (o - 1) // 180 AS chunk_idx,
           md5(substring(text, o, 200)) AS chunk_md5,
           length(substring(text, o, 200))::BIGINT AS chunk_len
    FROM (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 20, 1) + 1, 180))::BIGINT
                   AS o
        FROM documents
    )
    ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST
    """,
    "Training-pipeline chunking: 200-char windows, 20-char overlap "
    "(stride 180) via explode(sequence()) — zero shuffles, zero "
    "Python; chunk content verified by md5",
)
def l_chunk_text(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = text.chunk_text(d, "text", size=200, overlap=20)
    return (
        out.select(
            "doc_id",
            "chunk_idx",
            F.md5("chunk").alias("chunk_md5"),
            F.length("chunk").cast("bigint").alias("chunk_len"),
        )
        .orderBy(
            F.col("doc_id").asc_nulls_first(),
            F.col("chunk_idx").asc_nulls_first(),
        )
    )


@_q(
    "l_redact_pii",
    """
    SELECT doc_id,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       'mail u' || doc_id || '@example.com or +1 555-000-'
                       || doc_id || ' ip 10.0.0.' || (doc_id % 256) || ' :: '
                       || substring(text, 1, 80),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                   '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '[PHONE]', 'g'),
               '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[IPV4]', 'g')
           ) AS scrubbed_md5
    FROM documents
    ORDER BY doc_id NULLS FIRST
    """,
    "L4: PII scrubbing — emails/phones/IPv4 replaced with typed "
    "markers; patterns restricted to the Java-regex ∩ RE2 dialect so "
    "the same expressions run on both engines; synthetic PII is "
    "injected per doc so the redaction is actually exercised",
)
def l_redact_pii(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("mail u"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-000-"), F.col("doc_id").cast("string"),
        F.lit(" ip 10.0.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(" :: "), F.substring("text", 1, 80),
    )
    return (
        d.select(
            "doc_id", F.md5(text.redact_pii(synth)).alias("scrubbed_md5")
        )
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "l_pack_ffd",
    None,  # sequential first-fit — no SQL form; invariants in tests
    "Training-pipeline packing: partition-local first-fit-decreasing "
    "into 2000-char budgets via mapInPandas; bin ids namespaced by "
    "spark_partition_id, no global coordination (operators/packing.py)",
)
def l_pack_ffd(spark, sf_dir):
    from polars_fastx_spark.operators.packing import pack_ffd

    d = _t(spark, sf_dir, "documents")
    packed = pack_ffd(d, "doc_id", "n_chars", budget=2000, partitions=8)
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("bin_fill").alias("fill"),
        )
        .orderBy(F.col("bin_id").asc_nulls_first())
    )


@_q(
    "l_pack_ffd_1p",
    r"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ),
    sim AS (
      SELECT 0::BIGINT AS rn,
             CAST([] AS BIGINT[]) AS rems,
             CAST([] AS BIGINT[]) AS binof
      UNION ALL
      SELECT d.rn,
             CASE WHEN f.fit IS NULL
                  THEN list_append(s.rems, greatest(2000 - d.n_chars, 0))
                  ELSE list_transform(generate_series(1, len(s.rems)),
                         i -> CASE WHEN i = f.fit
                                   THEN s.rems[i] - d.n_chars
                                   ELSE s.rems[i] END)
             END AS rems,
             list_append(s.binof, coalesce(f.fit, len(s.rems) + 1)) AS binof
      FROM sim s
      JOIN docs d ON d.rn = s.rn + 1,
      LATERAL (SELECT [i FOR i IN generate_series(1, len(s.rems))
                       IF s.rems[i] >= d.n_chars][1] AS fit) f
    ),
    final AS (SELECT binof FROM sim ORDER BY rn DESC LIMIT 1),
    assign AS (
      SELECT binof[d.rn::INT] - 1 AS bin_id, d.doc_id, d.n_chars
      FROM final, docs d
    )
    SELECT bin_id, count(*) AS n_docs, sum(n_chars)::BIGINT AS fill
    FROM assign GROUP BY bin_id
    ORDER BY bin_id NULLS FIRST
    """,
    "Training-pipeline packing, VALUE-CHECKED variant: single-partition "
    "first-fit-decreasing is fully deterministic, so the whole fold "
    "replays as a DuckDB recursive CTE carrying the open-bin capacity "
    "list. The scale query (l_pack_ffd) runs the same fold "
    "partition-local over 8 partitions (rows-only check by design).",
)
def l_pack_ffd_1p(spark, sf_dir):
    from polars_fastx_spark.operators.packing import pack_ffd

    d = _t(spark, sf_dir, "documents")
    packed = pack_ffd(d, "doc_id", "n_chars", budget=2000, partitions=1)
    return (
        packed.groupBy("bin_id")
        .agg(F.count("*").alias("n_docs"), F.max("bin_fill").alias("fill"))
        .orderBy(F.col("bin_id").asc_nulls_first())
    )


@_q(
    "q_expectations",
    """
    SELECT rule, n_violations FROM (
        SELECT 'accepted_values:o_orderstatus' AS rule,
               sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                        OR o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_violations
        FROM orders
        UNION ALL
        SELECT 'in_range:l_discount',
               (SELECT sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                                OR l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT
                FROM lineitem)
        UNION ALL
        SELECT 'not_null:o_custkey',
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        FROM orders
        UNION ALL
        SELECT 'unique:o_orderkey',
               (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT
        FROM orders
    )
    ORDER BY rule NULLS FIRST
    """,
    "Data-quality expectations: a rule set compiles to ONE aggregate "
    "pass (conditional counts + uniqueness as count-minus-distinct) — "
    "50 rules on 100 TB cost the same single scan as one "
    "(operators/quality.py). Orders rules here; lineitem rule checked "
    "separately since rules bind per-table",
)
def q_expectations(spark, sf_dir):
    from polars_fastx_spark.operators import quality as Q

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    orders_checks = Q.check(
        o,
        [
            Q.accepted_values("o_orderstatus", ["F", "O", "P"]),
            Q.not_null("o_custkey"),
            Q.unique("o_orderkey"),
        ],
    )
    li_checks = Q.check(li, [Q.in_range("l_discount", 0, 0.1)])
    return orders_checks.unionByName(li_checks).orderBy(
        F.col("rule").asc_nulls_first()
    )


@_q(
    "q_scd2_lookup",
    """
    WITH marked AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS t,
               lag(event_type) OVER w AS prev_attr, lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    dim AS (
        SELECT user_id, event_type AS status, t AS valid_from,
               lead(t) OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC)
                   AS valid_to
        FROM marked
        WHERE prev_ts IS NULL OR prev_attr IS DISTINCT FROM event_type
    ),
    probe AS (
        SELECT user_id, event_id, epoch_us(ts) AS t FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, d.status
    FROM probe p JOIN dim d
      ON p.user_id = d.user_id
     AND d.valid_from <= p.t
     AND (d.valid_to IS NULL OR p.t < d.valid_to)
    ORDER BY p.event_id NULLS FIRST
    """,
    "Effective-dated lookup: each purchase joined to the SCD2 status "
    "version VALID at its event time — equi-join on user_id carries "
    "the interval predicate, so the plan is a plain hash join (each "
    "probe matches exactly one tiled interval)",
)
def q_scd2_lookup(spark, sf_dir):
    e = _events(spark, sf_dir)
    dim = scd2_from_log(
        e, ["user_id"], "ts_us", ["event_type"], ["event_id"]
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("status"),
        "valid_from",
        "valid_to",
    )
    probe = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_us").alias("t")
    )
    return (
        probe.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("valid_from") <= F.col("t"))
            & (F.col("valid_to").isNull() | (F.col("t") < F.col("valid_to"))),
        )
        .select("event_id", "user_id", "status")
        .orderBy(F.col("event_id").asc_nulls_first())
    )


@_q(
    "g_histogram",
    """
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 60000 THEN 21
                ELSE floor(o_totalprice / 3000)::BIGINT + 1 END AS bucket,
           count(*)::BIGINT AS n
    FROM orders
    GROUP BY bucket
    ORDER BY bucket NULLS FIRST
    """,
    "G: fixed-width histogram — explicit floor bucketing (identical "
    "expression both engines; width_bucket's internal float order is "
    "engine-private), two-phase partial agg, ≤22-row result at any scale",
)
def g_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 0, F.lit(0))
        .when(F.col("o_totalprice") >= 60000, F.lit(21))
        .otherwise(F.floor(F.col("o_totalprice") / 3000) + 1)
        .cast("bigint")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("bucket").asc_nulls_first())
    )


def _pagerank_oracle(
    iterations: int = 4,
    damping: float = 0.85,
    edges_with: str | None = None,
    final_select: str | None = None,
) -> str:
    """DuckDB twin of operators/graph.py:pagerank — the fixed iteration
    count lets the power method unroll into chained CTEs (one
    contribs-agg + one dangling-mass agg + one rank rebuild per round),
    the exact dataflow the Spark loop runs. Float parity: the Python
    loop computes ``base = (1-d)/n + d*dm/n`` driver-side, so the SQL
    inlines ``repr(1-d)`` (the same IEEE double, not DECIMAL 0.15) and
    groups terms identically; remaining sum-order noise is ~1e-16,
    far inside the round(7) declared in the query.

    ``edges_with`` swaps in a different graph: everything from ``WITH``
    up to (and including) an ``edges(src, dst)`` CTE — arbitrary
    preceding CTEs allowed. ``final_select`` swaps the output shape
    (it reads ``r{iterations}``). Defaults reproduce l_pagerank's
    customer→supplier purchase graph."""
    base_num = repr(1.0 - damping)
    d = repr(damping)
    if edges_with is None:
        edges_with = """
    WITH edges AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )"""
    parts = [
        edges_with
        + """,
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    deg AS (SELECT src AS node, count(*)::DOUBLE AS out_deg
            FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.out_deg
           FROM edges e JOIN deg d ON e.src = d.node),
    r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(iterations):
        p, nxt = f"r{i}", f"r{i + 1}"
        parts.append(
            f""",
    c{i + 1} AS (SELECT ed.dst AS node, sum(r.rank / ed.out_deg) AS contrib
           FROM {p} r JOIN ed ON r.node = ed.src GROUP BY ed.dst),
    d{i + 1} AS (SELECT coalesce(sum(r.rank), 0.0) AS dm
           FROM {p} r ANTI JOIN deg ON r.node = deg.node),
    {nxt} AS (SELECT nodes.node,
             (({base_num}::DOUBLE/(SELECT n FROM nn)
               + {d}::DOUBLE*(SELECT dm FROM d{i + 1})/(SELECT n FROM nn))
              + {d}::DOUBLE*coalesce(c{i + 1}.contrib, 0.0)) AS rank
           FROM nodes LEFT JOIN c{i + 1} USING (node))"""
        )
    parts.append(
        final_select
        if final_select is not None
        else f"""
    SELECT node, round(rank, 7) AS rank FROM r{iterations}
    ORDER BY rank DESC, node ASC LIMIT 20
    """
    )
    return "".join(parts)


@_q(
    "l_pagerank",
    _pagerank_oracle(),
    "Iterative PageRank over the customer→supplier purchase graph: "
    "per round one equi-join + one agg shuffling on node id, dangling "
    "mass redistributed (sum(rank)==1 invariant), lineage cut by "
    "localCheckpoint — the DataFrame-loop pattern for iterative "
    "algorithms (operators/graph.py). Oracle = the same 4 rounds "
    "unrolled as chained CTEs; round(7) absorbs sum-order noise.",
)
def l_pagerank(spark, sf_dir):
    from polars_fastx_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, iterations=4)
    return (
        ranks.select("node", F.round("rank", 7).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node").asc_nulls_first())
        .limit(20)
    )


@_q(
    "l_word_repetition",
    """
    SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_word_ratio
    FROM (
        SELECT doc_id, w, count(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                                      t -> t <> '')) AS w
            FROM documents
        )
        GROUP BY doc_id, w
    )
    GROUP BY doc_id
    ORDER BY doc_id NULLS FIRST
    """,
    "L4: Gopher-style repetition filter — top-word share per doc via "
    "explode + two-level agg; shuffle key (doc, word) bounds skew by "
    "document length, not corpus size",
)
def l_word_repetition(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text.word_repetition(d, "doc_id", "text").orderBy(
        F.col("doc_id").asc_nulls_first()
    )


@_q(
    "l_centroids",
    """
    SELECT label,
           to_json(list(CAST(round(round(v, 6) * 1000000) AS BIGINT)
                        ORDER BY pos))::VARCHAR AS centroid_micro
    FROM (
        SELECT label, pos, avg(val) AS v
        FROM (
            SELECT label, unnest(embedding)::DOUBLE AS val,
                   unnest(range(1, len(embedding) + 1)) AS pos
            FROM embeddings
        )
        GROUP BY label, pos
    )
    GROUP BY label
    ORDER BY label NULLS FIRST
    """,
    "Vector centroids per label: posexplode → (key,pos) avg → ordered "
    "re-assembly — all JVM built-ins, two shuffles with map-side "
    "partials (operators/vectors.py); the IVF-centroid/class-prototype "
    "building block. Rendered as JSON of fixed-point micro-units "
    "(value×1e6 as ints): the driver's canonicalizer cannot sort list "
    "cells (r2 lesson) AND float JSON text is format-unstable across "
    "engines (Spark to_json uses 3.41E-4 scientific notation, DuckDB "
    "plain decimal) — integer JSON is canonical in both",
)
def l_centroids(spark, sf_dir):
    from polars_fastx_spark.operators.vectors import group_centroids

    e = _t(spark, sf_dir, "embeddings")
    out = group_centroids(e, ["label"], "embedding", decimals=6)
    return out.select(
        "label",
        F.to_json(
            F.transform(
                "centroid",
                lambda v: F.round(v * 1_000_000, 0).cast("long"),
            )
        ).alias("centroid_micro"),
    ).orderBy(F.col("label").asc_nulls_first())


@_q(
    "l_chunk_tokens",
    """
    SELECT doc_id, (s - 1) // 48 AS chunk_idx,
           md5(array_to_string(list_slice(toks, s, s + 63), ' '))
               AS chunk_md5
    FROM (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 16, 1) + 1, 48))::BIGINT
                   AS s
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t <> '') AS toks
            FROM documents
        )
    )
    ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST
    """,
    "Token-space chunking: 64-token windows, stride 48 (16 overlap), "
    "re-joined with spaces; explode(sequence()) over the token array — "
    "zero shuffles, md5-verified content parity",
)
def l_chunk_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = text.chunk_tokens(d, "text", size=64, overlap=16)
    return (
        out.select(
            "doc_id", "chunk_idx", F.md5("chunk").alias("chunk_md5")
        )
        .orderBy(
            F.col("doc_id").asc_nulls_first(),
            F.col("chunk_idx").asc_nulls_first(),
        )
    )


@_q(
    "l_line_dedup",
    """
    WITH segs AS (
      SELECT doc_id, ((s - 1) // 6)::INT AS pos,
             array_to_string(list_slice(toks, s, s + 5), ' ') AS seg
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, 6))::BIGINT AS s
        FROM (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents
        )
      )
    ),
    dup AS (
      SELECT seg FROM segs GROUP BY seg
      HAVING count(DISTINCT doc_id) >= 2
    ),
    flagged AS (
      SELECT s.doc_id, s.pos, s.seg, d.seg IS NOT NULL AS isdup
      FROM segs s LEFT JOIN dup d USING (seg)
    )
    SELECT doc_id,
           count(*) AS n_segments,
           count(*) FILTER (NOT isdup) AS n_kept,
           md5(coalesce(
             string_agg(seg, ' ' ORDER BY pos) FILTER (NOT isdup),
             '')) AS kept_md5
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id NULLS FIRST
    """,
    "LLM-pipeline line/segment dedup (CCNet/RefinedWeb-style "
    "boilerplate removal): drop every copy of any segment found in "
    ">=2 distinct docs, reassemble survivors in order — two corpus "
    "shuffles (segment-key agg + doc rebuild), dup set rides a "
    "broadcastable left join (operators/text.py:line_dedup). This "
    "corpus has no newlines, so segments = non-overlapping 6-token "
    "windows from the same chunk_tokens family; md5-verified "
    "reassembled content.",
)
def l_line_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    segs = text.chunk_tokens(d, "text", size=6).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("pos"),
        F.col("chunk").alias("seg"),
    )
    out = text.line_dedup(
        segs, id_col="doc_id", seg_col="seg", pos_col="pos",
        min_docs=2, joiner=" ",
    )
    return (
        out.select(
            "doc_id", "n_segments", "n_kept",
            F.md5(F.encode("text_kept", "UTF-8")).alias("kept_md5"),
        )
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


def _kmeans_oracle(k: int = 4, iterations: int = 3) -> str:
    """DuckDB twin of operators/vectors.py:kmeans — fixed iterations
    unroll Lloyd's into chained CTEs. Seeding = k smallest
    md5(id::VARCHAR) (identical both engines); assignment = argmin of
    Euclidean distance (monotonic with the Spark fold's squared-L2, so
    the argmin agrees; testdata has no duplicate vectors, so no exact
    ties to break); recompute = per-dim avg via parallel unnest.
    Output is cluster SIZES only — assignment flips would need two
    centroids equidistant to a point within ~1e-15, which the distinct
    random embeddings rule out."""
    sql = f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cent0 AS (
      SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INT - 1
               AS cid,
             v AS cvec
      FROM base
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {k}
    )"""
    for i in range(1, iterations + 1):
        p = f"cent{i - 1}"
        sql += f""",
    a{i} AS (
      SELECT b.vec_id, b.v,
             arg_min(c.cid, list_distance(b.v, c.cvec)) AS cluster
      FROM base b CROSS JOIN {p} c
      GROUP BY b.vec_id, b.v
    ),
    m{i} AS (
      SELECT cluster, pos, avg(val) AS mv
      FROM (SELECT cluster, unnest(v) AS val,
                   unnest(range(len(v))) AS pos FROM a{i})
      GROUP BY cluster, pos
    ),
    n{i} AS (SELECT cluster AS cid, list(mv ORDER BY pos) AS cvec
             FROM m{i} GROUP BY cluster),
    cent{i} AS (
      SELECT p.cid, coalesce(n.cvec, p.cvec) AS cvec
      FROM {p} p LEFT JOIN n{i} n USING (cid)
    )"""
    sql += f"""
    SELECT cluster, count(*) AS n FROM a{iterations}
    GROUP BY cluster ORDER BY cluster NULLS FIRST
    """
    return sql


@_q(
    "l_kmeans",
    _kmeans_oracle(),
    "IVF training: k-means as a DataFrame loop — content-addressed "
    "md5 seeding (no RNG), per round a broadcast k×dim centroid table "
    "+ min_by assignment + group_centroids recompute; only k rows ever "
    "reach the driver (operators/vectors.py). Oracle = the same 3 "
    "Lloyd's rounds unrolled as chained CTEs.",
)
def l_kmeans(spark, sf_dir):
    from polars_fastx_spark.operators.vectors import kmeans

    e = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans(e, "vec_id", "embedding", k=4, iterations=3)
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("cluster").asc_nulls_first())
    )


@_q(
    "w_percent_rank",
    """
    SELECT c_custkey,
           round(percent_rank() OVER
               (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC,
                c_custkey ASC), 6) AS pr,
           round(cume_dist() OVER
               (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC,
                c_custkey ASC), 6) AS cd
    FROM customer
    ORDER BY c_custkey NULLS FIRST
    """,
    "W: percent_rank + cume_dist per segment — relative standing "
    "without a self-join; unique (acctbal, custkey) ordering keeps "
    "both engines' tie semantics identical",
)
def w_percent_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_custkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy(F.col("c_custkey").asc_nulls_first())
    )


@_q(
    "q_tpch19",
    """
    SELECT round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
    """,
    "TPC-H Q19-style disjunctive join filter: the OR-of-ANDs must stay "
    "an equi-join on partkey with a post-join disjunction — Catalyst "
    "also derives the per-side prefilters (brand/size, quantity "
    "envelopes) and pushes them below the join",
)
def q_tpch19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond1 | cond2)
        .agg(
            _dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
    )


@_q(
    "g_string_agg",
    """
    SELECT c_mktsegment,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM (
        SELECT DISTINCT c_mktsegment, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment NULLS FIRST
    """,
    "G: ordered string aggregation — array_sort(collect_list) + "
    "array_join gives deterministic listagg semantics (collect_list "
    "order is partition-dependent; the sort canonicalizes it)",
)
def g_string_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_mktsegment", "n_name")
        .distinct()
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
        .orderBy(F.col("c_mktsegment").asc_nulls_first())
    )


@_q(
    "j_asof_tolerance",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id,
           CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
                THEN round(c.value, 4) END AS last_click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id NULLS FIRST
    """,
    "J7: as-of with tolerance (polars merge_asof parity) — matches "
    "farther than 10 min back are nulled post-pick, zero extra "
    "shuffles; oracle nulls the same matches on the DuckDB ASOF result",
)
def j_asof_tolerance(spark, sf_dir):
    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value"
    )
    out = join_asof(
        purchases,
        clicks,
        on="ts_us",
        by="user_id",
        tolerance=600_000_000,  # 10 min in µs
    )
    return (
        out.select(
            "event_id", F.round("value", 4).alias("last_click_value")
        )
        .orderBy(F.col("event_id").asc_nulls_first())
    )


@_q(
    "g_corr_covar",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
           round(stddev_samp(l_quantity), 6) AS sd_q
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag NULLS FIRST
    """,
    "G: bivariate stats — corr/covar_samp/stddev_samp per return flag; "
    "single-pass decomposable moments, map-side partials",
)
def g_corr_covar(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qp"
            ),
            F.round(
                F.covar_samp("l_quantity", "l_extendedprice"), 4
            ).alias("covar_qp"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_q"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first())
    )


@_q(
    "t_interpolate",
    """
    WITH obs AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS b,
               min(value) AS v
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, b
    ),
    bounds AS (
        SELECT user_id, min(b) AS lo, max(b) AS hi FROM obs GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(range(lo, hi + 1))::BIGINT AS b FROM bounds
    ),
    j AS (
        SELECT s.user_id, s.b, o.v
        FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.b = o.b
    ),
    w AS (
        SELECT user_id, b, v,
               last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
                   OVER wb AS pb,
               last_value(v IGNORE NULLS) OVER wb AS pv,
               first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
                   OVER wf AS nb,
               first_value(v IGNORE NULLS) OVER wf AS nv
        FROM j
        WINDOW wb AS (PARTITION BY user_id ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, b,
           CAST(floor((CASE WHEN v IS NOT NULL THEN v
                            WHEN pv IS NOT NULL AND nv IS NOT NULL
                            THEN pv + (nv - pv) * ((b - pb) / (nb - pb))
                            END) * 1000000) AS BIGINT) AS v_u6
    FROM w
    ORDER BY user_id NULLS FIRST, b NULLS FIRST
    """,
    "T-series: linear-interpolation gap fill (Polars interpolate "
    "analog) over an hourly per-user spine — spine from one aggregated "
    "row per key, interpolation via two frame-bounded window passes "
    "sharing one shuffle",
)
def t_interpolate(spark, sf_dir):
    from polars_fastx_spark.operators.resample import upsample_interpolate

    e = _events(spark, sf_dir)
    obs = (
        e.filter(F.col("event_type") == "click")
        .groupBy(
            "user_id", F.expr("ts_us div 3600000000").alias("b")
        )
        .agg(F.min("value").alias("v"))
    )
    out = upsample_interpolate(obs, "b", "user_id", "v")
    return (
        out.select(
            "user_id",
            "b",
            F.floor(F.col("v") * 1_000_000).cast("bigint").alias("v_u6"),
        )
        .orderBy(
            F.col("user_id").asc_nulls_first(), F.col("b").asc_nulls_first()
        )
    )


@_q(
    "u_union_evolve",
    """
    SELECT doc_id, lang, n_chars, quality
    FROM (
        SELECT doc_id, lang, n_chars, NULL::DOUBLE AS quality
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, NULL::BIGINT AS n_chars,
               round(n_chars / 1000.0, 6) AS quality
        FROM documents WHERE doc_id % 2 = 1
    )
    ORDER BY doc_id NULLS FIRST
    """,
    "U: schema-evolution concat — two snapshot generations (one gained "
    "a quality column, one predates it) union BY NAME with null "
    "padding; plan-level concat, zero shuffles "
    "(operators/partitioning.py:concat_evolve)",
)
def u_union_evolve(spark, sf_dir):
    from polars_fastx_spark.operators.partitioning import concat_evolve

    d = _t(spark, sf_dir, "documents")
    old_gen = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    )
    new_gen = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        F.round(F.col("n_chars") / 1000.0, 6).alias("quality"),
    )
    return (
        concat_evolve([old_gen, new_gen])
        .select("doc_id", "lang", "n_chars", "quality")
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "t_sessionize",
    """
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
        SELECT user_id, event_id,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY t ASC,
                                event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - 1 AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*)::BIGINT AS n_events
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id NULLS FIRST, session_id NULLS FIRST
    """,
    "T-series: gap-based sessionization as a COLUMN (30-min gap) — "
    "lag→flag→running-sum sharing ONE shuffle on user_id; the batch "
    "complement to session_window that keeps every event row "
    "addressable by its session",
)
def t_sessionize(spark, sf_dir):
    e = _events(spark, sf_dir)
    out = timeseries.sessionize(
        e, "ts_us", "user_id", gap=1_800_000_000, tiebreak_cols=["event_id"]
    )
    return (
        out.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(
            F.col("user_id").asc_nulls_first(),
            F.col("session_id").asc_nulls_first(),
        )
    )


def _register_zorder():
    # oracle SQL is GENERATED from the same term list as the Spark
    # expression, so registration happens programmatically, not via @_q
    from polars_fastx_spark.operators.partitioning import (
        zorder_key, zorder_sql,
    )

    oracle = f"""
    SELECT p_partkey,
           {zorder_sql('(p_size % 65536)', '(p_partkey % 65536)')} AS zkey
    FROM part
    ORDER BY p_partkey NULLS FIRST
    """

    def p_zorder_key(spark, sf_dir):
        p = _t(spark, sf_dir, "part")
        return (
            p.select(
                "p_partkey",
                zorder_key(
                    F.col("p_size") % 65536, F.col("p_partkey") % 65536
                ).alias("zkey"),
            )
            .orderBy(F.col("p_partkey").asc_nulls_first())
        )

    QUERIES["p_zorder_key"] = QuerySpec(
        p_zorder_key,
        oracle,
        "P/layout: Morton Z-order interleave key — the cluster-by "
        "expression for two-dimensional file skipping; pure integer "
        "codegen, bit-identical across engines (oracle generated from "
        "the same term list)",
    )


_register_zorder()


@_q(
    "q_tpch13",
    """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC NULLS LAST
    """,
    "TPC-H Q13 (customer distribution): left join keeps zero-order "
    "customers, filtered ON-clause (not WHERE — WHERE would break the "
    "outer join), two-level aggregation; the outer histogram is tiny "
    "at any scale",
)
def q_tpch13(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc_nulls_last())
    )


@_q(
    "l_stratified_sample",
    """
    SELECT lang, count(*)::BIGINT AS n
    FROM documents
    WHERE CASE
        WHEN lang = 'en' THEN substring(md5(doc_id || ':rebal'), 1, 4) < '199a'
        WHEN lang = 'de' THEN substring(md5(doc_id || ':rebal'), 1, 4) < '8000'
        ELSE TRUE END
    GROUP BY lang
    ORDER BY lang NULLS FIRST
    """,
    "L-sampling: per-stratum rebalance — downsample en to 10%, de to "
    "50%, keep the rest whole; a pure filter over the md5 bucket space "
    "(deterministic sampleBy), zero shuffles before the report agg",
)
def l_stratified_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        d, "lang", "doc_id", {"en": 0.1, "de": 0.5}, default=1.0,
        salt="rebal",
    )
    return (
        out.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("lang").asc_nulls_first())
    )


@_q(
    "f_bitwise",
    """
    SELECT p_partkey,
           (p_partkey & p_size)::BIGINT AS b_and,
           (p_partkey | p_size)::BIGINT AS b_or,
           xor(p_partkey, p_size::BIGINT)::BIGINT AS b_xor,
           (p_size::BIGINT << 3)::BIGINT AS b_shl,
           (p_partkey >> 2)::BIGINT AS b_shr,
           bit_count(p_partkey)::BIGINT AS b_pop
    FROM part
    ORDER BY p_partkey NULLS FIRST
    """,
    "F: bitwise family — and/or/xor/shifts/popcount (the primitives "
    "under the Z-order and SimHash operators), pure codegen",
)
def f_bitwise(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    pk, sz = F.col("p_partkey"), F.col("p_size").cast("long")
    return (
        p.select(
            "p_partkey",
            pk.bitwiseAND(sz).cast("bigint").alias("b_and"),
            pk.bitwiseOR(sz).cast("bigint").alias("b_or"),
            pk.bitwiseXOR(sz).cast("bigint").alias("b_xor"),
            F.shiftleft(sz, 3).cast("bigint").alias("b_shl"),
            F.shiftright(pk, 2).cast("bigint").alias("b_shr"),
            F.bit_count(pk).cast("bigint").alias("b_pop"),
        )
        .orderBy(F.col("p_partkey").asc_nulls_first())
    )


# =====================================================================
# TPC-H completion (round 2): every remaining query, ADAPTED to the
# synthetic schema (no partsupp / l_commitdate / l_receiptdate /
# l_shipmode / c_phone / p_container / p_mfgr / comments). Each
# adaptation preserves the ORIGINAL query's plan shape — the join
# graph, subquery kind (EXISTS / NOT EXISTS / IN / correlated scalar),
# and aggregate structure — swapping only the predicate columns.
# =====================================================================

@_q(
    "q_tpch2",
    """
    WITH offers AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS best_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, best_price
    FROM offers
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_size = 10
      AND best_price = (
        SELECT min(o2.best_price)
        FROM offers o2
        JOIN supplier s2 ON s2.s_suppkey = o2.l_suppkey
        JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
        WHERE r2.r_name = 'EUROPE' AND o2.l_partkey = offers.l_partkey
      )
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
    """,
    "TPC-H Q2 (min-cost supplier, adapted: partsupp -> per-(part,supp) "
    "min lineitem price): correlated min subquery as an agg+equi-join, "
    "dims broadcast; exact-double min so the equality is engine-stable",
)
def q_tpch2(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # suppliers restricted to the region, as in the inner subquery
    s_eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("best_price")
    )
    eu_offers = offers.join(
        F.broadcast(s_eu), offers.l_suppkey == s_eu.s_suppkey
    )
    # correlated scalar min -> per-part min over the SAME region-filtered
    # offer set, re-attached by equi-join (exact doubles: no rounding
    # before the equality, so Spark and the oracle agree bit-for-bit)
    part_min = eu_offers.groupBy("l_partkey").agg(
        F.min("best_price").alias("__min_price")
    )
    return (
        eu_offers.join(part_min, "l_partkey")
        .filter(F.col("best_price") == F.col("__min_price"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "best_price")
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(),
            F.col("s_name").asc(), F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@_q(
    "q_tpch4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 (priority checking, adapted: commit<receipt -> shipped "
    ">60d after order): EXISTS as a left-semi join on the fact key",
)
def q_tpch4(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@_q(
    "q_tpch7",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume::DECIMAL(18,6)), 2)::DOUBLE AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 (volume shipping between two nations): double nation "
    "dimension roles, disjunctive cross-nation predicate, year rollup",
)
def q_tpch7(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            _dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
    )


@_q(
    "q_tpch8",
    """
    SELECT o_year,
           round((sum(CASE WHEN supp_nation = 'NATION_3'
                           THEN volume::DECIMAL(18,6)
                           ELSE 0 END))::DOUBLE
                 / (sum(volume::DECIMAL(18,6)))::DOUBLE, 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    """,
    "TPC-H Q8 (national market share): 8-way join, conditional-sum "
    "ratio per order year; customer-side region gate, supplier-side "
    "nation tag",
)
def q_tpch8(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3",
                        vol.cast("decimal(18,6)"),
                    ).otherwise(F.lit(0).cast("decimal(18,6)"))
                ).cast("double")
                / F.sum(vol.cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@_q(
    "q_tpch9",
    """
    SELECT nation, o_year,
           (round(sum(amount::DECIMAL(18, 6)), 2))::DOUBLE AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%bolt%'
    )
    GROUP BY nation, o_year
    """,
    "TPC-H Q9 (product-type profit, adapted: ps_supplycost -> 0.6 * "
    "p_retailprice): LIKE-filtered part family, supplier-nation x "
    "order-year profit rollup. The per-row amount casts to "
    "DECIMAL(18,6) before summing: decimal addition is exact and "
    "associative, so the group sum is engine- and order-independent "
    "(a double sum's last-ulp noise flipped a cent at round(.,2) on a "
    "boundary group — §4.4 discipline)",
)
def q_tpch9(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(
            F.round(F.sum(F.col("amount").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_profit")
        )
    )


@_q(
    "q_tpch11",
    """
    WITH natval AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
    )
    SELECT l_partkey, round(sum(val::DECIMAL(18,6)), 2)::DOUBLE AS value
    FROM natval
    GROUP BY l_partkey
    HAVING (sum(val::DECIMAL(18,6)))::DOUBLE
           > (SELECT (sum(val::DECIMAL(18,6)))::DOUBLE * 0.002 FROM natval)
    """,
    "TPC-H Q11 (important stock, adapted: partsupp value -> shipped "
    "value): per-part sum gated by an uncorrelated scalar fraction of "
    "the total — the scalar is a 1-row broadcast, the fact scan is "
    "shared via the same filtered join",
)
def q_tpch11(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    natval = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
    )
    vdec = F.col("val").cast("decimal(18,6)")
    per_part = natval.groupBy("l_partkey").agg(F.sum(vdec).alias("__sum"))
    total = natval.agg(
        (F.sum(vdec).cast("double") * F.lit(0.002)).alias("__cut")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__sum").cast("double") > F.col("__cut"))
        .select(
            "l_partkey",
            F.round("__sum", 2).cast("double").alias("value"),
        )
    )


@_q(
    "q_tpch12",
    """
    SELECT ship_bucket,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 'SLOW' ELSE 'FAST' END AS ship_bucket
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY ship_bucket
    """,
    "TPC-H Q12 (shipping modes, adapted: l_shipmode -> ship-delay "
    "bucket): fact-fact equi join + conditional priority counts",
)
def q_tpch12(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                F.lit("SLOW"),
            ).otherwise(F.lit("FAST")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_q(
    "q_tpch16",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
    "TPC-H Q16 (parts/supplier relationship, adapted: partsupp -> "
    "lineitem pairs, comment-complaints -> negative acctbal): NOT IN "
    "as a broadcast anti join under a count-distinct rollup",
)
def q_tpch16(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "q_tpch17",
    """
    SELECT round((sum(l_extendedprice::DECIMAL(18,6)))::DOUBLE / 7.0, 2)
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#2'
      AND l_quantity < (
        SELECT 0.2 * ((sum(l2.l_quantity::DECIMAL(18,6)))::DOUBLE / count(*))
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
    "TPC-H Q17 (small-quantity revenue, adapted: container filter "
    "dropped): correlated per-part avg as a grouped agg re-joined to "
    "the fact; single-row answer",
)
def q_tpch17(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("__cut")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@_q(
    "q_tpch20",
    """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%bolt%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 50
      )
    """,
    "TPC-H Q20 (part promotion, adapted: ps_availqty threshold -> "
    "shipped-quantity threshold): IN over a grouped HAVING as a "
    "left-semi join chain",
)
def q_tpch20(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )


@_q(
    "q_tpch21",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders     ON o_orderkey = l1.l_orderkey
    JOIN nation     ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_2'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY s_name
    """,
    "TPC-H Q21 (suppliers who kept orders waiting, adapted: "
    "receipt>commit -> shipped >30d after order): EXISTS + correlated "
    "NOT EXISTS over the same fact, as semi + anti joins",
)
def q_tpch21(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    l1 = (
        li.alias("l1")
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .filter(F.col("l1.l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("l1.l_orderkey").alias("__ok"),
                F.col("l1.l_suppkey").alias("__sk"), "o_orderdate")
    )
    l2 = li.select(F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2"))
    exists = l1.join(
        l2,
        (F.col("__ok") == F.col("__ok2")) & (F.col("__sk") != F.col("__sk2")),
        "left_semi",
    )
    # NOT EXISTS correlates on the outer order date: pre-join l3 to the
    # SAME filtered orders so the late predicate is row-local, then anti
    l3 = (
        li.alias("l3")
        .join(o.select(F.col("o_orderkey").alias("__ok3"), F.col("o_orderdate").alias("__od3")),
              F.col("l3.l_orderkey") == F.col("__ok3"))
        .filter(F.col("l3.l_shipdate") > F.col("__od3") + F.expr("INTERVAL 30 DAY"))
        .select(F.col("__ok3"), F.col("l3.l_suppkey").alias("__sk3"))
    )
    waiting = exists.join(
        l3,
        (F.col("__ok") == F.col("__ok3")) & (F.col("__sk") != F.col("__sk3")),
        "left_anti",
    )
    return waiting.groupBy("s_name").agg(F.count("*").alias("numwait"))


@_q(
    "q_tpch22",
    """
    WITH pool AS (
      SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
      FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
    )
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal::DECIMAL(18,6)), 2)::DOUBLE AS totacctbal
    FROM pool
    WHERE c_acctbal > (
        SELECT (sum(c_acctbal::DECIMAL(18,6)))::DOUBLE / count(*)
        FROM pool WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY cntrycode
    """,
    "TPC-H Q22 (global sales opportunity, adapted: phone country code "
    "-> nationkey bucket, never-ordered -> no orders since 2000): "
    "uncorrelated scalar avg + NOT EXISTS anti join",
)
def q_tpch22(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    pool = c.filter((F.col("c_nationkey") % 5).isin(0, 1, 2)).select(
        "c_custkey", "c_acctbal", (F.col("c_nationkey") % 5).alias("cntrycode")
    )
    cut = pool.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, pool.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
    )


@_q(
    "l_audio_features",
    """
    WITH s AS (
      SELECT doc_id,
             [(ascii(substr(rpad(text, 64, '.'), i, 1)) - 128) / 128.0
              for i in generate_series(1, 64)] AS x
      FROM documents
    )
    SELECT 'mem://wav/' || doc_id AS path,
           8000 AS sample_rate, 1 AS n_channels, 64::BIGINT AS n_samples,
           round(((64 / 8000.0)::FLOAT)::DOUBLE, 6) AS duration_s,
           round((sqrt(list_avg([v * v for v in x]))::FLOAT)::DOUBLE, 6) AS rms0,
           round((list_max([abs(v) for v in x])::FLOAT)::DOUBLE, 6) AS peak0
    FROM s
    """,
    "L5 audio: binary WAV column → REAL builtin PCM decode → typed "
    "feature rows; the oracle recomputes RMS/peak from the same bytes",
)
def l_audio_features(spark, sf_dir):
    """8-bit mono 8 kHz WAVs synthesized deterministically from
    documents.text (constant 44-byte RIFF header + 64 sample bytes),
    decoded by the REAL builtin WAV parser — binary column → Arrow
    batches → mapInPandas decode → typed rows, no injected fake.
    rms0/peak0 are recomputed byte-for-byte by the oracle."""
    import struct as _struct

    hdr = (
        b"RIFF" + _struct.pack("<I", 36 + 64) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + _struct.pack("<I", 64)
    )
    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("mem://wav/"), F.col("doc_id")).alias("path"),
        F.concat(
            F.lit(hdr), F.encode(F.rpad(F.col("text"), 64, "."), "UTF-8")
        ).alias("content"),
    )
    feats = multimodal.extract_audio_features(d)  # default = real decoder
    return feats.select(
        "path", "sample_rate", "n_channels", "n_samples",
        F.round(F.col("duration_s").cast("double"), 6).alias("duration_s"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("rms0"),
        F.round(F.element_at("embedding", 5).cast("double"), 6).alias("peak0"),
    )


# --------------------------------------------------------------- round 3


@_q(
    "j_salted_skew",
    """
    WITH dim AS (
      SELECT source, sum(n_chars)::BIGINT AS sum_chars,
             count(*)::BIGINT AS cnt
      FROM documents GROUP BY source
    )
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN d.n_chars * dim.cnt > dim.sum_chars
                    THEN 1 ELSE 0 END)::BIGINT AS n_above
    FROM documents d JOIN dim USING (source)
    GROUP BY d.source
    ORDER BY d.source ASC NULLS FIRST
    """,
    "J-skew: explicit salted join for the pathological hot-key case AQE "
    "can't split (one key = whole partition): documents (5-value skewed "
    "'source' key) x per-source dim; salt spreads each hot key over 8 "
    "sub-partitions, dim rows replicate per salt. Above-average test is "
    "exact integer arithmetic (n_chars*cnt > sum_chars) so no float avg "
    "crosses an engine boundary",
)
def j_salted_skew(spark, sf_dir):
    from polars_fastx_spark.operators import partitioning as pt

    d = _t(spark, sf_dir, "documents")
    dim = d.groupBy("source").agg(
        F.sum("n_chars").alias("sum_chars"), F.count(F.lit(1)).alias("cnt")
    )
    joined = pt.salted_join(
        d.select("doc_id", "source", "n_chars"), dim, "source", num_salts=8
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_chars") * F.col("cnt") > F.col("sum_chars"), 1
                ).otherwise(0)
            ).alias("n_above"),
        )
        .orderBy(F.col("source").asc_nulls_first())
    )


@_q(
    "j_fuzzy",
    """
    SELECT a.s_name AS name_a, b.s_name AS name_b
    FROM supplier a, supplier b
    WHERE a.s_name < b.s_name AND levenshtein(a.s_name, b.s_name) = 1
    ORDER BY name_a ASC NULLS FIRST, name_b ASC NULLS FIRST
    """,
    "J-fuzzy: edit-distance<=1 self-join on supplier names WITHOUT a "
    "cartesian product — FastSS deletion-neighborhood keys turn it into "
    "a plain equi-join + levenshtein verify (operators/fuzzyjoin.py); "
    "the oracle IS the cartesian definition, so green here proves the "
    "blocking is complete",
)
def j_fuzzy(spark, sf_dir):
    from polars_fastx_spark.operators import fuzzyjoin

    s = _t(spark, sf_dir, "supplier")
    a = s.select(F.col("s_name").alias("name_a"))
    b = s.select(F.col("s_name").alias("name_b"))
    pairs = fuzzyjoin.fuzzy_join_k1(a, b, "name_a", "name_b", keep_equal=False)
    return (
        pairs.filter(F.col("name_a") < F.col("name_b"))
        .orderBy(
            F.col("name_a").asc_nulls_first(), F.col("name_b").asc_nulls_first()
        )
    )


@_q(
    "l_span_dedup",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 8 + 2),
                                   i -> array_to_string(toks[i:i+7], ' ')))
               AS win
      FROM t WHERE len(toks) >= 8
    ),
    dup AS (
      SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_windows,
           sum(CASE WHEN win IN (SELECT win FROM dup)
                    THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
           round(sum(CASE WHEN win IN (SELECT win FROM dup)
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
             AS dup_frac
    FROM w GROUP BY doc_id
    ORDER BY doc_id ASC NULLS FIRST
    """,
    "L2+ ExactSubstr-style duplicated-span stats (Lee et al. 2022, "
    "re-expressed relationally): overlapping 8-token windows per doc, "
    "md5-keyed, ONE groupBy(win_key) countDistinct-docs flags cross-"
    "corpus duplicated spans, per-doc dup_frac is the trim/drop gate. "
    "Spark shuffles 32-char hashes, never window text; the oracle "
    "groups by the window text itself — same equivalence classes "
    "(md5 collision-free on this corpus)",
)
def l_span_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    wins = text.ngram_windows(d, "doc_id", "text", n=8)
    return text.duplicated_span_stats(wins, "doc_id", min_docs=2).orderBy(
        F.col("doc_id").asc_nulls_first()
    )


def _span_remove_oracle_sql() -> str:
    """Oracle for l_span_remove, generated so the unsegmented-script
    passthrough gate shares :data:`text.UNSEG_CLASS_BODY` with the
    Spark expression (round-8 ADVICE medium #1: surgery is scoped to
    whitespace-tokenizable docs — a doc with any Han/kana/Hangul/Thai
    char passes through untouched, because rebuilding from
    overlapping character bigrams would corrupt it)."""
    head = f"[{text.UNSEG_CLASS_BODY}]".replace("'", "''")
    return f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_matches(coalesce(text, ''), '{head}') AS unseg,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             unnest(range(1, len(toks) - 8 + 2)) AS win_start,
             unnest(list_transform(range(1, len(toks) - 8 + 2),
                                   i -> array_to_string(toks[i:i+7], ' ')))
               AS win
      FROM t WHERE NOT unseg AND len(toks) >= 8
    ),
    dup AS (
      SELECT win, min(doc_id) AS owner
      FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2
    ),
    rem AS (
      SELECT DISTINCT w.doc_id,
             unnest(range(w.win_start, w.win_start + 8)) AS pos
      FROM w JOIN dup USING (win) WHERE w.doc_id <> dup.owner
    ),
    tokpos AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM t WHERE NOT unseg
    ),
    kept AS (
      SELECT tp.doc_id, tp.tok, tp.pos
      FROM tokpos tp LEFT JOIN rem
        ON tp.doc_id = rem.doc_id AND tp.pos = rem.pos
      WHERE rem.pos IS NULL
    ),
    reb AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY pos) AS rebuilt,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           (CASE WHEN t.unseg THEN 0
                 ELSE len(t.toks) - coalesce(reb.kept_n, 0)
            END)::BIGINT AS n_removed_tokens,
           CASE WHEN t.unseg THEN t.text
                WHEN len(t.toks) - coalesce(reb.kept_n, 0) > 0
                THEN coalesce(reb.rebuilt, '')
                ELSE t.text END AS text_clean
    FROM t LEFT JOIN reb USING (doc_id)
    ORDER BY t.doc_id ASC NULLS FIRST
    """


@_q(
    "l_span_remove",
    _span_remove_oracle_sql(),
    "L2+ ExactSubstr REMOVAL (Lee et al. 2022 — the surgery, where "
    "l_span_dedup is the measurement): every 8-token window shared by "
    ">=2 docs is a duplicated span, the min-id doc keeps its "
    "occurrence (one copy survives corpus-wide) and every other doc "
    "excises the covered tokens; no suffix array — md5 window keys "
    "groupBy to dup keys + owners, covered POSITIONS anti-join each "
    "doc's token list, one groupBy(doc) rebuilds the kept text in "
    "position order. Untouched docs keep their original bytes, "
    "fully-duplicated docs become '' for the downstream length gate; "
    "docs with unsegmented-script chars pass through untouched "
    "(bigram tokens cannot rebuild text — the r8 ADVICE corruption); "
    "the oracle replays with window TEXT keys (same equivalence "
    "classes as the md5 keys on this corpus)",
)
def l_span_remove(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        text.remove_duplicated_spans(
            d, "doc_id", "text", n=8, min_docs=2
        )
        .select("doc_id", "n_removed_tokens", "text_clean")
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "l_quality_model",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(toks) + 1),
               i -> list_reduce(
                      [strpos('0123456789abcdef', x) - 1
                       for x in string_split(substr(md5(toks[i]), 1, 8), '')],
                      (a, b) -> a * 16 + b) % 256)) AS bucket
      FROM t WHERE len(toks) >= 1
    ),
    w AS (
      SELECT b AS bucket,
             (list_reduce(
                [strpos('0123456789abcdef', x) - 1
                 for x in string_split(
                     substr(md5(b::VARCHAR || ':w'), 1, 8), '')],
                (a, b2) -> a * 16 + b2) % 2001 - 1000) / 1000.0 AS weight
      FROM range(256) t(b)
    ),
    per AS (
      SELECT doc_id, count(*)::BIGINT AS n_features, sum(w.weight) AS z
      FROM f JOIN w USING (bucket) GROUP BY doc_id
    )
    SELECT d.doc_id AS doc_id,
           coalesce(p.n_features, 0) AS n_features,
           round(1.0 / (1.0 + exp(-coalesce(p.z, 0.0))), 6) AS score
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id NULLS FIRST
    """,
    "L4+: model-based quality scoring — fastText/VW-style hashing-"
    "trick linear classifier application (the CCNet/GPT-3 quality-"
    "filter step): hashed unigram features via the DSIR md5 bucket "
    "map, a broadcast 256-row weight table standing in for the "
    "offline-trained model (weights content-addressed from the bucket "
    "id so both engines derive the identical model), score = "
    "sigmoid(Σ weights); zero-token docs keep sigmoid(0)",
)
def l_quality_model(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    weights = spark.range(256).select(
        F.col("id").alias("bucket"),
        (
            (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.encode(
                                    F.concat(
                                        F.col("id").cast("string"),
                                        F.lit(":w"),
                                    ),
                                    "UTF-8",
                                )
                            ),
                            1, 8,
                        ),
                        16, 10,
                    ).cast("long"),
                    F.lit(2001),
                )
                - 1000
            )
            / 1000.0
        ).alias("weight"),
    )
    return (
        text.hashed_linear_score(d, weights, num_buckets=256, n=1)
        .select(
            "doc_id", "n_features", F.round("score", 6).alias("score")
        )
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@_q(
    "l_dsir_sample",
    """
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id, source,
             unnest(list_transform(
               range(1, len(toks)),
               i -> list_reduce(
                      [strpos('0123456789abcdef', x) - 1
                       for x in string_split(
                           substr(md5(array_to_string(toks[i:i+1], ' ')),
                                  1, 8), '')],
                      (a, b) -> a * 16 + b) % 256)) AS bucket
      FROM t WHERE len(toks) >= 2
    ),
    rc AS (SELECT bucket, count(*)::BIGINT AS rc FROM f GROUP BY bucket),
    tc AS (SELECT bucket, count(*)::BIGINT AS tc FROM f
           WHERE source = 'src0' GROUP BY bucket),
    rt AS (SELECT sum(rc)::BIGINT AS rt FROM rc),
    tt AS (SELECT sum(tc)::BIGINT AS tt FROM tc),
    model AS (
      SELECT rc.bucket,
             ln((coalesce(tc.tc, 0) + 1.0) / (coalesce(tt.tt, 0) + 256))
             - ln((rc.rc + 1.0) / (rt.rt + 256)) AS llr
      FROM rc LEFT JOIN tc USING (bucket), rt, tt
    )
    SELECT doc_id, round(sum(llr), 6) AS dsir_logw
    FROM f JOIN model USING (bucket)
    GROUP BY doc_id
    ORDER BY dsir_logw DESC, doc_id ASC NULLS FIRST
    LIMIT 100
    """,
    "L4+ DSIR importance reweighting (Xie et al. 2023): hashed-bigram "
    "bucket features (md5 % 256 — engine-portable, RNG-free), add-one-"
    "smoothed target (source='src0') vs raw bucket models, per-doc "
    "log-likelihood-ratio weight, top-100. Models are 256-row "
    "aggregates broadcast back; totals re-aggregate those frames (no "
    "extra corpus scans); ranking is on the ROUNDED weight so the "
    "limit boundary is engine-stable",
)
def l_dsir_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    feats = text.hashed_ngram_buckets(d, "doc_id", "text", num_buckets=256, n=2)
    target = d.filter(F.col("source") == "src0").select("doc_id")
    w = text.dsir_logratio(feats, target, "doc_id", num_buckets=256)
    return (
        w.orderBy(F.col("dsir_logw").desc(), F.col("doc_id").asc_nulls_first())
        .limit(100)
    )


@_q(
    "t_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, med.med,
             abs(e.value - med.med) AS adev
      FROM events e JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           count(*)::BIGINT AS n,
           round(any_value(dev.med), 6) AS median,
           round(any_value(mad.mad), 6) AS mad,
           sum(CASE WHEN dev.adev > (3.0 * 1.4826) * mad.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    ORDER BY dev.event_type ASC NULLS FIRST
    """,
    "T+ robust anomaly gate: per-event-type median/MAD outlier stats "
    "(threshold |v-med| > 3*1.4826*MAD — not dragged by the outliers "
    "themselves, unlike mean/stddev). Two exact-percentile aggregate "
    "passes with tiny per-group stats broadcast back; swap in "
    "approx_percentile for sketch-accuracy at 100 TB with the same "
    "shape. Oracle quantile_cont == Spark percentile (both linear-"
    "interpolate)",
)
def t_mad_outliers(spark, sf_dir):
    e = _events(spark, sf_dir)
    return timeseries.mad_outlier_stats(e, "event_type", "value", z=3.0).orderBy(
        F.col("event_type").asc_nulls_first()
    )


@_q(
    "l_triangles",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_quantity > 40 AND b.l_quantity > 40
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pv AS (
      SELECT unnest([a, b, c]) AS vertex FROM tri
    )
    SELECT vertex, count(*)::BIGINT AS n_triangles
    FROM pv GROUP BY vertex
    ORDER BY n_triangles DESC, vertex ASC NULLS FIRST
    LIMIT 20
    """,
    "Graph: per-vertex triangle counts (wedge-close, two equi-joins on "
    "id-oriented edges — each triangle materializes exactly once, no /6 "
    "correction) over the co-purchase graph: parts sharing an order, "
    "both lines quantity>40. Top-20 hubs by triangle participation — "
    "the local-clustering signal under community detection",
)
def l_triangles(spark, sf_dir):
    from polars_fastx_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40).select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return (
        triangle_count(edges)
        .orderBy(F.col("n_triangles").desc(), F.col("vertex").asc_nulls_first())
        .limit(20)
    )


@_q(
    "q_profile",
    """
    SELECT 'o_orderkey' AS col_name,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_nulls,
           count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
           min(o_orderkey)::VARCHAR AS min, max(o_orderkey)::VARCHAR AS max
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_custkey)::BIGINT,
           min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderstatus)::BIGINT,
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderdate)::BIGINT,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderpriority)::BIGINT,
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    ORDER BY col_name ASC NULLS FIRST
    """,
    "EDA: one-pass column profile (null count, exact distinct, min/max "
    "rendered to string) over 5 orders columns — ONE agg job (Expand "
    "plans the multi-distinct), stack() unpivots the wide row with no "
    "driver round-trip; the oracle is the definitional per-column "
    "UNION ALL",
)
def q_profile(spark, sf_dir):
    from polars_fastx_spark.operators.quality import profile

    o = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    )
    return profile(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
         "o_orderpriority"],
    ).orderBy(F.col("col_name").asc_nulls_first())


@_q(
    "l_distinctive_terms",
    """
    WITH wd AS (
      SELECT source AS grp, w AS word
      FROM (SELECT source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    gw AS (SELECT grp, word, count(*)::BIGINT AS ygw
           FROM wd GROUP BY grp, word),
    wt AS (SELECT word, sum(ygw)::BIGINT AS yw FROM gw GROUP BY word),
    gt AS (SELECT grp, sum(ygw)::BIGINT AS ng FROM gw GROUP BY grp),
    tot AS (SELECT sum(yw)::BIGINT AS nn FROM wt),
    s AS (
      SELECT gw.grp, gw.word, gw.ygw, wt.yw, gt.ng, tot.nn,
             (10.0 * wt.yw) / tot.nn AS aw,
             wt.yw - gw.ygw AS yrw
      FROM gw JOIN wt USING (word) JOIN gt USING (grp), tot
    ),
    scored AS (
      SELECT grp AS source, word,
             round(
               (ln((ygw + aw) / (ng + 10.0 - ygw - aw))
                - ln((yrw + aw) / (nn - ng + 10.0 - yrw - aw)))
               / sqrt(1.0 / (ygw + aw) + 1.0 / (yrw + aw)), 6)
               AS z_logodds
      FROM s
    )
    SELECT source, word, z_logodds
    FROM (SELECT source, word, z_logodds,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY z_logodds DESC, word ASC) AS rk
          FROM scored)
    WHERE rk <= 3
    ORDER BY source ASC NULLS FIRST, z_logodds DESC, word ASC NULLS FIRST
    """,
    "L4+ corpus analysis: per-source distinctive vocabulary via "
    "weighted log-odds with informative Dirichlet prior (Monroe et al. "
    "2008 'Fightin' Words') — shrinks rare-word noise that TF-IDF "
    "overweights; one (group,word) aggregate, everything else tiny "
    "broadcast frames; top-3 terms per source by z",
)
def l_distinctive_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = text.distinctive_terms(d, "source", "text", top_k=3, mu=10.0)
    return out.orderBy(
        F.col("source").asc_nulls_first(),
        F.col("z_logodds").desc(),
        F.col("word").asc_nulls_first(),
    )


@_q(
    "j_nullsafe",
    """
    WITH l AS (
      SELECT nullif(event_type, 'error') AS ek, value FROM events
    ),
    dim AS (
      SELECT DISTINCT nullif(event_type, 'error') AS ek FROM events
    )
    SELECT dim.ek,
           count(*)::BIGINT AS n,
           round(sum(l.value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
    FROM l JOIN dim ON l.ek IS NOT DISTINCT FROM dim.ek
    GROUP BY dim.ek
    ORDER BY dim.ek ASC NULLS FIRST
    """,
    "J12: null-safe equi-join (<=> / IS NOT DISTINCT FROM) — NULL keys "
    "match the NULL dim row instead of dropping (the SQL-92 join would "
    "silently lose every null-keyed fact row); <=> is a hashable join "
    "key, so this stays a plain hash join",
)
def j_nullsafe(spark, sf_dir):
    e = _events(spark, sf_dir)
    left = e.select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("ek"), "value"
    )
    dim = left.select("ek").distinct().select(F.col("ek").alias("dk"))
    return (
        left.join(dim, left["ek"].eqNullSafe(dim["dk"]))
        .groupBy("dk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("sum_value"),
        )
        .select(F.col("dk").alias("ek"), "n", "sum_value")
        .orderBy(F.col("ek").asc_nulls_first())
    )


@_q(
    "t_islands",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'click'
    ),
    f AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER wprev IS NULL
                    OR s > max(e) OVER wprev THEN 1 ELSE 0 END AS nw
      FROM iv
      WINDOW wprev AS (PARTITION BY user_id ORDER BY s ASC, e ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    g AS (
      SELECT user_id, s, e, nw,
             sum(nw) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM f
    )
    SELECT user_id,
           min(s) AS island_start,
           max(e) AS island_end,
           count(*)::BIGINT AS n_merged
    FROM g GROUP BY user_id, island
    ORDER BY user_id ASC NULLS FIRST, island_start ASC NULLS FIRST
    """,
    "T+ gaps-and-islands: merge overlapping 5-minute activity windows "
    "per user into maximal spans (operators/timeseries.py:"
    "merge_intervals) — running-max-of-end + flag-cumsum + one "
    "groupBy, all sharing the user_id hash partitioning (one shuffle)",
)
def t_islands(spark, sf_dir):
    e = _events(spark, sf_dir)
    iv = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("s"),
        (F.col("ts_us") + 300_000_000).alias("e"),
    )
    return (
        timeseries.merge_intervals(iv, "user_id", "s", "e")
        .select(
            "user_id",
            F.col("island_start"),
            F.col("island_end"),
            "n_merged",
        )
        .orderBy(
            F.col("user_id").asc_nulls_first(),
            F.col("island_start").asc_nulls_first(),
        )
    )


@_q(
    "l_bm25_multi",
    """
    WITH qt(query_id, w) AS (
      VALUES (0, 'data'), (0, 'table'),
             (1, 'join'), (1, 'merge'),
             (2, 'spark'), (2, 'sort'), (2, 'fast')
    ),
    w AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM w GROUP BY doc_id),
    st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    h AS (SELECT doc_id, w FROM w
          WHERE w IN (SELECT DISTINCT w FROM qt)),
    dfq AS (SELECT w, count(DISTINCT doc_id)::DOUBLE AS dfq
            FROM h GROUP BY w),
    tf AS (SELECT doc_id, w, count(*)::DOUBLE AS tf
           FROM h GROUP BY doc_id, w),
    scored AS (
      SELECT qt.query_id, tf.doc_id,
             round(sum(ln(1 + (n - dfq + 0.5) / (dfq + 0.5))
                       * (tf * 2.2
                          / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6)
               AS bm25
      FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id)
              JOIN qt USING (w), st
      GROUP BY qt.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, bm25
    FROM (SELECT query_id, doc_id, bm25,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY bm25 DESC, doc_id ASC) AS rk
          FROM scored)
    WHERE rk <= 10
    ORDER BY query_id ASC NULLS FIRST, bm25 DESC, doc_id ASC NULLS FIRST
    """,
    "L4+ batch retrieval: BM25 for a TABLE of 3 queries in ONE corpus "
    "pass (operators/text.py:bm25_multi) — postings semi-joined to the "
    "union of query terms, per-term contributions joined to the "
    "broadcast query table, one groupBy((query, doc)); corpus stats "
    "computed once regardless of query count. Top-10 per query on the "
    "ROUNDED score",
)
def l_bm25_multi(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    qt = spark.createDataFrame(
        [(0, "data"), (0, "table"), (1, "join"), (1, "merge"),
         (2, "spark"), (2, "sort"), (2, "fast")],
        "query_id int, term string",
    )
    scored = text.bm25_multi(d, qt, "doc_id", "text").select(
        "query_id", "doc_id", F.round("bm25", 6).alias("bm25")
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 10)
        .drop("rk")
        .orderBy(
            F.col("query_id").asc_nulls_first(),
            F.col("bm25").desc(),
            F.col("doc_id").asc_nulls_first(),
        )
    )


@_q(
    "j_fuzzy2",
    """
    SELECT a.s_name AS name_a, b.s_name AS name_b,
           levenshtein(a.s_name, b.s_name)::BIGINT AS dist
    FROM supplier a, supplier b
    WHERE a.s_name < b.s_name AND levenshtein(a.s_name, b.s_name) <= 2
    ORDER BY name_a ASC NULLS FIRST, name_b ASC NULLS FIRST
    """,
    "J11+ fuzzy join at edit distance <= 2: the FastSS <=2-deletion "
    "neighborhood (singles + position-pair doubles, all higher-order "
    "expressions) keeps it an equi-join + levenshtein verify; the "
    "oracle is again the cartesian definition, proving k=2 blocking "
    "completeness",
)
def j_fuzzy2(spark, sf_dir):
    from polars_fastx_spark.operators import fuzzyjoin

    s = _t(spark, sf_dir, "supplier")
    a = s.select(F.col("s_name").alias("name_a"))
    b = s.select(F.col("s_name").alias("name_b"))
    pairs = fuzzyjoin.fuzzy_join_k2(a, b, "name_a", "name_b", keep_equal=False)
    return (
        pairs.filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a", "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
        .orderBy(
            F.col("name_a").asc_nulls_first(), F.col("name_b").asc_nulls_first()
        )
    )


@_q(
    "l_pq_topk",
    None,  # iterative (m×k-means training) — rows-only by design;
           # value semantics pinned by tests/test_pq.py (code validity,
           # Lloyd distortion monotonicity, planted-cluster ADC recall,
           # repartition determinism)
    "L3+ Product Quantization ANN (Jégou et al. 2011): 64-dim floats "
    "compress to 8 one-byte codes (32x); ALL subspaces train in ONE "
    "DataFrame k-means loop (subspace id is a grouping key — per "
    "iteration one broadcast join + two aggregate shuffles regardless "
    "of m); ADC search = broadcast m·k distance table + explode-join-"
    "groupBy, codes never decompress (operators/vectors.py:pq_train/"
    "pq_topk)",
)
def l_pq_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    # dim is known from the collected query vector — drops pq_train's
    # one-row dimensionality probe job from the critical path
    codes, books = vectors.pq_train(
        e, "vec_id", "v", m=8, k=8, iterations=3, dim=len(q)
    )
    return vectors.pq_topk(codes, books, q, "vec_id", n=10).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


@_q(
    "l_ivfpq_topk",
    None,  # iterative residual-PQ training — rows-only by design;
           # recall/pruning semantics pinned in tests/test_pq.py
    "L3+ IVF-PQ search (Jégou et al. 2011) — the production ANN index: "
    "IVF cells prune to nprobe nearest the query, product-quantized "
    "RESIDUALS (v - centroid) rank by asymmetric distance without "
    "decompressing; scan moves m bytes per candidate in nprobe/cells "
    "of the corpus (operators/vectors.py:ivfpq_topk)",
)
def l_ivfpq_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    return vectors.ivfpq_topk(
        e, "vec_id", "v", q, k=10, num_cells=16, nprobe=4, m=8, pq_k=8,
        iterations=3,
    ).select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


#: shared CTE fragments for the PINNED (zero-training, md5-seeded) PQ
#: oracles — the codebook seeding and assignment replay in DuckDB
#: because every step is content-addressed (no RNG, no iteration): per
#: subspace j the k subvectors with the smallest md5(id || ':' || j)
#: ARE the centroids, codes are argmin squared-L2 against them, and
#: ADC sums the m per-subspace query-to-centroid distances.
_PQ_SEEDS_SQL = """
seeds AS (
  SELECT j, c, sv FROM (
    SELECT j, sv,
           row_number() OVER (PARTITION BY j
             ORDER BY md5(vec_id::VARCHAR || ':' || j::VARCHAR)) - 1 AS c
    FROM {subs}
  ) WHERE c < 8
),
assigned AS (
  SELECT s.vec_id{cell_sel}, s.j,
         arg_min(d.c,
           list_sum(list_transform(range(1,9),
             i -> (s.sv[i]-d.sv[i])*(s.sv[i]-d.sv[i])))) AS c
  FROM {subs} s JOIN seeds d USING (j)
  GROUP BY s.vec_id{cell_sel}, s.j
)"""


@_q(
    "l_pq_topk_pinned",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    js AS (SELECT unnest(range(8))::INT AS j),
    subs AS (
      SELECT b.vec_id, js.j, list_slice(b.v, js.j*8+1, js.j*8+8) AS sv
      FROM base b, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="subs", cell_sel="")
    + """,
    qsubs AS (SELECT j, sv FROM subs WHERE vec_id = 0),
    dtab AS (
      SELECT d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (q.sv[i]-d.sv[i])*(q.sv[i]-d.sv[i]))) AS dist
      FROM seeds d JOIN qsubs q USING (j)
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a JOIN dtab t ON a.j = t.j AND a.c = t.c
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ PQ ANN with PINNED codebooks: md5-seeded, zero Lloyd rounds — "
    "the frozen-codebook encode path a production index uses for the "
    "corpus-side 100 TB pass (train once on a sample, pq_encode the "
    "rest), and the oracle-checkable twin of l_pq_topk (same dataflow: "
    "broadcast m*k centroid table, min_by assignment, broadcast ADC "
    "table, explode-join-groupBy; operators/vectors.py:pq_seed_books/"
    "pq_encode/pq_topk). The oracle rebuilds the identical books from "
    "md5(id||':'||j) and replays codes + ADC ranking exactly",
)
def l_pq_topk_pinned(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    # same dim-threading as l_pq_topk: the probe job is redundant
    books = vectors.pq_seed_books(e, "vec_id", "v", m=8, k=8, dim=len(q))
    codes = vectors.pq_encode(e, "vec_id", "v", books)
    return vectors.pq_topk(codes, books, q, "vec_id", n=10).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


@_q(
    "l_ivfpq_topk_pinned",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    q AS (SELECT v FROM base WHERE vec_id = 0),
    probed AS (
      SELECT c.cell, c.cvec
      FROM cent c, q
      ORDER BY list_dot_product(q.v, c.cvec)
                 / (coalesce(nullif(sqrt(list_sum(
                        list_transform(q.v, x -> x*x))), 0), 1)
                    * coalesce(nullif(c.cnorm, 0), 1)) DESC,
               c.cell ASC
      LIMIT 4
    ),
    qres AS (
      SELECT p.cell,
             list_transform(range(1,65), i -> q.v[i] - p.cvec[i]) AS qr
      FROM probed p, q
    ),
    qrsubs AS (
      SELECT t.cell, js.j, list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qs.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qs.sv[i]-d.sv[i])*(qs.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qs JOIN seeds d ON qs.j = d.j
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ IVF-PQ ANN with PINNED codebooks: deterministic IVF cells "
    "(16 smallest md5(id) vectors, cosine max_by assignment) + "
    "residual PQ on md5-seeded zero-training books, nprobe=4 cell "
    "pruning, broadcast (cell,j,c) ADC table — the oracle-checkable "
    "twin of l_ivfpq_topk (operators/vectors.py:ivfpq_topk with "
    "pinned_books=True); the oracle replays cells, residuals, books, "
    "codes, probes and the ADC ranking end-to-end in SQL",
)
def l_ivfpq_topk_pinned(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    return vectors.ivfpq_topk(
        e, "vec_id", "v", q, k=10, num_cells=16, nprobe=4, m=8, pq_k=8,
        pinned_books=True,
    ).select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


#: session-scoped build-once cache for the READ-ONLY ANN catalog
#: queries: one pinned full-corpus index per sf_dir per process.
_ANN_SHARED: dict = {}


def _ann_shared_index(spark, sf_dir):
    """The pinned full-corpus IVF-PQ index this session's read-only
    ANN queries share — index_build_if_absent makes the second and
    later callers reuse the first build (pinned builds are
    deterministic, so cached == fresh, test-pinned), which is both the
    production serve-many contract made driver-visible and a real
    sweep saving (one build instead of five per catalog pass).
    Deliberately SESSION-scoped (a module dict, fresh mkdtemp per
    process), never a durable /tmp key: a stale cross-run cache could
    answer with an index built by older code. MUTATING queries
    (l_ann_index_delete) and subset builds (l_ann_index_add) keep
    private directories — a shared index must never see a tombstone.

    Invalidation contract: the cache key is ``sf_dir`` ALONE, valid
    because the testdata tables are immutable by driver contract. A
    deployment whose corpus mutates in place must not reuse this
    helper as-is — key on a table fingerprint (row count + max id, or
    a snapshot/commit id) or call ``ann_index.index_retrain`` /
    ``index_add`` through the index's own lifecycle instead of
    rebuilding via cache miss."""
    import tempfile

    path = _ANN_SHARED.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_ann_shared_")
        _ANN_SHARED[sf_dir] = path
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ann_index.index_build_if_absent(
        e, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    return path, e


def _prep_ann_shared(spark, sf_dir):
    """prepare= hook for the read-only ANN queries: the shared build is
    BUILD cost, not query cost (VERDICT r5 'what's missing #4') —
    benchmarks run this first so the timed query measures serving."""
    _ann_shared_index(spark, sf_dir)


#: session cache for the MUTATING lifecycle queries' private base
#: indexes: (sf_dir, purpose) -> path. Mutations land at PINNED epochs
#: (overwrite-idempotent), so a re-run answers identically off the
#: cached base instead of paying the build every invocation.
_ANN_PRIVATE: dict = {}


def _ann_private_index(spark, sf_dir, purpose, corpus):
    key = (sf_dir, purpose)
    path = _ANN_PRIVATE.get(key)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix=f"pfs_ann_{purpose}_")
        _ANN_PRIVATE[key] = path
    ann_index.index_build_if_absent(
        corpus, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    return path


def _ann_add_head(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    split = F.substring(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":split"))),
        1, 1,
    )
    return e, e.filter(split != "f"), e.filter(split == "f")


def _prep_ann_add(spark, sf_dir):
    _, head, _ = _ann_add_head(spark, sf_dir)
    _ann_private_index(spark, sf_dir, "add", head)


def _prep_ann_delete(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _ann_private_index(spark, sf_dir, "del", e)


@_q(
    "l_ann_index_search",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    q AS (SELECT v FROM base WHERE vec_id = 0),
    probed AS (
      SELECT c.cell, c.cvec
      FROM cent c, q
      ORDER BY list_dot_product(q.v, c.cvec)
                 / (coalesce(nullif(sqrt(list_sum(
                        list_transform(q.v, x -> x*x))), 0), 1)
                    * coalesce(nullif(c.cnorm, 0), 1)) DESC,
               c.cell ASC
      LIMIT 4
    ),
    qres AS (
      SELECT p.cell,
             list_transform(range(1,65), i -> q.v[i] - p.cvec[i]) AS qr
      FROM probed p, q
    ),
    qrsubs AS (
      SELECT t.cell, js.j, list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qs.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qs.sv[i]-d.sv[i])*(qs.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qs JOIN seeds d ON qs.j = d.j
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ PERSISTED ANN index lifecycle (operators/ann_index.py): "
    "index_build materializes IVF cells + pinned PQ codebooks + "
    "residual codes as parquet tables, index_search reopens them and "
    "ranks by ADC through the SAME adc_search code path as the "
    "in-query ivfpq_topk — so the l_ivfpq_topk_pinned oracle replays "
    "the full build → parquet → reopen → search roundtrip (doubles "
    "round-trip parquet exactly). The 100 TB shape: build once, every "
    "query opens KB-sized centroid/book tables + the m-bytes/vector "
    "code table; nothing data-sized touches the driver.",
    prepare=_prep_ann_shared
)
def l_ann_index_search(spark, sf_dir):
    path, e = _ann_shared_index(spark, sf_dir)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    return ann_index.index_search(spark, path, q, k=10, nprobe=4).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


@_q(
    "l_ann_index_stats",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id
    )
    SELECT cell, count(*)::BIGINT AS n_vectors, 1::BIGINT AS n_epochs
    FROM asg GROUP BY cell
    ORDER BY cell
    """,
    "L3+ persisted-index OBSERVABILITY (ann_index.index_stats), the "
    "similarity twin of lsh_bucket_profile: per-cell vector counts and "
    "epoch span straight off the code table's parquet footprint — the "
    "table an operator reads to spot skewed cells (one hot cell = one "
    "slow probe task) and watch ingest growth, <= num_cells rows. The "
    "oracle replays the deterministic cell assignment and counts.",
    prepare=_prep_ann_shared
)
def l_ann_index_stats(spark, sf_dir):
    path, _ = _ann_shared_index(spark, sf_dir)
    return ann_index.index_stats(spark, path).orderBy("cell")


@_q(
    "l_ann_index_drift",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    perj AS (
      SELECT s.vec_id, s.cell, s.j,
             floor(min(list_sum(list_transform(range(1,9),
                 i -> (s.sv[i]-d.sv[i])*(s.sv[i]-d.sv[i])))) * 1e12)::BIGINT
               AS dj
      FROM rsubs s JOIN seeds d USING (j)
      GROUP BY s.vec_id, s.cell, s.j
    ),
    perv AS (
      SELECT vec_id, cell, sum(dj) AS dist FROM perj GROUP BY 1, 2
    ),
    perc AS (
      SELECT cell, count(*)::BIGINT AS n_vectors,
             sum(dist::HUGEINT) AS dsum
      FROM perv GROUP BY cell
    )
    SELECT cell, n_vectors,
           round(n_vectors * (count(*) OVER ())
                 / (sum(n_vectors) OVER ()), 6) AS fill_ratio,
           round(dsum::DOUBLE / n_vectors / 1e12, 6) AS mean_distortion
    FROM perc ORDER BY cell
    """,
    "L3+ persisted-index DRIFT monitor (ann_index.index_drift_stats): "
    "per-cell residual quantization distortion (mean ADC self-distance "
    "— each vector's Σ_j min_c ‖r_j − book[j][c]‖² under the FROZEN "
    "quantizers) and fill skew, the signal index_add's frozen-quantizer "
    "contract cannot surface: after distribution drift recall decays "
    "silently while the code table looks healthy; distortion on recent "
    "batches vs the post-(re)train floor is the index_retrain trigger. "
    "Per-subspace errors become exact fixed-point longs before any "
    "unordered aggregation (the _dsum convention), so the monitor is "
    "engine-bit-stable; the oracle replays the pinned build and the "
    "encode-error min per subspace exactly.",
    prepare=_prep_ann_shared
)
def l_ann_index_drift(spark, sf_dir):
    path, e = _ann_shared_index(spark, sf_dir)
    return (
        ann_index.index_drift_stats(spark, path, e, "v")
        .select(
            "cell", "n_vectors",
            F.round("fill_ratio", 6).alias("fill_ratio"),
            F.round("mean_distortion", 6).alias("mean_distortion"),
        )
        .orderBy("cell")
    )


@_q(
    "l_ann_index_search_many",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    qs AS (SELECT vec_id AS query_id, v AS qv FROM base
           WHERE vec_id IN (0, 1, 2)),
    probed AS (
      SELECT query_id, cell, cvec, qv FROM (
        SELECT qs.query_id, c.cell, c.cvec, qs.qv,
               row_number() OVER (PARTITION BY qs.query_id
                 ORDER BY list_dot_product(qs.qv, c.cvec)
                   / nullif(sqrt(list_sum(list_transform(qs.qv, x -> x*x)))
                            * c.cnorm, 0) DESC,
                 c.cell ASC) AS rn
        FROM qs CROSS JOIN cent c
      ) WHERE rn <= 4
    ),
    qres AS (
      SELECT query_id, cell,
             list_transform(range(1,65), i -> qv[i] - cvec[i]) AS qr
      FROM probed
    ),
    qrsubs AS (
      SELECT t.query_id, t.cell, js.j,
             list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qt.query_id, qt.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qt.sv[i]-d.sv[i])*(qt.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qt JOIN seeds d ON qt.j = d.j
    ),
    adc AS (
      SELECT t.query_id, a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      GROUP BY t.query_id, a.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, raw,
             row_number() OVER (PARTITION BY query_id
               ORDER BY raw ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, round(raw, 6) AS adc_dist, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    "L3+ BATCH retrieval over the persisted ANN index "
    "(ann_index.index_search_many): a TABLE of queries resolves in one "
    "fully-relational pass — per-query probed cells via one window over "
    "nq x num_cells broadcast-cosine rows, the (query, cell, j, c) ADC "
    "table built by executors (never the driver), one equi-join against "
    "the exploded code table, one per-query top-k window. A "
    "million-query batch plans identically to this 3-query one; no "
    "per-query driver loop anywhere. Tie-breaks mirror index_search "
    "(pinned by the 1-row parity test).",
    prepare=_prep_ann_shared
)
def l_ann_index_search_many(spark, sf_dir):
    path, e = _ann_shared_index(spark, sf_dir)
    queries = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    return ann_index.index_search_many(
        spark, path, queries, k=5, nprobe=4
    ).select(
        "query_id", "vec_id", F.round("adc_dist", 6).alias("adc_dist"),
        "rank",
    ).orderBy("query_id", "rank")


@_q(
    "l_ann_index_add",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    build AS (SELECT * FROM base
              WHERE substr(md5(vec_id::VARCHAR || ':split'), 1, 1) <> 'f'),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM build ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),
    seeds AS (
      SELECT j, c, sv FROM (
        SELECT j, sv,
               row_number() OVER (PARTITION BY j
                 ORDER BY md5(vec_id::VARCHAR || ':' || j::VARCHAR)) - 1 AS c
        FROM rsubs
        WHERE substr(md5(vec_id::VARCHAR || ':split'), 1, 1) <> 'f'
      ) WHERE c < 8
    ),
    assigned AS (
      SELECT s.vec_id, s.cell, s.j,
             arg_min(d.c,
               list_sum(list_transform(range(1,9),
                 i -> (s.sv[i]-d.sv[i])*(s.sv[i]-d.sv[i])))) AS c
      FROM rsubs s JOIN seeds d USING (j)
      GROUP BY s.vec_id, s.cell, s.j
    ),
    q AS (SELECT v FROM base WHERE vec_id = 0),
    probed AS (
      SELECT c.cell, c.cvec
      FROM cent c, q
      ORDER BY list_dot_product(q.v, c.cvec)
                 / (coalesce(nullif(sqrt(list_sum(
                        list_transform(q.v, x -> x*x))), 0), 1)
                    * coalesce(nullif(c.cnorm, 0), 1)) DESC,
               c.cell ASC
      LIMIT 4
    ),
    qres AS (
      SELECT p.cell,
             list_transform(range(1,65), i -> q.v[i] - p.cvec[i]) AS qr
      FROM probed p, q
    ),
    qrsubs AS (
      SELECT t.cell, js.j, list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qs.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qs.sv[i]-d.sv[i])*(qs.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qs JOIN seeds d ON qs.j = d.j
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ INCREMENTAL ANN ingest: the index is built on the ~15/16 "
    "md5-split build subset, then the held-out tail is index_add'ed — "
    "encoded against the FROZEN coarse cells and codebooks and "
    "appended as codes/epoch=1 (history never recomputed; cost scales "
    "with the batch, the band-index-gate contract). The oracle derives "
    "cells and codebook seeds from the BUILD subset only but codes for "
    "EVERY vector — exactly what frozen-quantizer routing means — and "
    "the search spans both epochs. Companion of l_ann_index_search "
    "(one-shot build) and the add==rebuild parity test.",
    prepare=_prep_ann_add
)
def l_ann_index_add(spark, sf_dir):
    e, head, tail = _ann_add_head(spark, sf_dir)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    # base index session-cached (the BUILD phase — prepare= hook);
    # the add lands at PINNED epoch 1, so a re-run overwrites itself
    # and answers identically instead of accreting epochs
    path = _ann_private_index(spark, sf_dir, "add", head)
    ann_index.index_add(tail, "v", path, epoch=1)
    return ann_index.index_search(spark, path, q, k=10, nprobe=4).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


@_q(
    "l_ann_index_search_filtered",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    q AS (SELECT v FROM base WHERE vec_id = 0),
    probed AS (
      SELECT c.cell, c.cvec
      FROM cent c, q
      ORDER BY list_dot_product(q.v, c.cvec)
                 / (coalesce(nullif(sqrt(list_sum(
                        list_transform(q.v, x -> x*x))), 0), 1)
                    * coalesce(nullif(c.cnorm, 0), 1)) DESC,
               c.cell ASC
      LIMIT 4
    ),
    qres AS (
      SELECT p.cell,
             list_transform(range(1,65), i -> q.v[i] - p.cvec[i]) AS qr
      FROM probed p, q
    ),
    qrsubs AS (
      SELECT t.cell, js.j, list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qs.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qs.sv[i]-d.sv[i])*(qs.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qs JOIN seeds d ON qs.j = d.j
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      WHERE a.vec_id % 3 = 0
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ METADATA-FILTERED ANN search: the allowed id set (a predicate "
    "on a dimension table in production — here vec_id % 3 = 0) "
    "semi-joins onto the code scan BEFORE ADC ranking, so k results "
    "survive any selectivity (post-filtering a top-k silently "
    "truncates); oracle = the pinned replay restricted to the allowed "
    "split. Composes with tombstones (filter on top of the hide "
    "anti-join — test-pinned).",
    prepare=_prep_ann_shared
)
def l_ann_index_search_filtered(spark, sf_dir):
    path, e = _ann_shared_index(spark, sf_dir)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    allow = e.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    return ann_index.index_search(
        spark, path, q, k=10, nprobe=4, id_filter=allow
    ).select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


@_q(
    "l_ann_index_recall",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    qs AS (SELECT vec_id AS query_id, v AS qv FROM base
           WHERE vec_id % 29 = 0),
    probed AS (
      SELECT query_id, cell, cvec, qv FROM (
        SELECT qs.query_id, c.cell, c.cvec, qs.qv,
               row_number() OVER (PARTITION BY qs.query_id
                 ORDER BY list_dot_product(qs.qv, c.cvec)
                   / nullif(sqrt(list_sum(list_transform(qs.qv, x -> x*x)))
                            * c.cnorm, 0) DESC,
                 c.cell ASC) AS rn
        FROM qs CROSS JOIN cent c
      ) WHERE rn <= 4
    ),
    qres AS (
      SELECT query_id, cell,
             list_transform(range(1,65), i -> qv[i] - cvec[i]) AS qr
      FROM probed
    ),
    qrsubs AS (
      SELECT t.query_id, t.cell, js.j,
             list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qt.query_id, qt.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qt.sv[i]-d.sv[i])*(qt.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qt JOIN seeds d ON qt.j = d.j
    ),
    adc AS (
      SELECT t.query_id, a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      GROUP BY t.query_id, a.vec_id
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY raw ASC, vec_id ASC) AS rank
        FROM adc
      ) WHERE rank <= 5
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT qs.query_id, b.vec_id,
               row_number() OVER (PARTITION BY qs.query_id
                 ORDER BY list_sum(list_transform(range(1,65),
                   i -> (b.v[i]-qs.qv[i])*(b.v[i]-qs.qv[i]))) ASC,
                 b.vec_id ASC) AS rn
        FROM qs CROSS JOIN base b
      ) WHERE rn <= 5
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM exact e JOIN approx a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    )
    SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
           round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall
    FROM qs q LEFT JOIN hits h USING (query_id)
    ORDER BY q.query_id
    """,
    "L3+ MEASURED recall@5 of the persisted ANN index vs exact L2 over "
    "a deterministic query sample (ann_index.index_recall) — the table "
    "quantization parameters are tuned from. Approx side = the batch "
    "search's relational pass; exact side = brute-force broadcast over "
    "the sample (nq·n dot products, the unarguable ground truth); "
    "both tie-break by id so recall is deterministic. The oracle "
    "replays BOTH sides and the per-query intersection.",
    prepare=_prep_ann_shared
)
def l_ann_index_recall(spark, sf_dir):
    path, e = _ann_shared_index(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    return (
        ann_index.index_recall(spark, path, e, queries, k=5, nprobe=4)
        .select(
            "query_id", "n_hits", F.round("recall", 6).alias("recall")
        )
        .orderBy("query_id")
    )


@_q(
    "l_ann_index_delete",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(range(1,65), i -> a.v[i] - c.cvec[i]) AS r
      FROM asg a JOIN cent c USING (cell)
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(t.r, js.j*8+1, js.j*8+8) AS sv
      FROM resid t, js
    ),"""
    + _PQ_SEEDS_SQL.format(subs="rsubs", cell_sel=", s.cell")
    + """,
    q AS (SELECT v FROM base WHERE vec_id = 0),
    probed AS (
      SELECT c.cell, c.cvec
      FROM cent c, q
      ORDER BY list_dot_product(q.v, c.cvec)
                 / (coalesce(nullif(sqrt(list_sum(
                        list_transform(q.v, x -> x*x))), 0), 1)
                    * coalesce(nullif(c.cnorm, 0), 1)) DESC,
               c.cell ASC
      LIMIT 4
    ),
    qres AS (
      SELECT p.cell,
             list_transform(range(1,65), i -> q.v[i] - p.cvec[i]) AS qr
      FROM probed p, q
    ),
    qrsubs AS (
      SELECT t.cell, js.j, list_slice(t.qr, js.j*8+1, js.j*8+8) AS sv
      FROM qres t, js
    ),
    dtab AS (
      SELECT qs.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qs.sv[i]-d.sv[i])*(qs.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qs JOIN seeds d ON qs.j = d.j
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      WHERE substr(md5(a.vec_id::VARCHAR || ':del'), 1, 1)
            NOT IN ('0', '1', '2', '3')
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ ANN index DELETE lifecycle: build the pinned persisted index "
    "on the full corpus, tombstone a deterministic ~1/4 md5-split of "
    "ids (index_delete — a tombstone epoch on the shared add/delete "
    "counter, never a rewrite of the data-sized code table), then "
    "search: the hidden ids must vanish from the ranking. The oracle "
    "replays the pinned build and simply excludes the deleted split "
    "from the ADC scoring — the tombstone anti-join must equal that "
    "filter exactly. Companion of l_ann_index_search (build) and "
    "l_ann_index_add (frozen-quantizer ingest).",
    prepare=_prep_ann_delete
)
def l_ann_index_delete(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]
    # base index session-cached (the BUILD phase — prepare= hook);
    # the tombstone batch lands at PINNED epoch 1 (overwrites itself
    # on a re-run — same deterministic answer off the cached base)
    path = _ann_private_index(spark, sf_dir, "del", e)
    dels = e.filter(
        F.substring(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":del"))),
            1, 1,
        ).isin("0", "1", "2", "3")
    ).select("vec_id")
    ann_index.index_delete(spark, path, dels, epoch=1)
    return ann_index.index_search(spark, path, q, k=10, nprobe=4).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


@_q(
    "l_temperature_mix",
    """
    WITH st AS (SELECT source, count(*)::BIGINT AS n_total
                FROM documents GROUP BY source),
    tot AS (SELECT list_reduce(list_sort(list(pow(n_total, 0.5))),
                            (a, b) -> a + b) AS s FROM st),
    q AS (
      SELECT source, n_total,
             floor(200 * pow(n_total, 0.5) / tot.s)::BIGINT AS quota
      FROM st, tot
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substr(md5(doc_id::VARCHAR || ':temp'), 1, 4) ASC,
                        doc_id ASC) AS rk
      FROM documents
    ),
    k AS (
      SELECT r.source, count(*)::BIGINT AS n_kept
      FROM r JOIN q USING (source) WHERE rk <= quota
      GROUP BY r.source
    )
    SELECT q.source, q.n_total, q.quota, k.n_kept
    FROM q JOIN k USING (source)
    ORDER BY source ASC NULLS FIRST
    """,
    "L6+ temperature-scaled source mixing (mT5/UniMax-style): per-"
    "source quota ∝ n^alpha (alpha=0.5 — upsamples tails, damps heads) "
    "against a 200-doc budget; quotas computed IN-PLAN from a 1-row "
    "power-sum broadcast, membership via the content-addressed "
    "quota_take (permanent per id). Distinct from l_source_mix's "
    "uniform-target quota",
)
def l_temperature_mix(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    # the power-sum feeds a FLOOR: a plain double sum's association
    # varies with the physical aggregation (AQE coalescing), and a
    # quota sitting on an integer boundary then flips run-to-run (one
    # observed sf0.1 selfcheck flake). Sorted sequential fold fixes
    # the association AND matches the oracle's identical fold
    # bit-for-bit, so the floor is deterministic in both engines.
    tot = st.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.pow("n_total", 0.5))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s")
    )
    q = (
        st.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_total",
            F.floor(200 * F.pow("n_total", 0.5) / F.col("s"))
            .cast("bigint")
            .alias("quota"),
        )
    )
    kept = sampling.quota_take(
        d.select("doc_id", "source"), "source", "doc_id",
        q.select("source", "quota"), salt="temp",
    )
    n_kept = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        q.join(n_kept, "source")
        .select("source", "n_total", "quota", "n_kept")
        .orderBy(F.col("source").asc_nulls_first())
    )


@_q(
    "l_winnow_fingerprint",
    """
    WITH t AS (SELECT doc_id, text FROM documents),
    gh AS (
      SELECT doc_id,
             CASE WHEN length(text) - 12 + 1 >= 1 THEN
               list_transform(range(1, length(text) - 12 + 2),
                 i -> list_reduce(
                        [strpos('0123456789abcdef', x) - 1
                         for x in string_split(
                             substr(md5(substr(text, i, 12)), 1, 15), '')],
                        (a, b) -> a * 16 + b))
             ELSE [] END AS gh
      FROM t
    ),
    fps AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(gh) >= 4 THEN
                 list_transform(range(1, len(gh) - 4 + 2),
                                i -> list_min(gh[i:i+3]))
               ELSE gh END)) AS fp
      FROM gh
    ),
    sh AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_fp,
           sum(CASE WHEN fp IN (SELECT fp FROM sh)
                    THEN 1 ELSE 0 END)::BIGINT AS n_shared_fp
    FROM fps GROUP BY doc_id
    ORDER BY doc_id ASC NULLS FIRST
    """,
    "L4 winnowing fingerprints (Schleimer et al. SIGMOD'03 / MOSS): "
    "k-gram (k=12) hash + window-min (w=4) selection — any >=15-char "
    "shared substring surfaces as a shared fingerprint while only "
    "~2/(w+1) of hashes are kept; per-doc shared-fingerprint counts "
    "are the copy-detection signal (operators/text.py:"
    "winnow_fingerprints)",
)
def l_winnow_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text.winnow_shared_stats(d, "doc_id", "text", k=12, w=4).orderBy(
        F.col("doc_id").asc_nulls_first()
    )


@_q(
    "l_incr_dedup_perm",
    _perm_minhash_cte()
    + """
    SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS matched_id
    FROM banded a JOIN banded b
      ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
     AND a.doc_id >= 400
     AND (b.doc_id < 400 OR b.doc_id < a.doc_id)
    ORDER BY doc_id NULLS FIRST, matched_id NULLS FIRST
    """,
    "L2 INCREMENTAL path on the PRODUCTION hash family: the same "
    "batch-vs-persisted-band-table dataflow as l_incr_dedup, but "
    "signatures come from the one-pass permutation fold (ONE base "
    "hash per shingle, 16 permutations folded in a single aggregate "
    "— the production cost profile), with the oracle replaying the "
    "LCG constants bit-for-bit",
)
def l_incr_dedup_perm(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    old_bands = dedup.minhash_band_table(
        d.filter(F.col("doc_id") < 400), "doc_id", "text", family="perm_md5"
    )
    new_bands = dedup.minhash_band_table(
        d.filter(F.col("doc_id") >= 400), "doc_id", "text", family="perm_md5"
    )
    return dedup.minhash_lsh_candidates_between(new_bands, old_bands).orderBy(
        F.col("doc_id").asc_nulls_first(), F.col("matched_id").asc_nulls_first()
    )


@_q(
    "u_except_all",
    """
    SELECT l_partkey FROM lineitem WHERE l_quantity > 40
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    ORDER BY l_partkey NULLS FIRST
    """,
    "U3+: EXCEPT ALL (multiset difference — each duplicate survives "
    "max(n_left - n_right, 0) times; the DISTINCT variant u_except "
    "can't express per-copy accounting). Spark plans exceptAll as an "
    "aggregate-count + generate replay, one shuffle per side",
)
def u_except_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 40).select("l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return a.exceptAll(b).orderBy(F.col("l_partkey").asc_nulls_first())


@_q(
    "g_mode",
    """
    SELECT o_orderpriority,
           ship AS mode_shipstatus,
           n AS mode_count
    FROM (
      SELECT o_orderpriority, o_orderstatus AS ship, count(*)::BIGINT AS n,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY count(*) DESC,
                                         o_orderstatus ASC) AS rk
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    WHERE rk = 1
    ORDER BY o_orderpriority ASC NULLS FIRST
    """,
    "G+: DETERMINISTIC mode (most frequent value per group, ties "
    "broken by value ascending) — built-in mode()'s tie winner is "
    "engine-private, so the portable form is the count+row_number "
    "compose: one (group, value) aggregate with map-side partials, "
    "then a window over the tiny per-group value stats",
)
def g_mode(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    win = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), F.col("o_orderstatus").asc()
    )
    return (
        counted.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_shipstatus"),
            F.col("n").alias("mode_count"),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_first())
    )


@_q(
    "w_nth_value",
    """
    SELECT DISTINCT o_custkey,
           nth_value(o_totalprice, 2) OVER (
             PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_highest
    FROM orders
    WHERE o_custkey < 200
    ORDER BY o_custkey ASC NULLS FIRST,
             second_highest ASC NULLS FIRST
    """,
    "W+: nth_value with a full frame — the second-highest order value "
    "per customer (null when fewer than 2 orders); deterministic via "
    "the o_orderkey tie-break. One shuffle on the key",
)
def w_nth_value(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    win = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            F.nth_value("o_totalprice", 2).over(win).alias("second_highest"),
        )
        .distinct()
        .orderBy(
            F.col("o_custkey").asc_nulls_first(),
            F.col("second_highest").asc_nulls_first(),
        )
    )


@_q(
    "k_revcomp",
    """
    SELECT doc_id,
           reverse(translate(text, 'ACGTacgtRYKMrykmBVDHbvdh',
                                   'TGCAtgcaYRMKyrmkVBHDvbhd')) AS revcomp,
           translate(text, 'Tt', 'Uu') AS rna
    FROM documents
    ORDER BY doc_id NULLS FIRST
    """,
    "K+: reverse complement (IUPAC-aware translate + reverse — the "
    "strand flip the reference's seq namespace lacks) and DNA->RNA "
    "transcription; both pure codegen string ops, zero shuffles",
)
def k_revcomp(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        sq.reverse_complement("text").alias("revcomp"),
        sq.transcribe("text").alias("rna"),
    ).orderBy(F.col("doc_id").asc_nulls_first())


def _codon_case_sql() -> str:
    """CASE mapping codon → amino acid generated from the SAME
    CODON_TABLE constant the Spark expression uses — one source of
    truth for both engines."""
    whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(sq.CODON_TABLE.items())
    )
    return f"CASE cod {whens} ELSE 'X' END"


@_q(
    "k_translate_protein",
    """
    WITH cod AS (
      SELECT doc_id, i, upper(substr(text, i, 3)) AS cod
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 2, 3)) AS i
            FROM documents WHERE length(text) >= 3)
    ),
    aa AS (SELECT doc_id, i, __CASE__ AS a FROM cod)
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(p.protein, '') END AS protein
    FROM documents d LEFT JOIN (
      SELECT doc_id, string_agg(a, '' ORDER BY i) AS protein
      FROM aa GROUP BY doc_id) p USING (doc_id)
    ORDER BY doc_id NULLS FIRST
    """.replace("__CASE__", _codon_case_sql()),
    "K+: frame-0 protein translation under the standard genetic code "
    "(NCBI table 1) — 64-entry MAP literal lookup per codon, pure "
    "codegen, ambiguity -> 'X', stops render '*'; oracle CASE is "
    "generated from the SAME CODON_TABLE constant",
)
def k_translate_protein(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        "doc_id", sq.translate_protein("text").alias("protein")
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "k_longest_orf",
    """
    WITH s6 AS (
      SELECT doc_id, strand, f,
             substr(CASE WHEN strand = 'F' THEN up ELSE rc END, f) AS fs
      FROM (SELECT doc_id, upper(text) AS up,
                   reverse(translate(upper(text),
                                     'ACGTRYKMBVDH', 'TGCAYRMKVBHD')) AS rc
            FROM documents),
           (VALUES ('F'), ('R')) strands(strand),
           (VALUES (1), (2), (3)) fr(f)
    ),
    cod AS (
      SELECT doc_id, strand, f, i, upper(substr(fs, i, 3)) AS cod
      FROM (SELECT *, unnest(generate_series(1, length(fs) - 2, 3)) AS i
            FROM s6 WHERE length(fs) >= 3)
    ),
    aa AS (SELECT doc_id, strand, f, i, __CASE__ AS a FROM cod),
    prot AS (
      SELECT doc_id, strand, f, string_agg(a, '' ORDER BY i) AS p
      FROM aa GROUP BY doc_id, strand, f
    ),
    hits AS (
      SELECT doc_id,
             unnest(regexp_extract_all(p, 'M[^*]*\\*')) AS m
      FROM prot
    ),
    best AS (SELECT doc_id, max(length(m)) * 3 AS orf
             FROM hits GROUP BY doc_id)
    SELECT d.doc_id,
           (CASE WHEN d.text IS NULL THEN NULL
                 ELSE coalesce(best.orf, 0) END)::BIGINT AS longest_orf
    FROM documents d LEFT JOIN best USING (doc_id)
    ORDER BY doc_id NULLS FIRST
    """.replace("__CASE__", _codon_case_sql()),
    "K+: longest open reading frame across all 6 frames (3 forward + "
    "3 reverse-complement), found in PROTEIN space ('M[^*]*\\\\*' per "
    "frame translation — the regex can't cross a stop, so per-frame "
    "maximal ORFs are exact); pure codegen after one parallelism "
    "repair of the scan (row-group-bound local files); oracle "
    "rebuilds all 6 frame proteins from the shared CODON_TABLE",
)
def k_longest_orf(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        "doc_id", sq.longest_orf("text").alias("longest_orf")
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "k_gc_skew",
    """
    SELECT doc_id,
           round((length(text) - length(replace(text, 'G', ''))
                  - (length(text) - length(replace(text, 'C', ''))))
                 / nullif((length(text) - length(replace(text, 'G', ''))
                           + length(text) - length(replace(text, 'C', '')))::DOUBLE,
                          0), 6) AS gc_skew
    FROM documents
    ORDER BY doc_id NULLS FIRST
    """,
    "K+: GC skew (G-C)/(G+C) — replication-origin strand asymmetry; "
    "translate-based char counts, null-guarded division, pure codegen",
)
def k_gc_skew(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(sq.gc_skew("text"), 6).alias("gc_skew")
    ).orderBy(F.col("doc_id").asc_nulls_first())


@_q(
    "k_n50",
    """
    WITH h AS (
      SELECT length(text)::BIGINT AS len, count(*)::BIGINT AS n
      FROM documents GROUP BY len
    ),
    tot AS (SELECT sum(len * n)::BIGINT AS total_bp,
                   sum(n)::BIGINT AS n_seqs FROM h),
    c AS (
      SELECT len,
             sum(len * n) OVER (ORDER BY len DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM h
    )
    SELECT tot.n_seqs, tot.total_bp,
           (SELECT max(len) FROM c, tot WHERE c.cum * 2 >= tot.total_bp)
             AS n50
    FROM tot
    """,
    "K+: N50 (assembly contiguity statistic — the length at which the "
    "cumulative sum of descending lengths crosses half the total "
    "bases), computed over the LENGTH HISTOGRAM so the window runs on "
    "distinct-length rows (bounded cardinality), never a global sort "
    "of the corpus; all comparisons exact integer (cum*2 >= total)",
)
def k_n50(spark, sf_dir):
    d = _tp(spark, sf_dir, "documents")
    h = d.groupBy(F.length("text").cast("bigint").alias("len")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = h.agg(
        F.sum(F.col("len") * F.col("n")).alias("total_bp"),
        F.sum("n").alias("n_seqs"),
    )
    w = Window.orderBy(F.col("len").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = h.select("len", F.sum(F.col("len") * F.col("n")).over(w).alias("cum"))
    n50 = (
        c.crossJoin(F.broadcast(tot.select("total_bp")))
        .filter(F.col("cum") * 2 >= F.col("total_bp"))
        .agg(F.max("len").alias("n50"))
    )
    return tot.crossJoin(F.broadcast(n50)).select("n_seqs", "total_bp", "n50")


# =====================================================================
# Snapshot diff (operators/diffing.py) + deterministic training-order
# shuffle (operators/sampling.py:deterministic_shuffle).
# =====================================================================

def _order_snapshots(spark, sf_dir):
    """Two deterministic versions of orders: v1 drops o_orderkey%101==0
    (those become 'added' in v2), v2 drops %97==0 ('removed') and bumps
    o_totalprice on %89==0 ('changed') — a sparse diff, the realistic
    shape (change volume << corpus)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 101 != 0)
    new = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    return old, new


_SNAPDIFF_ORACLE_CTE = """
    WITH oldv AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 101 <> 0
    ),
    newv AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    d AS (
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                      OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                      THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               o.o_orderstatus AS old_o_orderstatus,
               round(o.o_totalprice, 2) AS old_o_totalprice,
               n.o_orderstatus AS new_o_orderstatus,
               round(n.o_totalprice, 2) AS new_o_totalprice
        FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey
    )
"""


@_q(
    "l_snapshot_diff",
    _SNAPDIFF_ORACLE_CTE
    + """
    SELECT * FROM d WHERE change_type <> 'unchanged'
    ORDER BY o_orderkey NULLS FIRST
    """,
    "Corpus-release diff: rows added/removed/changed between two "
    "snapshots of orders, from ONE null-safe full-outer join on the "
    "key — unchanged rows drop before anything else, so output scales "
    "with the CHANGE volume (~3% here), not the corpus; drives "
    "incremental re-processing (re-embed only changed docs) and "
    "takedown audits (operators/diffing.py)",
)
def l_snapshot_diff(spark, sf_dir):
    from polars_fastx_spark.operators import diffing

    old, new = _order_snapshots(spark, sf_dir)
    d = diffing.snapshot_diff(old, new, ["o_orderkey"])
    return d.select(
        "o_orderkey", "change_type",
        "old_o_orderstatus",
        F.round("old_o_totalprice", 2).alias("old_o_totalprice"),
        "new_o_orderstatus",
        F.round("new_o_totalprice", 2).alias("new_o_totalprice"),
    ).orderBy(F.col("o_orderkey").asc_nulls_first())


@_q(
    "l_snapshot_diff_summary",
    _SNAPDIFF_ORACLE_CTE
    + """
    SELECT change_type, count(*) AS n FROM d
    GROUP BY change_type ORDER BY change_type
    """,
    "The release-note header: (change_type, n) counts incl. unchanged "
    "from the same single-join pass as l_snapshot_diff — the "
    "full-outer join shuffles once, counts aggregate map-side "
    "(operators/diffing.py:snapshot_diff_summary)",
)
def l_snapshot_diff_summary(spark, sf_dir):
    from polars_fastx_spark.operators import diffing

    old, new = _order_snapshots(spark, sf_dir)
    return diffing.snapshot_diff_summary(old, new, ["o_orderkey"])


@_q(
    "l_shuffle_shards",
    """
    WITH s AS (
        SELECT doc_id, md5(doc_id || ':train-epoch0') AS k
        FROM documents
    )
    SELECT substring(k, 1, 1) AS shard, count(*) AS n,
           arg_min(doc_id, k) AS first_doc, arg_max(doc_id, k) AS last_doc
    FROM s GROUP BY shard ORDER BY shard
    """,
    "Deterministic training-order shuffle, the scale-correct way: "
    "shard = md5 hex prefix, within-shard order = full md5 — one "
    "fixed pseudorandom permutation reproducible on any cluster size "
    "with NO global sort anywhere (write = repartition(shard) + "
    "sortWithinPartitions); per-shard count + first/last doc in "
    "training order; the salt picks the permutation (cheap per-epoch "
    "re-shuffle) (operators/sampling.py:deterministic_shuffle)",
)
def l_shuffle_shards(spark, sf_dir):
    d = sampling.deterministic_shuffle(
        _tp(spark, sf_dir, "documents").select("doc_id"),
        "doc_id", salt="train-epoch0", shards=16,
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("doc_id", "shuffle_key").alias("first_doc"),
            F.max_by("doc_id", "shuffle_key").alias("last_doc"),
        )
        .orderBy("shard")
    )


_CRAWLRANK_EDGES_WITH = (
    """
    WITH pages AS (
      SELECT doc_id,
        'https://' || source || '-pages.net/p/' || doc_id AS page_url,
        '<html><body><p>body</p>'
        || '<a href="HTTPS://WWW.src' || (doc_id % 7)
        || '-pages.NET:443/x/' || doc_id || '?utm_source=l">a</a>'
        || '<a class=x href=''https://src' || ((doc_id + 3) % 7)
        || '-pages.net/y''>b</a>'
        || '<a href="#frag">skip</a><a href="https://cdn.hub.org/'
        || (doc_id % 2) || '">c</a></body></html>' AS html
      FROM documents
    ),
    links AS (
      SELECT doc_id,
        unnest(regexp_extract_all(html,
          '(?is)<a[^>]+href\\s*=\\s*["'']([^"''#][^"'']*)["'']', 1))
          AS href
      FROM pages
    ),
    u AS (SELECT doc_id, href AS url FROM links),
    """
    + _URL_NORM_SQL
    + """,
    edges AS (
      SELECT DISTINCT doc.source || '-pages.net' AS src, d.domain AS dst
      FROM dom d JOIN documents doc USING (doc_id)
    )"""
)


#: private incremental link-graph index (the _ANN_PRIVATE pattern):
#: BUILD from release 1 + diff-driven SYNC to release 2 happen once
#: per session in prepare=; the query reads live edges only
_LINKGRAPH_PRIVATE: dict = {}


def _crawlrank_incr_pages(spark, sf_dir, release: int):
    """Two releases of the l_link_graph page synthesis: release 1
    lacks the doc_id%9==4 pages (they are ADDED in 2), release 2
    drops the %9==7 pages (REMOVED) and repoints the %9==2 pages'
    third link at cdn-two.hub.org (CHANGED) — all three diff classes,
    deterministic in both engines."""
    d = F.col("doc_id").cast("string")
    m9 = F.col("doc_id") % 9
    cdn = (
        F.when(m9 == 2, F.lit("cdn-two.hub.org")).otherwise(
            F.lit("cdn.hub.org")
        )
        if release == 2
        else F.lit("cdn.hub.org")
    )
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit("-pages.net/p/"), d
    )
    html = F.concat(
        F.lit("<html><body><p>body</p>"),
        F.lit('<a href="HTTPS://WWW.src'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("-pages.NET:443/x/"), d, F.lit('?utm_source=l">a</a>'),
        F.lit("<a class=x href='https://src"),
        ((F.col("doc_id") + 3) % 7).cast("string"),
        F.lit("-pages.net/y'>b</a>"),
        F.lit('<a href="#frag">skip</a><a href="https://'), cdn,
        F.lit("/"), (F.col("doc_id") % 2).cast("string"),
        F.lit('">c</a></body></html>'),
    )
    # doc_id%4==0 only (4 is coprime with the %9 diff classes, so
    # every add/remove/change lane stays populated): this row self-prepares
    # the whole build+sync lifecycle under the driver protocol, and
    # halving the page volume keeps the heaviest correctness row's
    # in-row cost bounded (round-7 verdict's What's-wrong #4) without
    # weakening the maintained==recomputed identity proof
    docs = _t(spark, sf_dir, "documents").filter(
        (m9 != (4 if release == 1 else 7)) & (F.col("doc_id") % 4 == 0)
    )
    src = F.concat(F.col("source"), F.lit("-pages.net"))
    return docs.select(
        "doc_id", page_url.alias("page_url"), html.alias("html"),
        src.alias("src"),
    )


def _crawlrank_incr_edges(pages):
    from polars_fastx_spark.functions import html as htmlf

    # src comes straight from the page synthesis (the oracle's
    # `doc.source || '-pages.net'` — page_url is built FROM it, so a
    # PSL pass over page_url would only re-derive a known value at
    # plan-compile + per-row cost); the PSL tier still proves itself
    # on the href side and in l_link_graph/l_crawl_rank
    links = pages.select(
        "doc_id", "src",
        F.explode(htmlf.html_links("html")).alias("href"),
    )
    links = pslf.with_registrable_domain(
        links, urlsf.normalize_url("href"), out="dst"
    )
    # coalesce: a quarter-sized fixture graph written through 32
    # shuffle partitions pays ~30 empty-task overheads per epoch write
    # and read; 4 partitions is still parallel and an 8x task cut
    return links.select(
        F.col("doc_id").alias("page_key"), "src", "dst"
    ).coalesce(4)


def _prep_linkgraph_incr(spark, sf_dir):
    from polars_fastx_spark.operators import linkgraph
    from polars_fastx_spark.operators.diffing import snapshot_diff

    if _LINKGRAPH_PRIVATE.get((sf_dir, "done")):
        return
    import tempfile

    path = _LINKGRAPH_PRIVATE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_linkgraph_")
        _LINKGRAPH_PRIVATE[sf_dir] = path
    v1 = _crawlrank_incr_pages(spark, sf_dir, 1)
    v2 = _crawlrank_incr_pages(spark, sf_dir, 2)
    linkgraph.edge_index_build(_crawlrank_incr_edges(v1), path)
    d = snapshot_diff(v1, v2, ["doc_id"], ["html"]).withColumnRenamed(
        "doc_id", "page_key"
    )
    linkgraph.edge_index_sync(path, d, _crawlrank_incr_edges(v2))
    _LINKGRAPH_PRIVATE[(sf_dir, "done")] = True


_CRAWLRANK_INCR_EDGES_WITH = (
    """
    WITH pages AS (
      SELECT doc_id,
        'https://' || source || '-pages.net/p/' || doc_id AS page_url,
        '<html><body><p>body</p>'
        || '<a href="HTTPS://WWW.src' || (doc_id % 7)
        || '-pages.NET:443/x/' || doc_id || '?utm_source=l">a</a>'
        || '<a class=x href=''https://src' || ((doc_id + 3) % 7)
        || '-pages.net/y''>b</a>'
        || '<a href="#frag">skip</a><a href="https://'
        || (CASE WHEN doc_id % 9 = 2 THEN 'cdn-two.hub.org'
                 ELSE 'cdn.hub.org' END)
        || '/' || (doc_id % 2) || '">c</a></body></html>' AS html
      FROM documents
      WHERE doc_id % 9 <> 7 AND doc_id % 4 = 0
    ),
    links AS (
      SELECT doc_id,
        unnest(regexp_extract_all(html,
          '(?is)<a[^>]+href\\s*=\\s*["'']([^"''#][^"'']*)["'']', 1))
          AS href
      FROM pages
    ),
    u AS (SELECT doc_id, href AS url FROM links),
    """
    + _URL_NORM_SQL
    + """,
    edges AS (
      SELECT DISTINCT doc.source || '-pages.net' AS src, d.domain AS dst
      FROM dom d JOIN documents doc USING (doc_id)
    )"""
)


@_q(
    "l_crawl_rank_incr",
    _pagerank_oracle(
        iterations=2,
        edges_with=_CRAWLRANK_INCR_EDGES_WITH,
        final_select="""
    SELECT node AS domain, round(rank, 7) AS rank FROM r2
    ORDER BY round(rank, 7) DESC, domain ASC LIMIT 20
    """,
    ),
    "L-crawl: INCREMENTAL domain authority (operators/linkgraph.py) — "
    "release 1 builds the epoch-partitioned per-page edge index; "
    "snapshot_diff of the page tables drives edge_index_sync "
    "(tombstone removed|changed pages, append added|changed pages' "
    "edges — both writes delta-sized, history never re-extracted), "
    "then PageRank runs over live_edges. The oracle recomputes "
    "release 2's graph FROM SCRATCH and unrolls the same 2 power "
    "rounds (2, not 4: the identity proof is about the GRAPH the "
    "sync maintained, and every extra round only re-iterates the "
    "already-proven graph — this row self-prepares build+sync under "
    "the driver protocol and stays cheap), so a green row PROVES "
    "maintained == recomputed — the "
    "exactness the incremental lane rests on (same pattern as ANN "
    "index_sync). Re-extraction scales with the crawl delta; only "
    "the bounded domain graph re-iterates (warm-startable via "
    "pagerank(init_ranks=...), cold==warm parity pytest-pinned)",
    prepare=_prep_linkgraph_incr,
)
def l_crawl_rank_incr(spark, sf_dir):
    from polars_fastx_spark.operators import linkgraph
    from polars_fastx_spark.operators.graph import pagerank

    _prep_linkgraph_incr(spark, sf_dir)
    edges = (
        linkgraph.live_edges(spark, _LINKGRAPH_PRIVATE[sf_dir])
        .select("src", "dst")
        .distinct()
    )
    ranks = pagerank(edges, iterations=2)
    return (
        ranks.select(
            F.col("node").alias("domain"), F.round("rank", 7).alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("domain").asc_nulls_first())
        .limit(20)
    )


@_q(
    "l_crawl_rank",
    _pagerank_oracle(
        edges_with=_CRAWLRANK_EDGES_WITH,
        final_select="""
    SELECT node AS domain, round(rank, 7) AS rank FROM r4
    ORDER BY round(rank, 7) DESC, domain ASC LIMIT 20
    """,
    ),
    "L-crawl: domain AUTHORITY — the l_link_graph edges (same page "
    "synthesis: html_links → normalize_url → registrable domain) fed "
    "into the iterative PageRank engine (operators/graph.py), the "
    "full crawl→graph→quality-prior composition; the domain graph is "
    "naturally bounded (domains, not pages), so ranking cost is "
    "decoupled from corpus size — extraction scans scale, iteration "
    "does not; the cdn sink exercises the dangling-mass path. Oracle "
    "= link-graph CTEs + the same 4 unrolled power-method rounds.",
)
def l_crawl_rank(spark, sf_dir):
    from polars_fastx_spark.operators.graph import pagerank

    lg = QUERIES["l_link_graph"].fn(spark, sf_dir)
    edges = lg.select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    ).distinct()
    ranks = pagerank(edges, iterations=4)
    return (
        ranks.select(
            F.col("node").alias("domain"), F.round("rank", 7).alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("domain").asc_nulls_first())
        .limit(20)
    )


def _anchor_oracle_sql() -> str:
    """DuckDB replay of html_anchors → per-target-domain anchor-text
    counts, BUILT FROM the module's anchor/href regexes and entity
    table so the chains cannot drift (the _html_strip_sql pattern)."""
    from polars_fastx_spark.functions import html as _html

    anchor_rx = _html._ANCHOR_RX.replace("'", "''")
    href_rx = _html._HREF_RX.replace("'", "''")
    inner = "regexp_extract(anc, '(?is)^<a[^>]*>(.*)</a>$', 1)"
    txt = f"regexp_replace({inner}, '(?s)<[^>]*>', ' ', 'g')"
    txt = _html_entities_sql(txt)
    txt = f"trim(regexp_replace({txt}, '\\s+', ' ', 'g'))"
    psl_rules = pslf.psl_rules_values_sql()
    psl_dom = pslf.psl_domain_sql("host")
    return f"""
    WITH pages AS (
      SELECT doc_id,
        '<html><body><a href="https://src' || (doc_id % 7)
        || '-pages.net/x">read &amp; <b>more ' || (doc_id % 3)
        || '</b></a> mid <a class=y href=''https://cdn.hub.org/f''>get '
        || '<i>file</i>&nbsp;now</a>'
        || '<a href="#top">skip</a></body></html>' AS html
      FROM documents
    ),
    a AS (
      SELECT doc_id,
             unnest(regexp_extract_all(html, '{anchor_rx}', 0)) AS anc
      FROM pages
    ),
    t AS (
      SELECT regexp_extract(anc, '{href_rx}', 1) AS href,
             {txt} AS anchor_text
      FROM a
    ),
    hostd AS (
      SELECT regexp_replace(lower(coalesce(
               regexp_extract(href,
                 '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]+)', 1), '')),
               ':[0-9]+$', '') AS host, anchor_text
      FROM t
    ),
    {psl_rules},
    domd AS (
      SELECT {psl_dom} AS dst_domain,
             anchor_text
      FROM hostd
    )
    SELECT dst_domain, anchor_text, count(*)::BIGINT AS n
    FROM domd GROUP BY 1, 2
    ORDER BY dst_domain, anchor_text
    """


@_q(
    "l_anchor_text",
    _anchor_oracle_sql(),
    "L-crawl: ANCHOR TEXT per target domain — html_anchors pairs each "
    "href with its link text (inline markup stripped, entities "
    "decoded), the web-IR description of the TARGET page other pages "
    "wrote (a quality/relevance prior the target can't spin), "
    "aggregated to (dst_domain, anchor_text, n); extraction is "
    "row-local codegen, the only exchange is the final groupBy — the "
    "text companion to the l_link_graph edges",
)
def l_anchor_text(spark, sf_dir):
    from polars_fastx_spark.functions import html as htmlf

    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://src'),
        (d % 7).cast("string"),
        F.lit('-pages.net/x">read &amp; <b>more '),
        (d % 3).cast("string"),
        F.lit(
            "</b></a> mid <a class=y href='https://cdn.hub.org/f'>get "
            "<i>file</i>&nbsp;now</a>"
        ),
        F.lit('<a href="#top">skip</a></body></html>'),
    )
    pages = _t(spark, sf_dir, "documents").select(html.alias("html"))
    anc = pages.select(F.explode(htmlf.html_anchors("html")).alias("a"))
    return (
        pslf.with_registrable_domain(
            anc, F.col("a.href"), out="dst_domain"
        )
        .select("dst_domain", F.col("a.text").alias("anchor_text"))
        .groupBy("dst_domain", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dst_domain", "anchor_text")
    )


def _ann_sync_snapshots(spark, sf_dir):
    """(old, new) corpus snapshots for the sync lifecycle query: the
    md5(:sync) first hex digit classifies each id — 'f' rows are
    DROPPED in the new release, '0' rows have their vector CHANGED
    (x*2+1), 'e' rows spawn an ADDED twin at vec_id+100000 with a
    shifted vector (x+0.5); everything derived relationally so the
    DuckDB oracle replays byte-for-byte."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    h = F.substring(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":sync"))),
        1, 1,
    )
    kept = e.filter(h != "f").select(
        "vec_id",
        F.when(h == "0", F.transform("v", lambda x: x * 2.0 + 1.0))
        .otherwise(F.col("v"))
        .alias("v"),
    )
    added = e.filter(h == "e").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: x + 0.5).alias("v"),
    )
    return e, kept.unionByName(added)


def _prep_ann_sync(spark, sf_dir):
    old, _ = _ann_sync_snapshots(spark, sf_dir)
    _ann_private_index(spark, sf_dir, "sync", old)


@_q(
    "l_ann_index_sync",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    newv AS (
      SELECT vec_id,
             CASE WHEN substr(md5(vec_id::VARCHAR || ':sync'), 1, 1) = '0'
                  THEN list_transform(v, x -> x*2 + 1) ELSE v END AS v
      FROM base
      WHERE substr(md5(vec_id::VARCHAR || ':sync'), 1, 1) <> 'f'
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(v, x -> x + 0.5) AS v
      FROM base
      WHERE substr(md5(vec_id::VARCHAR || ':sync'), 1, 1) = 'e'
    ),
    cent AS (
      SELECT md5(vec_id::VARCHAR) AS cell, v AS cvec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS cnorm
      FROM base ORDER BY cell LIMIT 16
    ),
    js AS (SELECT unnest(range(8))::INT AS j),
    asg_old AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM base b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    rsubs_old AS (
      SELECT t.vec_id, js.j,
             list_slice(list_transform(range(1,65),
               i -> t.v[i] - c.cvec[i]), js.j*8+1, js.j*8+8) AS sv
      FROM asg_old t JOIN cent c USING (cell), js
    ),
    seeds AS (
      SELECT j, c, sv FROM (
        SELECT j, sv,
               row_number() OVER (PARTITION BY j
                 ORDER BY md5(vec_id::VARCHAR || ':' || j::VARCHAR)) - 1 AS c
        FROM rsubs_old
      ) WHERE c < 8
    ),
    asg AS (
      SELECT b.vec_id, b.v,
             arg_max(c.cell,
               list_dot_product(b.v, c.cvec)
                 / nullif(sqrt(list_sum(list_transform(b.v, x -> x*x)))
                          * c.cnorm, 0)
             ) AS cell
      FROM newv b CROSS JOIN cent c
      GROUP BY b.vec_id, b.v
    ),
    rsubs AS (
      SELECT t.vec_id, t.cell, js.j,
             list_slice(list_transform(range(1,65),
               i -> t.v[i] - c.cvec[i]), js.j*8+1, js.j*8+8) AS sv
      FROM asg t JOIN cent c USING (cell), js
    ),
    assigned AS (
      SELECT s.vec_id, s.cell, s.j,
             arg_min(d.c,
               list_sum(list_transform(range(1,9),
                 i -> (s.sv[i]-d.sv[i])*(s.sv[i]-d.sv[i])))) AS c
      FROM rsubs s JOIN seeds d USING (j)
      GROUP BY s.vec_id, s.cell, s.j
    ),
    q AS (SELECT v FROM base WHERE vec_id = 0),
    probed AS (
      SELECT c.cell, c.cvec
      FROM cent c, q
      ORDER BY list_dot_product(q.v, c.cvec)
                 / (coalesce(nullif(sqrt(list_sum(
                        list_transform(q.v, x -> x*x))), 0), 1)
                    * coalesce(nullif(c.cnorm, 0), 1)) DESC,
               c.cell ASC
      LIMIT 4
    ),
    qrsubs AS (
      SELECT p.cell, js.j,
             list_slice(list_transform(range(1,65),
               i -> q.v[i] - p.cvec[i]), js.j*8+1, js.j*8+8) AS sv
      FROM probed p, q, js
    ),
    dtab AS (
      SELECT qs.cell, d.j, d.c,
             list_sum(list_transform(range(1,9),
               i -> (qs.sv[i]-d.sv[i])*(qs.sv[i]-d.sv[i]))) AS dist
      FROM qrsubs qs JOIN seeds d ON qs.j = d.j
    ),
    adc AS (
      SELECT a.vec_id, sum(t.dist) AS raw
      FROM assigned a
      JOIN dtab t ON a.cell = t.cell AND a.j = t.j AND a.c = t.c
      GROUP BY a.vec_id
    )
    SELECT vec_id, round(raw, 6) AS adc_dist
    FROM adc ORDER BY raw ASC, vec_id ASC LIMIT 10
    """,
    "L3+ ANN INDEX SYNC: the index (built on the OLD release) is "
    "synced to a NEW corpus release via snapshot_diff — dropped ids "
    "('f' hex class) tombstone, changed vectors ('0' class, x*2+1) "
    "re-encode, added twins ('e' class at vec_id+100000) encode, all "
    "against the FROZEN quantizers at pinned epochs (a replayed sync "
    "overwrites itself). The oracle trains cells+seeds on the OLD "
    "corpus but codes the NEW live set — frozen-quantizer routing — "
    "and the search must see exactly the post-sync membership. The "
    "diff-driven composition of l_snapshot_diff with the index "
    "lifecycle (operators/ann_index.py:index_sync).",
    prepare=_prep_ann_sync
)
def l_ann_index_sync(spark, sf_dir):
    old, new = _ann_sync_snapshots(spark, sf_dir)
    q = [float(x) for x in old.filter(F.col("vec_id") == 0).first()["v"]]
    path = _ann_private_index(spark, sf_dir, "sync", old)
    ann_index.index_sync(old, new, "v", path, epoch=1)
    return ann_index.index_search(spark, path, q, k=10, nprobe=4).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


@_q(
    "l_diff_apply",
    """
    WITH newv AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice
    FROM newv WHERE o_orderkey % 50 = 0
    ORDER BY o_orderkey NULLS FIRST
    """,
    "CDC roundtrip invariant, hash-checked: the Spark side replays "
    "snapshot_diff(old, new) onto OLD (apply_diff: one broadcast "
    "anti-join of the change-sized diff + a union of new_* payloads) "
    "while the oracle computes NEW directly — value-hash equality IS "
    "the reconstruction proof; invert_diff gives the same machinery "
    "rollback for free (operators/diffing.py:apply_diff/invert_diff)",
)
def l_diff_apply(spark, sf_dir):
    from polars_fastx_spark.operators import diffing

    old, new = _order_snapshots(spark, sf_dir)
    d = diffing.snapshot_diff(old, new, ["o_orderkey"])
    rec = diffing.apply_diff(old, d, ["o_orderkey"])
    return (
        rec.filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey", "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .orderBy(F.col("o_orderkey").asc_nulls_first())
    )


@_q(
    "l_release_drift",
    """
    WITH oldv AS (SELECT source FROM documents WHERE doc_id % 101 <> 0),
    newv AS (SELECT source FROM documents WHERE doc_id % 97 <> 0),
    o AS (SELECT source, count(*) AS n_old FROM oldv GROUP BY source),
    n AS (SELECT source, count(*) AS n_new FROM newv GROUP BY source),
    tot AS (SELECT (SELECT count(*) FROM oldv)::DOUBLE AS t_old,
                   (SELECT count(*) FROM newv)::DOUBLE AS t_new),
    j AS (
      SELECT coalesce(o.source, n.source) AS source,
             coalesce(o.n_old, 0) AS n_old, coalesce(n.n_new, 0) AS n_new
      FROM o FULL OUTER JOIN n ON o.source = n.source
    )
    SELECT source, n_old, n_new,
           round(n_old / t_old, 6) AS share_old,
           round(n_new / t_new, 6) AS share_new,
           round(abs(n_new / t_new - n_old / t_old), 6) AS tv_term,
           round(CASE WHEN n_new > 0 AND n_old > 0
                      THEN (n_new / t_new) * ln((n_new / t_new)
                                                / (n_old / t_old))
                      ELSE NULL END, 6) AS kl_term
    FROM j, tot
    ORDER BY source NULLS FIRST
    """,
    "Release-QA drift gate: per-source corpus mix of two releases "
    "side by side with total-variation and KL(new||old) contribution "
    "terms — the statistical check a corpus release runs before "
    "shipping (a silently shifted source mix changes model behavior "
    "as surely as bad rows). Two map-side-combined counts + a "
    "source-level full-outer join + 1-row totals broadcast; corpus "
    "scans never co-shuffle. Per-source terms rather than one scalar "
    "so the gate can NAME the drifting source.",
)
def l_release_drift(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    old = d.filter(F.col("doc_id") % 101 != 0)
    new = d.filter(F.col("doc_id") % 97 != 0)
    o = old.groupBy("source").agg(F.count(F.lit(1)).alias("n_old"))
    n = new.groupBy("source").agg(F.count(F.lit(1)).alias("n_new"))
    tot = o.agg(F.sum("n_old").cast("double").alias("t_old")).crossJoin(
        n.agg(F.sum("n_new").cast("double").alias("t_new"))
    )
    j = (
        o.join(n, "source", "full_outer")
        .select(
            "source",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .crossJoin(F.broadcast(tot))
    )
    so = F.col("n_old") / F.col("t_old")
    sn = F.col("n_new") / F.col("t_new")
    return j.select(
        "source", "n_old", "n_new",
        F.round(so, 6).alias("share_old"),
        F.round(sn, 6).alias("share_new"),
        F.round(F.abs(sn - so), 6).alias("tv_term"),
        F.round(
            F.when(
                (F.col("n_new") > 0) & (F.col("n_old") > 0),
                sn * F.log(sn / so),
            ),
            6,
        ).alias("kl_term"),
    ).orderBy(F.col("source").asc_nulls_first())


@_q(
    "l_crawl_frontier",
    _CRAWLRANK_EDGES_WITH.replace(
        """,
    edges AS (
      SELECT DISTINCT doc.source || '-pages.net' AS src, d.domain AS dst
      FROM dom d JOIN documents doc USING (doc_id)
    )""",
        """,
    crawled AS (
      SELECT DISTINCT 'https://' || source || '-pages.net/p/' || doc_id
               AS url
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT d.norm_url AS url, d.domain
      FROM dom d
      WHERE d.norm_url NOT IN (SELECT url FROM crawled)
    ),
    ranked AS (
      SELECT domain, url,
             row_number() OVER (PARTITION BY domain
               ORDER BY md5(url), url) AS rn
      FROM cand
    )
    SELECT domain, url FROM ranked WHERE rn <= 2
    ORDER BY domain, url
    """,
    ),
    "L-crawl: FRONTIER discovery — every canonicalized outlink not "
    "already crawled (distinct + anti-join on the url key; the crawled "
    "set is corpus-sized, so this is a key shuffle, never a "
    "broadcast), then the politeness budget: at most 2 fetch "
    "candidates per registrable domain via the mega-domain-safe "
    "domain_cap (md5-deterministic survivors, so every crawler "
    "replica picks the SAME frontier without coordination) — the "
    "crawl-loop step that turns the link graph back into work",
)
def l_crawl_frontier(spark, sf_dir):
    from polars_fastx_spark.functions import html as htmlf

    d = F.col("doc_id").cast("string")
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit("-pages.net/p/"), d
    )
    html = F.concat(
        F.lit("<html><body><p>body</p>"),
        F.lit('<a href="HTTPS://WWW.src'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("-pages.NET:443/x/"), d, F.lit('?utm_source=l">a</a>'),
        F.lit("<a class=x href='https://src"),
        ((F.col("doc_id") + 3) % 7).cast("string"),
        F.lit("-pages.net/y'>b</a>"),
        F.lit('<a href="#frag">skip</a><a href="https://cdn.hub.org/'),
        (F.col("doc_id") % 2).cast("string"),
        F.lit('">c</a></body></html>'),
    )
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(page_url.alias("page_url"), html.alias("html"))
    cand = (
        pages.select(F.explode(htmlf.html_links("html")).alias("href"))
        .select(urlsf.normalize_url("href").alias("url"))
        .distinct()
    )
    # the crawled set is corpus-sized: anti-join on the url key (AQE
    # may still broadcast at small SF, but the plan must not FORCE it)
    crawled = docs.select(page_url.alias("url")).distinct()
    frontier = cand.join(crawled, "url", "left_anti")
    capped = urlsf.domain_cap(frontier, "url", cap=2)
    return (
        pslf.with_registrable_domain(capped, "url", out="domain")
        .select("domain", "url")
        .orderBy("domain", "url")
    )


#: private (mutating) containment index for the takedown query — the
#: _ANN_PRIVATE pattern: pinned tombstone epochs make re-runs answer
#: identically off the cached base instead of paying the build
_CONTAIN_PRIVATE: dict = {}


def _containment_private_index(spark, sf_dir):
    import tempfile

    from polars_fastx_spark import epochs

    path = _CONTAIN_PRIVATE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_contain_del_")
        _CONTAIN_PRIVATE[sf_dir] = path
    if not (
        epochs.committed(spark, f"{path}/meta")
        and epochs.committed_epochs(spark, f"{path}/postings")
    ):
        hist = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 != 0
        )
        dedup.containment_index_build(hist, "doc_id", "text", path, k=8)
    return path


def _prep_containment_delete(spark, sf_dir):
    _containment_private_index(spark, sf_dir)


@_q(
    "l_containment_delete",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, length(text) - 7),
               i -> substr(text, i, 8)))) AS shingle
      FROM documents
    ),
    hp AS (SELECT doc_id AS matched_id, shingle FROM sh
           WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0),
    bp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 3 = 0),
    hs AS (SELECT matched_id, count(*) AS size_hist FROM hp GROUP BY 1),
    bs AS (SELECT doc_id, count(*) AS size_batch FROM bp GROUP BY 1),
    nd AS (SELECT count(*) AS n FROM hs),
    hdf AS (SELECT shingle, count(*) AS df FROM hp GROUP BY shingle),
    hpc AS (
      SELECT h.matched_id, h.shingle
      FROM hp h JOIN hdf d USING (shingle), nd
      WHERE d.df <= floor(0.04 * nd.n)
    ),
    common AS (
      SELECT b.doc_id, h.matched_id, count(*) AS common
      FROM bp b JOIN hpc h USING (shingle)
      GROUP BY 1, 2
    )
    SELECT doc_id, matched_id, common, size_batch, size_hist,
           round(common::DOUBLE / size_batch, 6) AS containment_batch_in_hist,
           round(common::DOUBLE / size_hist, 6) AS containment_hist_in_batch,
           round(greatest(common::DOUBLE / size_batch,
                          common::DOUBLE / size_hist), 6) AS max_containment
    FROM common JOIN bs USING (doc_id) JOIN hs USING (matched_id)
    WHERE greatest(common::DOUBLE / size_batch,
                   common::DOUBLE / size_hist) >= 0.15
    ORDER BY doc_id, matched_id
    """,
    "L2: containment-index TAKEDOWN — history docs with doc_id%5==0 "
    "are tombstoned out (containment_index_delete at a PINNED epoch: "
    "re-runs overwrite themselves) and the gate's evidence must be "
    "exactly an index built WITHOUT them: hidden postings/sizes gone "
    "AND the maintained per-shingle df corrected by counting the "
    "hidden rows, which shifts the fractional boilerplate cap's "
    "allowed set (the oracle recomputes df and the cap from the "
    "post-delete history). The containment twin of l_ann_index_delete",
    prepare=_prep_containment_delete
)
def l_containment_delete(spark, sf_dir):
    path = _containment_private_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    dead = docs.filter(
        (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 0)
    ).select("doc_id")
    dedup.containment_index_delete(spark, path, dead, epoch=1)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return (
        dedup.containment_hits(
            batch, path, "text", threshold=0.15, max_shingle_df=0.04
        )
        .select(
            "doc_id", "matched_id", "common", "size_batch", "size_hist",
            F.round("containment_batch_in_hist", 6).alias(
                "containment_batch_in_hist"
            ),
            F.round("containment_hist_in_batch", 6).alias(
                "containment_hist_in_batch"
            ),
            F.round("max_containment", 6).alias("max_containment"),
        )
        .orderBy("doc_id", "matched_id")
    )


#: private manifest table for the snapshot-isolated MERGE lifecycle
#: query (the _ANN_PRIVATE pattern): the full create → upsert →
#: delete sequence runs ONCE per session; the query reads the
#: committed snapshot, which must equal the oracle's from-scratch
#: recomputation — maintained == recomputed.
_MANIFEST_PRIVATE: dict = {}


def _manifest_private_table(spark, sf_dir):
    import tempfile

    from polars_fastx_spark.operators import manifest as mf

    path = _MANIFEST_PRIVATE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_manifest_")
        _MANIFEST_PRIVATE[sf_dir] = path
    if mf.current_version(spark, path) is None:
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", F.col("source").alias("src"), "n_chars",
        )
        base = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
            "rev", F.lit(1000).cast("long")
        )
        mf.create_table(spark, path, base, "src")
        batch = (
            docs.filter(F.col("doc_id") % 7 == 3)
            .unionByName(
                docs.filter(F.col("doc_id") % 7 == 0).withColumn(
                    "n_chars", F.col("n_chars") + 1000
                )
            )
            .withColumn("rev", F.lit(2000).cast("long"))
        )
        mf.upsert_table(spark, path, batch, ["doc_id"], "rev")
        dead = docs.filter(F.col("doc_id") % 7 == 5).select(
            "doc_id", "src"
        )
        mf.delete_keys_table(spark, path, dead, ["doc_id"])
    return path


def _prep_manifest_merge(spark, sf_dir):
    _manifest_private_table(spark, sf_dir)


@_q(
    "l_manifest_merge",
    """
    SELECT doc_id, source AS src,
           CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
                ELSE n_chars END AS n_chars,
           CASE WHEN doc_id % 7 IN (0, 3) THEN 2000
                ELSE 1000 END::BIGINT AS rev
    FROM documents
    WHERE doc_id % 7 <> 5
    ORDER BY doc_id
    """,
    "L-write: SNAPSHOT-ISOLATED MERGE lifecycle (operators/"
    "manifest.py) — create a manifest-pointer table (immutable "
    "version dirs, one atomic _CURRENT rename as the only commit "
    "point), UPSERT a batch (adds + updates, last-writer-wins on "
    "rev), DELETE a key set; the query reads the committed snapshot "
    "and the oracle recomputes the final state from scratch, so a "
    "green row proves maintained == recomputed across the whole "
    "lifecycle. Untouched partitions keep their original dirs "
    "(manifest repointing, no rewrite), and racing readers see "
    "old-or-new, never mixed — the table-format guarantee "
    "dynamic-partition-overwrite cannot give",
    prepare=_prep_manifest_merge
)
def l_manifest_merge(spark, sf_dir):
    from polars_fastx_spark.operators import manifest as mf

    path = _manifest_private_table(spark, sf_dir)
    return mf.read_table(spark, path).select(
        "doc_id", "src", "n_chars", "rev"
    ).orderBy("doc_id")


#: private manifest table for the TIME-TRAVEL lane: create(v1) →
#: bad upsert(v2) → rollback to v1 (v3 — a new commit repointing at
#: v1's immutable dirs, zero data movement) → good upsert(v4). The
#: query reads the CURRENT state joined with read_table(version=2),
#: so a green row proves both that the rollback landed (the bad
#: batch is absent from current) and that the superseded v2 snapshot
#: stays exactly readable after later commits.
_MANIFEST_TRAVEL: dict = {}


def _manifest_travel_table(spark, sf_dir):
    import tempfile

    from polars_fastx_spark.operators import manifest as mf

    path = _MANIFEST_TRAVEL.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_manifest_tt_")
        _MANIFEST_TRAVEL[sf_dir] = path
    if mf.current_version(spark, path) is None:
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", F.col("source").alias("src"), "n_chars",
        )
        base = docs.withColumn("rev", F.lit(1000).cast("long"))
        mf.create_table(spark, path, base, "src")
        bad = (
            docs.filter(F.col("doc_id") % 7 == 0)
            .withColumn("n_chars", F.col("n_chars") + 2000)
            .withColumn("rev", F.lit(2000).cast("long"))
        )
        mf.upsert_table(spark, path, bad, ["doc_id"], "rev")  # v2
        mf.rollback(spark, path, 1)  # v3: the bad batch undone
        good = (
            docs.filter(F.col("doc_id") % 7 == 1)
            .withColumn("n_chars", F.col("n_chars") + 500)
            .withColumn("rev", F.lit(3000).cast("long"))
        )
        mf.upsert_table(spark, path, good, ["doc_id"], "rev")  # v4
    return path


def _prep_manifest_travel(spark, sf_dir):
    _manifest_travel_table(spark, sf_dir)


@_q(
    "l_manifest_travel",
    """
    SELECT doc_id, source AS src,
      CASE WHEN doc_id % 7 = 1 THEN n_chars + 500
           ELSE n_chars END AS n_chars,
      CASE WHEN doc_id % 7 = 1 THEN 3000
           ELSE 1000 END::BIGINT AS rev,
      CASE WHEN doc_id % 7 = 0 THEN n_chars + 2000
           ELSE n_chars END AS n_chars_v2,
      CASE WHEN doc_id % 7 = 0 THEN 2000
           ELSE 1000 END::BIGINT AS rev_v2
    FROM documents
    ORDER BY doc_id
    """,
    "L-write: manifest TIME TRAVEL + ROLLBACK (operators/manifest.py"
    ":read_table(version=), rollback — round-9 #3): the lifecycle "
    "commits a bad batch (v2), rolls back to v1 (v3 = a NEW commit "
    "whose manifest repoints at v1's immutable dirs — one manifest "
    "write + one _CURRENT rename, zero data movement, history stays "
    "monotonic so pinned readers of any version survive), then lands "
    "a good batch (v4). The query joins the CURRENT snapshot with "
    "read_table(version=2); the oracle recomputes both states from "
    "scratch — a green row proves the rollback landed AND the "
    "superseded snapshot stays byte-exactly readable after later "
    "commits (vacuum keep_versions bounds that window; pytest "
    "covers reclamation)",
    prepare=_prep_manifest_travel
)
def l_manifest_travel(spark, sf_dir):
    from polars_fastx_spark.operators import manifest as mf

    path = _manifest_travel_table(spark, sf_dir)
    cur = mf.read_table(spark, path).select(
        "doc_id", "src", "n_chars", "rev"
    )
    v2 = mf.read_table(spark, path, version=2).select(
        "doc_id",
        F.col("n_chars").alias("n_chars_v2"),
        F.col("rev").alias("rev_v2"),
    )
    return cur.join(v2, "doc_id").select(
        "doc_id", "src", "n_chars", "rev", "n_chars_v2", "rev_v2"
    ).orderBy("doc_id")


#: private manifest table for the SCHEMA-EVOLUTION lane: create →
#: widened upsert (new `score` column, evolve_schema=True) → narrow
#: upsert (no score). Untouched partitions keep old-schema files;
#: the read reconciles by name.
_MANIFEST_EVOLVE: dict = {}


def _manifest_evolve_table(spark, sf_dir):
    import tempfile

    from polars_fastx_spark.operators import manifest as mf

    path = _MANIFEST_EVOLVE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_manifest_ev_")
        _MANIFEST_EVOLVE[sf_dir] = path
    if mf.current_version(spark, path) is None:
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", F.col("source").alias("src"), "n_chars",
        )
        base = docs.withColumn("rev", F.lit(1000).cast("long"))
        mf.create_table(spark, path, base, "src")
        widened = (
            docs.filter(F.col("doc_id") % 5 == 0)
            .withColumn("rev", F.lit(2000).cast("long"))
            .withColumn(
                "score", (F.col("doc_id") % 7).cast("double") / 10
            )
        )
        mf.upsert_table(
            spark, path, widened, ["doc_id"], "rev", evolve_schema=True
        )
        narrow = (
            docs.filter(F.col("doc_id") % 5 == 1)
            .withColumn("n_chars", F.col("n_chars") + 9)
            .withColumn("rev", F.lit(3000).cast("long"))
        )
        mf.upsert_table(
            spark, path, narrow, ["doc_id"], "rev", evolve_schema=True
        )
    return path


def _prep_manifest_evolve(spark, sf_dir):
    _manifest_evolve_table(spark, sf_dir)


@_q(
    "l_manifest_evolve",
    """
    SELECT doc_id, source AS src,
      CASE WHEN doc_id % 5 = 1 THEN n_chars + 9
           ELSE n_chars END AS n_chars,
      CASE WHEN doc_id % 5 = 0 THEN 2000
           WHEN doc_id % 5 = 1 THEN 3000
           ELSE 1000 END::BIGINT AS rev,
      CASE WHEN doc_id % 5 = 0 THEN (doc_id % 7)::DOUBLE / 10
           END AS score
    FROM documents
    ORDER BY doc_id
    """,
    "L-write: SCHEMA EVOLUTION on manifest MERGE (operators/"
    "manifest.py:upsert_table(evolve_schema=True) — round 9): a "
    "widened batch introduces a `score` column (NULL on every row "
    "the batch didn't rewrite), a later NARROW batch merges too (its "
    "rows read the column as NULL), and only TOUCHED partitions "
    "rewrite — untouched dirs keep their old-schema files, the read "
    "reconciles version schemas by name. Default stays strict "
    "(mismatched batch raises). Oracle recomputes the final widened "
    "state from scratch — maintained == recomputed across the "
    "evolution",
    prepare=_prep_manifest_evolve
)
def l_manifest_evolve(spark, sf_dir):
    from polars_fastx_spark.operators import manifest as mf

    path = _manifest_evolve_table(spark, sf_dir)
    return mf.read_table(spark, path).select(
        "doc_id", "src", "n_chars", "rev", "score"
    ).orderBy("doc_id")


#: private manifest table for the ZONE-MAP data-skipping lane: range
#: bucketing (bucket = doc_id div 20) makes the per-partition doc_id
#: [min,max] maps disjoint, so a range_filter read opens only the
#: overlapping buckets (pruning decision pytest-pinned at the
#: manifest level); the lifecycle (create with stats_cols → upsert)
#: proves the maps are MAINTAINED, and the oracle recomputes the
#: final filtered state from scratch.
_MANIFEST_SKIP: dict = {}


def _manifest_skip_table(spark, sf_dir):
    import tempfile

    from polars_fastx_spark.operators import manifest as mf

    path = _MANIFEST_SKIP.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pfs_manifest_zm_")
        _MANIFEST_SKIP[sf_dir] = path
    if mf.current_version(spark, path) is None:
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id",
            (F.col("doc_id") / 20).cast("long").cast("string")
            .alias("bucket"),
            "n_chars",
        )
        base = docs.withColumn("rev", F.lit(1000).cast("long"))
        mf.create_table(
            spark, path, base, "bucket", stats_cols=["doc_id", "n_chars"]
        )
        batch = (
            docs.filter(F.col("doc_id") % 10 == 3)
            .withColumn("n_chars", F.col("n_chars") + 5)
            .withColumn("rev", F.lit(2000).cast("long"))
        )
        mf.upsert_table(spark, path, batch, ["doc_id"], "rev")
    return path


def _prep_manifest_skip(spark, sf_dir):
    _manifest_skip_table(spark, sf_dir)


@_q(
    "l_manifest_skip",
    """
    SELECT doc_id,
      CASE WHEN doc_id % 10 = 3 THEN n_chars + 5
           ELSE n_chars END AS n_chars,
      CASE WHEN doc_id % 10 = 3 THEN 2000
           ELSE 1000 END::BIGINT AS rev
    FROM documents
    WHERE doc_id BETWEEN 15 AND 64
    ORDER BY doc_id
    """,
    "L-write: ZONE-MAP data skipping on manifest tables (operators/"
    "manifest.py — round 9): create_table(stats_cols=[…]) records "
    "each partition's [min,max] per column in the manifest (one "
    "map-side aggregate at commit), upsert/delete/compaction "
    "maintain the maps for touched partitions, and "
    "read_table(range_filter={col: (lo, hi)}) prunes whole "
    "partitions that cannot match BEFORE any file opens — the "
    "Iceberg/Delta skipping idea at manifest granularity, with the "
    "row predicate still applied so results are exact whether or "
    "not stats exist. The lifecycle here range-buckets doc_id, "
    "upserts a batch (maps re-aggregate), then reads doc_id∈[15,64]; "
    "the oracle recomputes the filtered final state from scratch — "
    "the pruning DECISION (only overlapping buckets open) is "
    "pytest-pinned at the manifest level",
    prepare=_prep_manifest_skip
)
def l_manifest_skip(spark, sf_dir):
    from polars_fastx_spark.operators import manifest as mf

    path = _manifest_skip_table(spark, sf_dir)
    return (
        mf.read_table(spark, path, range_filter={"doc_id": (15, 64)})
        .select("doc_id", "n_chars", "rev")
        .orderBy("doc_id")
    )


def _prep_ann_sync_fp(spark, sf_dir):
    old, _ = _ann_sync_snapshots(spark, sf_dir)
    _ann_private_index(spark, sf_dir, "syncfp", old)


@_q(
    "l_ann_index_sync_fp",
    QUERIES["l_ann_index_sync"].oracle,
    "L3+ ANN index sync, FINGERPRINT lane: the same release sync as "
    "l_ann_index_sync but WITHOUT the old snapshot — change detection "
    "diffs (id, __fp) from the index's own live code rows against the "
    "new release (codes store lossy PQ approximations; the md5 vector "
    "fingerprint written at build/add is exact). Same oracle: the two "
    "lanes must land the identical post-sync index "
    "(operators/ann_index.py:index_sync_from_index).",
    prepare=_prep_ann_sync_fp
)
def l_ann_index_sync_fp(spark, sf_dir):
    old, new = _ann_sync_snapshots(spark, sf_dir)
    q = [float(x) for x in old.filter(F.col("vec_id") == 0).first()["v"]]
    path = _ann_private_index(spark, sf_dir, "syncfp", old)
    ann_index.index_sync_from_index(new, "v", path, epoch=1)
    return ann_index.index_search(spark, path, q, k=10, nprobe=4).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )
