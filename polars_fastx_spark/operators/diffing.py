"""Snapshot diff — what changed between two versions of a table.

Curated training corpora are SNAPSHOTTED: each release is a full
table (documents v1, v2, ...), and the release note everyone actually
wants is the diff — which rows were added, which removed, which
changed and HOW. The same primitive drives incremental-processing
decisions (re-embed only changed docs, re-shingle only added ones)
and audit trails for takedown compliance (prove a removed id is gone
from the next release).

Spark-first shape: ONE null-safe full-outer join on the key columns —
both sides shuffle once on the key (sort-merge; AQE broadcasts a
small side), comparison is a codegen ``<=>`` conjunction over the
compared columns, and unchanged rows are dropped BEFORE anything else
happens, so the output scales with the CHANGE volume, not the corpus:
diffing two 100 TB snapshots that differ by 0.1% shuffles the key +
compared columns once and materializes ~100 GB. Keys are primary-key
unique per snapshot by contract (the join would otherwise pair
m×n copies); no skew lever is needed for unique keys.

Zero Python anywhere; both outputs replay as plain ANSI SQL (FULL
OUTER JOIN + IS DISTINCT FROM), which is exactly how the DuckDB
oracle checks them.

Reference parity: the reference (apcamargo/polars-fastx) has no
versioned-table surface; north-star extension per
/root/repo/BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: change_type values, in the order summaries report them
ADDED, REMOVED, CHANGED = "added", "removed", "changed"


def _null_safe_eq(a: Column, b: Column) -> Column:
    return a.eqNullSafe(b)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Row-level diff of two snapshots keyed by ``keys``.

    Returns one row per key present in either snapshot (minus
    unchanged ones unless ``include_unchanged``) with columns::

        <keys...>, change_type ('added'|'removed'|'changed'|
        'unchanged'), old_<c> and new_<c> for every compared column

    ``compare_cols`` defaults to every shared non-key column. A key
    only in ``new`` is ``added`` (old_* NULL), only in ``old`` is
    ``removed`` (new_* NULL); present in both it is ``changed`` iff
    any compared column differs under NULL-SAFE equality (NULL→value
    and value→NULL are changes; NULL→NULL is not).

    One shuffle per side on the key, codegen comparison, output
    proportional to the change volume — see module docstring for the
    100 TB posture. Keys must be unique within each snapshot.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    missing = [
        c
        for c in keys + compare_cols
        if c not in old.columns or c not in new.columns
    ]
    if missing:
        raise ValueError(f"snapshot_diff: columns absent from a side: {missing}")

    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    cond = None
    for k in keys:
        eq = _null_safe_eq(F.col(f"__ok_{k}"), F.col(f"__nk_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")

    same = F.lit(True)
    for c in compare_cols:
        same = same & _null_safe_eq(F.col(f"old_{c}"), F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit(ADDED))
        .when(F.col("__in_new").isNull(), F.lit(REMOVED))
        .when(~same, F.lit(CHANGED))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *[
            F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
            for k in keys
        ],
        change.alias("change_type"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """(change_type, n) counts for the diff — the release-note header.

    Includes the ``unchanged`` count (it is the denominator readers
    want), computed in the same single-join pass: the full-outer join
    shuffles once, the count aggregates map-side. Sorted by
    change_type for deterministic output."""
    d = snapshot_diff(
        old, new, keys, compare_cols, include_unchanged=True
    )
    return (
        d.groupBy("change_type")
        .agg(F.count("*").alias("n"))
        .orderBy("change_type")
    )


def change_counts(diff: DataFrame) -> dict[str, int]:
    """{added, removed, changed}: row counts of a ``snapshot_diff`` by
    change class, in one bounded (≤3-row) collect."""
    got = dict(diff.groupBy("change_type").count().collect())
    return {c: int(got.get(c, 0)) for c in (ADDED, REMOVED, CHANGED)}


def _diff_compare_cols(diff: DataFrame) -> list[str]:
    """Recover the compared columns from a diff's old_*/new_* pairs."""
    olds = {c[4:] for c in diff.columns if c.startswith("old_")}
    news = {c[4:] for c in diff.columns if c.startswith("new_")}
    return [c[4:] for c in diff.columns if c.startswith("old_") and c[4:] in news & olds]


def apply_diff(
    old: DataFrame,
    diff: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Replay a diff onto the old snapshot — the CDC apply: drop the
    removed|changed keys (one NULL-SAFE anti-join, matching
    ``snapshot_diff``'s null-safe key semantics so NULL-keyed removals
    actually remove), then union the new_* payload of added|changed
    rows. By construction ``apply_diff(old, snapshot_diff(old, new))``
    reconstructs ``new`` exactly (the roundtrip invariant the tests
    and the l_diff_apply oracle pin). The dead-key set is usually
    change-sized, but a major release can rewrite most of the corpus,
    so we do NOT force-broadcast it — AQE broadcasts when it actually
    fits (repo no-force-broadcast discipline). Columns: keys +
    compared columns (project ``old`` accordingly; for stored tables
    route the same split through ``manifest.upsert_table`` /
    ``manifest.delete_keys_table`` instead)."""
    if compare_cols is None:
        compare_cols = _diff_compare_cols(diff)
    dead = diff.filter(
        F.col("change_type").isin(REMOVED, CHANGED)
    ).select(*[F.col(k).alias(f"__dk_{k}") for k in keys])
    anti = None
    for k in keys:
        eq = _null_safe_eq(F.col(k), F.col(f"__dk_{k}"))
        anti = eq if anti is None else anti & eq
    survivors = old.select(*keys, *compare_cols).join(
        dead, anti, "left_anti"
    )
    fresh = diff.filter(
        F.col("change_type").isin(ADDED, CHANGED)
    ).select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in compare_cols]
    )
    return survivors.unionByName(fresh)


def invert_diff(diff: DataFrame) -> DataFrame:
    """The rollback diff: added↔removed swapped, old_*/new_* payloads
    swapped, changed stays changed. ``apply_diff(new, invert_diff(d))``
    restores the OLD snapshot — a release rollback is an apply of the
    inverse, no second diff computation needed."""
    cols = _diff_compare_cols(diff)
    keys = [
        c
        for c in diff.columns
        if c != "change_type"
        and not c.startswith("old_")
        and not c.startswith("new_")
    ]
    flipped = (
        F.when(F.col("change_type") == ADDED, F.lit(REMOVED))
        .when(F.col("change_type") == REMOVED, F.lit(ADDED))
        .otherwise(F.col("change_type"))
    )
    return diff.select(
        *keys,
        flipped.alias("change_type"),
        *[F.col(f"new_{c}").alias(f"old_{c}") for c in cols],
        *[F.col(f"old_{c}").alias(f"new_{c}") for c in cols],
    )
