"""Incremental link-graph maintenance — diff-driven edge index.

``l_link_graph`` / ``l_crawl_rank`` recompute every edge and every
PageRank round from scratch each release. At crawl scale the page
table is the 100 TB object and a release touches a fraction of it —
the edge table should be MAINTAINED like the ANN code table and the
containment postings already are: epoch-partitioned parquet keyed by
the page that contributed each edge, tombstones for removed/changed
pages, ``snapshot_diff`` deciding what changed. Re-extraction cost
then scales with the CRAWL DELTA, not the corpus; only the bounded
domain-graph PageRank re-iterates (and can warm-start from the
previous rank vector — ``graph.pagerank(init_ranks=...)``).

Epoch discipline (the epoch-table layout of ``polars_fastx_spark/epochs.py``,
shared with the ANN and containment indexes):

- ``edges/epoch=<id>`` rows are ``(page key, src, dst)``;
- ``tombstones/epoch=<id>`` rows are page keys; a tombstone at epoch
  T hides that key's edge rows with epoch < T (strictly below — a
  re-add AT or above the tombstone revives the page);
- every write is a pinned-epoch ``mode("overwrite")`` of one
  partition dir, so at-least-once retries replace their own failed
  attempt;
- reads consult only COMMITTED epochs (``_SUCCESS`` present).

``edge_index_sync`` is the release call: give it the page-level
``snapshot_diff`` (``keys=[key]``, compared column = page content)
and the NEW release's edges; it tombstones removed|changed pages and
appends added|changed pages' edges — two partition writes, both
delta-sized. ``live_edges`` is what PageRank consumes; the
``l_crawl_rank_incr`` catalog query pins live-after-sync ==
recomputed-from-scratch (the exactness the whole lane rests on).

Reference parity: the reference (apcamargo/polars-fastx) has no graph
surface; north-star extension per /root/repo/BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_fastx_spark import epochs
from polars_fastx_spark.operators.diffing import change_counts
from polars_fastx_spark.session import persisted


def edge_index_build(
    edges: DataFrame,
    path: str,
    key_col: str = "page_key",
    src: str = "src",
    dst: str = "dst",
) -> None:
    """Initialize the index from a full release's edges
    (``(key, src, dst)`` — key = the page the edge was extracted
    from). Clears stale tombstones/epochs first (rebuild hygiene —
    the ann_index lesson: mode("overwrite") alone leaves history that
    hides or double-counts the fresh epoch)."""
    spark = edges.sparkSession
    epochs.drop(spark, f"{path}/edges", f"{path}/tombstones")
    edges.select(
        F.col(key_col).alias("__key"),
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
    ).write.mode("overwrite").parquet(f"{path}/edges/epoch=0")


def edge_index_add(
    edges: DataFrame,
    path: str,
    key_col: str = "page_key",
    src: str = "src",
    dst: str = "dst",
    epoch: int | None = None,
) -> int:
    """Append one release-delta of edges at a pinned epoch."""
    spark = edges.sparkSession
    if epoch is None:
        epoch = epochs.next_epoch_of(
            spark, f"{path}/edges", f"{path}/tombstones"
        )
    edges.select(
        F.col(key_col).alias("__key"),
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
    ).write.mode("overwrite").parquet(f"{path}/edges/epoch={epoch}")
    return epoch


def edge_index_delete(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    epoch: int | None = None,
) -> int:
    """Tombstone pages: their edges disappear from ``live_edges``
    without touching the data-sized epochs. The edge index has no
    compaction, so tombstones accrete until the next
    ``edge_index_build``."""
    return epochs.write_tombstones(
        spark, f"{path}/edges", f"{path}/tombstones", keys, epoch,
        key="__key", caller="edge_index_delete",
    )


def edge_index_sync(
    path: str,
    diff: DataFrame,
    new_edges: DataFrame,
    key_col: str = "page_key",
    src: str = "src",
    dst: str = "dst",
) -> dict[str, int]:
    """Apply a page-level ``snapshot_diff`` to the edge index:
    removed|changed page keys tombstone at epoch E; added|changed
    pages' edges (selected FROM ``new_edges`` — the new release's
    extraction, which the caller only needs to RUN on the delta)
    append at E+1. Both writes are delta-sized. Returns the page
    counts per change class (the release-note numbers)."""
    spark = diff.sparkSession
    with persisted(diff) as d:
        counts = change_counts(d)
        dead = d.filter(
            F.col("change_type").isin("removed", "changed")
        ).select(F.col(key_col))
        fresh_keys = d.filter(
            F.col("change_type").isin("added", "changed")
        ).select(F.col(key_col))
        n_dead = counts["removed"] + counts["changed"]
        n_fresh = counts["added"] + counts["changed"]
        epoch = None
        if n_dead:
            epoch = edge_index_delete(spark, path, dead)
        if n_fresh:
            edge_index_add(
                new_edges.join(
                    fresh_keys, new_edges[key_col] == fresh_keys[key_col],
                    "left_semi",
                ),
                path,
                key_col=key_col, src=src, dst=dst,
                epoch=(epoch + 1) if epoch is not None
                else epochs.next_epoch_of(
                    spark, f"{path}/edges", f"{path}/tombstones"
                ),
            )
    return counts


def live_edges(spark: SparkSession, path: str) -> DataFrame:
    """The index's effective edge table: committed edge epochs minus
    rows hidden by tombstones (tombstone at T hides epoch < T), through
    the shared tombstone filter ``epochs.live``. Raises ValueError when
    the index has no committed edge epoch."""
    return epochs.live(
        spark, f"{path}/edges", f"{path}/tombstones", key="__key"
    )
