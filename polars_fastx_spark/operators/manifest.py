"""Snapshot-isolated partitioned tables via a manifest-pointer commit
— the package's one keyed MERGE/delete path.

A plain dynamic-partition-overwrite MERGE lets a reader racing the
overwrite see a partition mid-swap. This module closes that with the
discipline the repo already owns (the ANN index's staged swaps, the
sinks' ``_COMMIT`` markers), applied at the whole-table level — a tiny
MANIFEST file is the single source of truth and a one-file atomic
rename is the only commit point:

```
<table>/
  _manifest/v<N>.json   # immutable: {version, partition dir -> path, schema}
  _manifest/_CURRENT    # tiny pointer: the committed version number
  data/v<N>/<pcol>=<val>/part-*.parquet   # immutable once referenced
```

- **Writers** stage a NEW version dir (``data/v<N>``) holding only the
  partitions they touch, derive manifest ``v<N>`` from ``v<N-1>`` by
  repointing those partitions, then swap ``_CURRENT`` (tmp + atomic
  rename). Untouched partitions keep their old dirs — at 100 TB,
  almost all of them are never read or written.
- **Readers** resolve ``_CURRENT`` once, then read the immutable dirs
  that manifest lists: a reader concurrent with any number of commits
  sees exactly ONE version — old or new, never mixed. Partition
  pruning happens at the MANIFEST (no directory listing of the whole
  table — the metastore move, done with one small JSON).
- **Crash anywhere before the ``_CURRENT`` rename** leaves the table
  on the previous version; the retry recomputes the same target
  version (``_CURRENT`` is unchanged), overwrites the orphaned stage
  and re-commits — replay-idempotent by construction. Orphaned
  version dirs are garbage; :func:`vacuum` removes the unreferenced
  ones.

Single-writer assumption: concurrent WRITERS would race the version
counter — serialize them upstream (one maintainer per table, the
package-wide convention). Keys must not MOVE between partitions: a
commit repoints only the partitions its batch names.

Reference parity: no write surface in the reference (TSV sink only,
/root/reference/src/polars_fastx/fastx_parsers.py:222); north-star
extension per /root/repo/BASELINE.json:6.
"""

from __future__ import annotations

import json
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from polars_fastx_spark.epochs import (
    _read_small,
    _write_small_atomic,
    hadoop_fs,
)


def _value_key(value) -> str:
    """A partition value as the manifest keys it (stats, selection):
    its string form, Hive's default sentinel for NULL."""
    return "__HIVE_DEFAULT_PARTITION__" if value is None else str(value)


def _dir_key(dir_name: str) -> str:
    """The :func:`_value_key` of a ``<pcol>=<escaped val>`` dir name.
    Spark escapes a partition value as ``%XX`` per special ASCII char,
    so percent-decoding inverts it."""
    return unquote(dir_name.split("=", 1)[1])


def latest_per_key(
    df: DataFrame, key_cols: list[str], order_col: str | list[str]
) -> DataFrame:
    """Keep the last writer per key: the row with the greatest
    ``order_col``. A list orders by each column in turn, all
    descending, so later columns break ties of earlier ones."""
    order = [order_col] if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order]
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def _manifest_dir(path: str) -> str:
    return f"{path}/_manifest"


def current_version(spark: SparkSession, path: str) -> int | None:
    """The committed version number, None for a missing/empty table."""
    raw = _read_small(spark, f"{_manifest_dir(path)}/_CURRENT")
    if raw is None or not raw.strip():
        return None
    return int(raw.strip())


def read_manifest(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """The committed manifest: ``{"version": N, "partition_col": c,
    "partitions": {dir_name: rel_path}, "schema": <StructType JSON>}``
    (dir_name is the hive-style ``<pcol>=<escaped val>`` name;
    rel_path points under the table; schema is what a read returns).
    ``version`` resolves a HISTORICAL manifest directly (time travel —
    every ``v<N>.json`` is immutable once committed), default the
    ``_CURRENT`` pointer."""
    v = current_version(spark, path) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(f"no committed manifest under {path}")
    raw = _read_small(spark, f"{_manifest_dir(path)}/v{v}.json")
    if raw is None:
        what = "_CURRENT points at" if version is None else "requested"
        raise FileNotFoundError(
            f"{what} v{v} but v{v}.json is missing: {path}"
            + ("" if version is None
               else " (vacuumed, or never committed)")
        )
    return json.loads(raw)


def list_versions(spark: SparkSession, path: str) -> list[int]:
    """Every committed (still-unvacuumed) manifest version, ascending
    — the time-travel index. One listing of the tiny ``_manifest``
    dir, never of the data tree."""
    p, fs = hadoop_fs(spark, _manifest_dir(path))
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _stage_version(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_col: str,
    version: int,
) -> dict[str, str]:
    """Write ``df`` hive-partitioned under ``data/v<version>`` and
    return {partition dir name: rel path} for what landed. mode
    overwrite: a retry of a crashed commit rebuilds its own stage."""
    stage = f"{path}/data/v{version}"
    df.write.mode("overwrite").partitionBy(partition_col).parquet(stage)
    p, fs = hadoop_fs(spark, stage)
    out: dict[str, str] = {}
    prefix = f"{partition_col}="
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out[name] = f"data/v{version}/{name}"
    return out


def _json_bound(v):
    """A min/max bound as a JSON-storable value: native JSON scalars
    pass through (so numeric range pruning compares numbers), richer
    types (timestamps, decimals) stringify — their pruning falls back
    to the conservative keep when a probe value's type mismatches."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _partition_stats(
    df: DataFrame, partition_col: str, stats_cols: list[str]
) -> dict:
    """Per-partition zone maps: {partition value str: {col: [min,
    max]}} for ``stats_cols`` — one map-side-combining aggregate (one
    output row per partition, the same bounded-collect contract as
    the ``touched`` lists)."""
    # a schema-evolved frame may lack a stats column: skip it — its
    # absent bounds prune conservatively (the partition always reads)
    present = [c for c in stats_cols if c in df.columns]
    aggs = []
    for c in present:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
    if not present:
        return {}
    out: dict = {}
    for r in df.groupBy(
        F.col(partition_col).alias("__pv")
    ).agg(*aggs).collect():
        out[_value_key(r["__pv"])] = {
            c: [_json_bound(r[f"__mn_{c}"]), _json_bound(r[f"__mx_{c}"])]
            for c in present
        }
    return out


def _range_overlaps(bounds, lo, hi) -> bool:
    """May a partition whose [min, max] is ``bounds`` contain a row
    in [lo, hi]? Conservative: unknown stats, NULL bounds, or
    incomparable types keep the partition."""
    if not bounds:
        return True
    mn, mx = bounds
    try:
        if hi is not None and mn is not None and mn > hi:
            return False
        if lo is not None and mx is not None and mx < lo:
            return False
    except TypeError:
        return True
    return True


def _commit(
    spark: SparkSession,
    path: str,
    manifest: dict,
) -> None:
    """Write the immutable manifest file, then swap ``_CURRENT`` —
    the one atomic commit point."""
    v = manifest["version"]
    _write_small_atomic(
        spark, f"{_manifest_dir(path)}/v{v}.json", json.dumps(manifest)
    )
    _write_small_atomic(spark, f"{_manifest_dir(path)}/_CURRENT", str(v))


def create_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_col: str,
    stats_cols: list[str] | None = None,
) -> int:
    """Initialize a manifest table from ``df``; returns version 1.

    ``stats_cols`` turns on ZONE MAPS: every commit records each
    partition's [min, max] per named column in the manifest (one
    map-side aggregate at write time), and
    ``read_table(range_filter=...)`` prunes whole partitions whose
    range cannot contain a match BEFORE any file is opened — the
    Iceberg/Delta data-skipping idea at manifest granularity. The
    column set is a table property: upsert/delete/compaction maintain
    the stats for every touched partition automatically.

    The manifest also records the table schema, so a read that selects
    no partition still returns a typed 0-row frame (a table created
    from an empty frame records that frame's own schema)."""
    parts = _stage_version(spark, path, df, partition_col, 1)
    man: dict = {
        "version": 1,
        "partition_col": partition_col,
        "partitions": parts,
        "schema": _snapshot_schema(spark, path, parts, None)
        or df.schema.jsonValue(),
    }
    if stats_cols:
        man["stats_cols"] = list(stats_cols)
        man["stats"] = _partition_stats(df, partition_col, list(stats_cols))
    _commit(spark, path, man)
    return 1


def _select_partitions(
    man: dict,
    partition_values: list | None = None,
    range_filter: dict | None = None,
) -> dict[str, str]:
    """The {dir_name: rel} subset of the manifest a read must open —
    named-partition selection plus zone-map range pruning, both
    decided from the manifest alone (module-level so the pruning
    decision is directly testable without touching storage)."""
    wanted = None
    if partition_values is not None:
        wanted = {_value_key(v) for v in partition_values}
    stats = man.get("stats", {})
    out: dict[str, str] = {}
    for dir_name, rel in man["partitions"].items():
        val = _dir_key(dir_name)
        if wanted is not None and val not in wanted:
            continue
        if range_filter:
            pstats = stats.get(val, {})
            if not all(
                _range_overlaps(pstats.get(c), lo, hi)
                for c, (lo, hi) in range_filter.items()
            ):
                continue
        out[dir_name] = rel
    return out


def _read_parts(
    spark: SparkSession, path: str, parts: dict[str, str]
) -> DataFrame | None:
    """One frame over the ``{dir_name: rel}`` partition dirs, None
    when there are none. Dirs group by version dir (one ``basePath``
    each, so partition discovery sees ``<pcol>=<val>``); the groups
    union by name with missing-column tolerance — after a
    schema-evolved MERGE, version dirs legitimately differ, and old
    files read the new column as NULL (and vice versa)."""
    by_version: dict[str, list[str]] = {}
    for rel in parts.values():
        base = rel.rsplit("/", 1)[0]  # data/v<K>
        by_version.setdefault(base, []).append(f"{path}/{rel}")
    out = None
    for base, dirs in sorted(by_version.items()):
        f = spark.read.option("basePath", f"{path}/{base}").parquet(*dirs)
        out = f if out is None else out.unionByName(
            f, allowMissingColumns=True
        )
    return out


def _snapshot_schema(
    spark: SparkSession,
    path: str,
    staged: dict[str, str],
    prev: dict | None,
) -> dict | None:
    """The schema (JSON form) a commit records: the previous
    snapshot's ``prev`` widened by the ``staged`` dirs' the way
    :func:`_read_parts` unions them, so the partition column carries
    the type partition discovery infers. Lists only the staged dirs
    (plus one footer read). Nothing staged keeps ``prev`` — so a
    table whose every partition was deleted still reads (0 rows) and
    takes the next MERGE."""
    fresh = _read_parts(spark, path, staged)
    if fresh is None:
        return prev
    if prev is not None:
        fresh = spark.createDataFrame(
            [], StructType.fromJson(prev)
        ).unionByName(fresh, allowMissingColumns=True)
    return fresh.schema.jsonValue()


def read_table(
    spark: SparkSession,
    path: str,
    partition_values: list | None = None,
    version: int | None = None,
    range_filter: dict | None = None,
) -> DataFrame:
    """The committed snapshot as a DataFrame. ``partition_values``
    prunes AT THE MANIFEST — only the named partitions' dirs are ever
    opened (no table-wide listing). The returned frame is pinned to
    the version that was current at call time: commits that land
    later do not leak into it (the dirs it reads are immutable).
    ``version=N`` time-travels: reads the snapshot manifest ``v<N>``
    committed, regardless of what ``_CURRENT`` says now (the version
    must not have been vacuumed — see :func:`vacuum`'s
    ``keep_versions``).

    ``range_filter={col: (lo, hi)}`` (``None`` = unbounded on that
    side) does ZONE-MAP data skipping on a table created with
    ``stats_cols``: partitions whose recorded [min, max] cannot
    contain a match are never opened, and the surviving frame ALSO
    applies the row-level predicate, so the result is exact whether
    or not stats exist — stats only decide how much is read, never
    what is true."""
    man = read_manifest(spark, path, version=version)
    out = _read_parts(
        spark, path, _select_partitions(man, partition_values, range_filter)
    )
    if out is None:
        # nothing selected (pruned away, or every partition deleted):
        # a 0-row frame with the schema the snapshot recorded
        out = spark.createDataFrame([], StructType.fromJson(man["schema"]))
    for c, (lo, hi) in (range_filter or {}).items():
        if lo is not None:
            out = out.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(c) <= F.lit(hi))
    return out


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str,
    evolve_schema: bool = False,
) -> int:
    """MERGE ``updates`` into the manifest table (last-writer-wins on
    ``order_col`` via :func:`latest_per_key`; updates outrank existing
    rows at equal order). ``updates`` must carry the partition
    column. Reads ONLY
    the touched partitions (manifest pruning), stages them as the
    next version, commits with one pointer swap. Returns the new
    version. Replaying the same batch converges to the same state.

    ``evolve_schema`` permits a SCHEMA-CHANGED batch (the table-format
    MERGE-evolution semantics): columns new in ``updates`` appear on
    the table with NULL for rows the batch didn't rewrite, columns
    absent from ``updates`` are NULL on the rows it did (each
    surviving row comes wholly from one side of the merge). Only
    TOUCHED partitions rewrite under the widened schema — untouched
    dirs keep their old files, and :func:`read_table` reconciles
    mixed version schemas by name (missing columns read as NULL), so
    evolution never triggers a table-wide rewrite. Default strict:
    a mismatched batch raises instead of silently widening."""
    man = read_manifest(spark, path)
    pcol = man["partition_col"]
    touched = [r[0] for r in updates.select(pcol).distinct().collect()]
    current = read_table(spark, path, partition_values=touched)
    tagged = current.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1)),
        allowMissingColumns=evolve_schema,
    )
    merged = latest_per_key(tagged, key_cols, [order_col, "_src"])
    return _commit_delta(spark, path, man, merged.drop("_src"), touched)


def delete_keys_table(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
) -> int:
    """Delete every row matching ``keys`` (which must carry
    ``key_cols`` + the partition column — the takedown primitive on
    the manifest path). A partition whose every row is deleted drops
    from the manifest, so it vanishes from reads WITHOUT any dir
    deletion racing a reader (vacuum reclaims the bytes later).
    Returns the new version."""
    man = read_manifest(spark, path)
    pcol = man["partition_col"]
    touched = [r[0] for r in keys.select(pcol).distinct().collect()]
    current = read_table(spark, path, partition_values=touched)
    remaining = current.join(
        keys.select(*key_cols, pcol).distinct(),
        on=[*key_cols, pcol],
        how="left_anti",
    )
    return _commit_delta(spark, path, man, remaining, touched)


def compact_table(spark: SparkSession, path: str) -> int:
    """Rewrite EVERY live partition into one fresh version (the
    small-files fold for a table that accreted many versions); one
    commit, readers never see a mix. Returns the new version."""
    man = read_manifest(spark, path)
    touched = [_dir_key(d) for d in man["partitions"]]
    return _commit_delta(
        spark, path, man, read_table(spark, path), touched
    )


def _commit_delta(
    spark: SparkSession,
    path: str,
    man: dict,
    new_rows: DataFrame,
    touched: list,
) -> int:
    """Stage ``new_rows`` (the full new content of the ``touched``
    partitions) as the next version and commit the repointed
    manifest. Touched partitions absent from ``new_rows`` (fully
    deleted) drop from the manifest."""
    pcol = man["partition_col"]
    version = man["version"] + 1
    staged = _stage_version(spark, path, new_rows, pcol, version)
    touched_names = {_value_key(v) for v in touched}
    # untouched partitions keep their old dirs; touched ones repoint
    # to the stage (or drop, when fully deleted). A staged partition
    # OUTSIDE the touched set would be a key-movement bug — it is
    # ignored rather than silently repointed (keys must not move
    # between partitions).
    repointed = {
        d: rel for d, rel in staged.items() if _dir_key(d) in touched_names
    }
    parts = {
        d: rel
        for d, rel in man["partitions"].items()
        if _dir_key(d) not in touched_names
    }
    parts.update(repointed)
    next_man = {
        "version": version,
        "partition_col": pcol,
        "partitions": parts,
        "schema": _snapshot_schema(
            spark, path, repointed, man.get("schema")
        ),
    }
    stats_cols = man.get("stats_cols")
    if stats_cols:
        # zone maps are a table property: untouched partitions keep
        # their recorded ranges, touched ones re-aggregate from the
        # staged content (dropped partitions drop their stats with
        # their dir)
        live_vals = {_dir_key(d) for d in parts}
        stats = {
            v: s for v, s in man.get("stats", {}).items()
            if v not in touched_names and v in live_vals
        }
        fresh = _partition_stats(new_rows, pcol, stats_cols)
        for v, s in fresh.items():
            if v in touched_names and v in live_vals:
                stats[v] = s
        next_man["stats_cols"] = stats_cols
        next_man["stats"] = stats
    _commit(spark, path, next_man)
    return version


def table_history(spark: SparkSession, path: str) -> list[dict]:
    """The ops-audit view of a manifest table: one dict per
    still-unvacuumed committed version, ascending —
    ``{"version", "n_partitions", "current", "rollback_of"}``
    (``rollback_of`` None for ordinary commits). Reads only the tiny
    ``_manifest`` dir."""
    cur = current_version(spark, path)
    out = []
    for v in list_versions(spark, path):
        man = read_manifest(spark, path, version=v)
        out.append({
            "version": v,
            "n_partitions": len(man["partitions"]),
            "current": v == cur,
            "rollback_of": man.get("rollback_of"),
        })
    return out


def rollback(spark: SparkSession, path: str, version: int) -> int:
    """Restore the table to historical ``version`` as a NEW commit:
    the next version's manifest is a copy of the target's partition
    map (which still points at the old immutable data dirs — zero
    data movement, one manifest write + the one ``_CURRENT`` rename
    every commit pays). Rolling FORWARD keeps history monotonic:
    readers pinned to intermediate versions stay valid, a rollback of
    the rollback is just another commit, and the version counter
    never reuses a number (re-staging over a live historical dir
    would mutate what time travel promises is immutable). Returns
    the new version number."""
    new_version = read_manifest(spark, path)["version"] + 1
    target = read_manifest(spark, path, version=version)
    # the partition map, schema and zone maps travel with the snapshot
    _commit(spark, path, {
        **target, "version": new_version, "rollback_of": int(version),
    })
    return new_version


def vacuum(
    spark: SparkSession, path: str, keep_versions: int = 1
) -> list[str]:
    """Delete ``data/v*`` dirs holding NO partition referenced by any
    KEPT manifest (orphans of crashed commits, versions fully
    superseded by later rewrites). The kept set is the
    ``keep_versions`` highest committed versions up to and including
    the current one (default 1 = only the current snapshot, the
    original behavior); manifest files of versions OLDER than the
    kept set delete too, so ``list_versions`` is exactly the
    time-travelable window — a manifest whose data dirs are gone
    would promise a read it can't serve. Never touches dirs a kept
    manifest references, so it is safe beside readers of kept
    versions; readers pinned to vacuumed versions (long-running jobs)
    are the caller's window to respect — run vacuum when none are
    live (the standard table-format contract). Returns the deleted
    names (data dirs + manifest files).

    Dirs numbered ABOVE the current version are never touched: they
    are a writer's in-flight stage (``data/v<N+1>`` is unreferenced
    by design until its ``_CURRENT`` swap lands), so a vacuum racing
    a commit must not destroy the stage mid-commit (round-8 ADVICE
    low #4). A crashed commit's orphaned stage becomes reclaimable
    as soon as any later commit moves ``_CURRENT`` past it."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    current = read_manifest(spark, path)["version"]
    committed = [v for v in list_versions(spark, path) if v <= current]
    kept = set(committed[-keep_versions:])
    kept.add(current)
    live: set[str] = set()
    for v in kept:
        man = read_manifest(spark, path, version=v)
        live |= {rel.rsplit("/", 1)[0] for rel in man["partitions"].values()}
    deleted = []
    root, fs = hadoop_fs(spark, f"{path}/data")
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            try:
                vnum = int(name[1:])
            except ValueError:
                continue
            if st.isDirectory() and name.startswith("v") and (
                f"data/{name}" not in live
            ) and vnum <= current:
                fs.delete(st.getPath(), True)
                deleted.append(name)
    # drop the manifests outside the time-travelable window
    mroot, mfs = hadoop_fs(spark, _manifest_dir(path))
    for v in committed:
        if v not in kept:
            mp, _ = hadoop_fs(spark, f"{_manifest_dir(path)}/v{v}.json")
            if mfs.exists(mp):
                mfs.delete(mp, False)
                deleted.append(f"v{v}.json")
    return deleted
