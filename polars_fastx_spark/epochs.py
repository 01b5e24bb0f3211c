"""Epoch tables — the one implementation of the layout every persisted
index in this package uses (the ANN code table, the containment index,
the link-graph edge index and the streaming MinHash band index).

**Layout.** An epoch table is a set of parquet dirs ``<table>/epoch=<id>``.
A dir is COMMITTED once Spark's ``_SUCCESS`` marker is in it; readers
and the epoch counter see committed dirs only, so a crashed write is
invisible and its retry (a pinned-epoch ``mode("overwrite")``) replaces
it. An index may keep a tombstone table beside its data tables: a
tombstone row for key K at epoch T hides K's data rows with
``epoch < T`` — strictly below, so a re-add at or above T revives K.
Adds and deletes draw from ONE counter over the data and tombstone dirs
(:func:`next_epoch_of`), which is what makes their order durable.

**Compaction** (:func:`compact`) folds the committed epochs of an
index's primary table below ``upto_epoch`` into their newest epoch
``target``, drops the rows the tombstones ``<= upto_epoch`` hide,
re-derives any derived tables (the containment index's sizes and dfreq)
from the folded rows, and stages it all under ONE dir in the primary
table's dir::

    <primary>/_compact_e<target>_u<upto>/<table>/  one per table ("data"
                                                   for a table at the
                                                   index root)
    <primary>/_compact_e<target>_u<upto>/_COMMIT   written last

The name carries everything recovery needs, so recovery never re-derives
it from a listing a crash may have half-deleted, and the epoch counter
reads it too: until the swap completes, ``target`` and ``upto`` stay
taken, so a write between a crash and the next compaction never lands
on an epoch the recovery deletes. The swap, in order:

1. for each table still in the stage: delete its committed epochs
   ``<= target``. A crash here leaves the committed stage holding every
   folded row; readers until the next compaction miss the deleted
   epochs' rows, never see a deleted one.
2. delete the tombstone epochs ``<= upto`` (and the tombstone dir once
   it is empty). They go after the sources, so a crash never leaves a
   source row without the tombstone that hides it, and before the
   renames, so no applied tombstone outlives its fold.
3. for each table still in the stage, rename its staged dir to
   ``epoch=<target>``. A staged dir that is gone was renamed by an
   attempt that crashed; step 1 skips that table too, since deleting
   its epochs ``<= target`` would delete the fold itself.
4. delete the stage dir.

Every compaction first RECOVERS: a committed stage (marker present) is
swapped to completion, whatever this call's bound; an uncommitted one
(a crash while staging, sources intact) is dropped. Recovery also reads
the stage formats earlier releases wrote — ``<table>/_compact_tmp_e<t>``
(one table, no tombstones), ``<table>/_compact_tmp_e<t>_t<u>`` (one
table with tombstones ``<= u``), both committed by their ``_SUCCESS``,
and ``<root>/_ctmp_e<t>_t<u>/<table>/`` committed by ``_COMMIT`` — and
swaps them the same way. Only the format above is written.

Every delete, rename and marker create of this module goes through
:func:`_mutate`, so a test can crash the swap at each mutation point.

**Streams.** Every streaming gate lands micro-batch N at epoch
``base + N`` (:func:`stream_epoch_base`) with three invariants:

1. **pinned-epoch overwrite**: an at-least-once RETRY of a batch
   replaces its own failed attempt instead of duplicating it;
2. **``epoch < current`` retry-exclusion**: the gate's read side only
   consults epochs strictly below the batch's own, so a retry never
   self-collides with its failed attempt's append;
3. **fresh-restart isolation**: a stream restarted with a FRESH
   checkpoint resets batch ids to 0; its base lands ABOVE every
   committed epoch, or batch 0 would overwrite the previous stream's
   history.

Per-lane copies of (3) diverged as soon as they were written, which is
why the base map, its crash-safe persistence and the identity
derivation live here. The map is keyed by the checkpoint's query id
(the ``id`` Spark writes into ``<checkpoint>/metadata``): wiping the
checkpoint and restarting at the SAME path gets a new id and so a new
base, while a restart that keeps the checkpoint keeps its base and its
retried batches land on their original epochs. The base file is written
tmp + rename; a file that still fails to parse is treated as absent and
the base recomputes from the next free epoch, which can duplicate an
in-flight retry but never overwrite history.

Single maintainer throughout: one writer per index (Spark itself allows
one query per checkpoint).
"""

from __future__ import annotations

import json
import re
from contextlib import nullcontext
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_fastx_spark.session import persisted

#: the stage this module writes, in the primary table's dir
_STAGE = re.compile(r"_compact_e(\d+)_u(\d+)")
#: stages earlier releases wrote: at the index root (``_COMMIT``) ...
_LEGACY_ROOT = re.compile(r"_ctmp_e(\d+)_t(\d+)")
#: ... and in one table's dir, the staged data itself (``_SUCCESS``)
_LEGACY_TABLE = re.compile(r"_compact_tmp_e(\d+)(?:_t(\d+))?")


def _mutate(fs, op: str, *paths) -> None:
    """Apply one filesystem change: ``delete`` (recursive), ``rename``
    or ``create`` (an empty marker file)."""
    if op == "delete":
        fs.delete(paths[0], True)
    elif op == "rename":
        fs.rename(*paths)
    else:
        fs.create(paths[0], True).close()


def hadoop_fs(spark: SparkSession, path: str):
    """(jvm Path, FileSystem) for ``path`` — the Hadoop FS API, so every
    listing and existence check works on any supported filesystem."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    p, fs = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def _children(spark: SparkSession, path: str) -> list[str]:
    p, fs = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _join(root: str, table: str) -> str:
    return f"{root}/{table}" if table else root


def committed(
    spark: SparkSession, path: str, marker: str = "_SUCCESS"
) -> bool:
    """Whether the dir ``path`` carries its commit ``marker``."""
    return _exists(spark, f"{path}/{marker}")


def drop(spark: SparkSession, *paths: str) -> None:
    """Delete each of ``paths`` that exists, recursively (rebuild
    cleanup, spent stages, consumed tombstones)."""
    for path in paths:
        p, fs = hadoop_fs(spark, path)
        if fs.exists(p):
            _mutate(fs, "delete", p)


def mark(spark: SparkSession, path: str) -> None:
    """Create the empty marker file ``path`` (a stage's ``_COMMIT``)."""
    p, fs = hadoop_fs(spark, path)
    _mutate(fs, "create", p)


def committed_epochs(spark: SparkSession, dir_path: str) -> list[int]:
    """Sorted ids of the COMMITTED ``epoch=<id>`` children of
    ``dir_path`` — a filesystem listing, never a data scan."""
    out = []
    for name in _children(spark, dir_path):
        if not name.startswith("epoch="):
            continue
        try:
            eid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if committed(spark, f"{dir_path}/{name}"):
            out.append(eid)
    return sorted(out)


def next_epoch_of(spark: SparkSession, *dirs: str) -> int:
    """The next free epoch id across several epoch dirs — an index's
    data and tombstone tables, or a gate's index and output (a crashed
    batch can leave one without its twin in the other) — above every
    committed epoch and every id named by a pending compaction stage."""
    eps = []
    for d in dirs:
        eps += committed_epochs(spark, d)
        for name in _children(spark, d):
            m = _STAGE.fullmatch(name) or _LEGACY_TABLE.fullmatch(name)
            eps += [int(g) for g in m.groups() if g] if m else []
    return (max(eps) + 1) if eps else 0


def read_epochs(
    spark: SparkSession, dir_path: str, epochs: list[int] | None = None
) -> DataFrame:
    """The rows of ``dir_path``'s committed epochs (only ``epochs``, if
    given), with the ``epoch`` partition column."""
    if epochs is None:
        epochs = committed_epochs(spark, dir_path)
    if not epochs:
        raise ValueError(f"{dir_path}: no committed epochs")
    return spark.read.option("basePath", dir_path).parquet(
        *[f"{dir_path}/epoch={e}" for e in epochs]
    )


def live(
    spark: SparkSession,
    rows: DataFrame | str,
    tombstones: str,
    key: str = "__id",
    before_epoch: int | None = None,
    how: str = "left_anti",
) -> DataFrame:
    """``rows`` — a frame carrying ``epoch``, or an epoch dir, read
    whole — minus those a committed tombstone in ``tombstones`` hides:
    same ``key``, ``epoch < T``. Only tombstones below ``before_epoch``
    count, when it is given — a streaming retry must not see its own
    failed attempt's deletes. ``how="left_semi"`` returns the hidden
    rows instead. The tombstone side is deletions, tiny next to the
    data, so it broadcasts."""
    if isinstance(rows, str):
        rows = read_epochs(spark, rows)
    eps = [
        e for e in committed_epochs(spark, tombstones)
        if before_epoch is None or e < before_epoch
    ]
    if not eps:
        return rows if how == "left_anti" else rows.limit(0)
    tomb = read_epochs(spark, tombstones, eps).select(
        F.col(key).alias("__tomb_key"), F.col("epoch").alias("__tomb_epoch")
    )
    return rows.join(
        F.broadcast(tomb),
        (rows[key] == tomb["__tomb_key"])
        & (rows["epoch"] < tomb["__tomb_epoch"]),
        how,
    )


def write_tombstones(
    spark: SparkSession,
    data: str,
    tombstones: str,
    ids: DataFrame | list,
    epoch: int | None = None,
    key: str = "__id",
    caller: str = "delete",
) -> int:
    """Land ``ids`` — a one-column DataFrame (any name) or a Python
    list — as the tombstone epoch ``epoch`` of ``tombstones``; by
    default the next epoch over ``data`` and ``tombstones``, so the
    tombstone hides every current data epoch. Ids are cast to
    ``data``'s key type, so the hiding join never misses on a type
    mismatch. Returns the epoch written."""
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(ids.columns[0]).alias(key)).distinct()
    else:
        if not ids:
            raise ValueError(
                f"{caller}: empty id list (pass a typed empty DataFrame "
                "if an empty tombstone epoch is intended)"
            )
        df = spark.createDataFrame([(i,) for i in ids], [key]).distinct()
    data_eps = committed_epochs(spark, data)
    if data_eps:
        id_type = spark.read.parquet(
            f"{data}/epoch={data_eps[0]}"
        ).schema[key].dataType
        df = df.select(F.col(key).cast(id_type).alias(key))
    if epoch is None:
        epoch = next_epoch_of(spark, data, tombstones)
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tombstones}/epoch={epoch}"
    )
    return epoch


def swap_in(spark: SparkSession, staged: str, dst: str) -> None:
    """Rename ``staged`` over ``dst`` — unless ``staged`` is gone, which
    means an attempt that crashed already did."""
    s, fs = hadoop_fs(spark, staged)
    if not fs.exists(s):
        return
    d, _ = hadoop_fs(spark, dst)
    if fs.exists(d):
        _mutate(fs, "delete", d)
    _mutate(fs, "rename", s, d)


def _swap(
    spark: SparkSession,
    path: str,
    stage: str,
    staged: dict[str, str],
    target: int,
    tomb_upto: int | None,
    tombstones: str | None,
) -> None:
    """Steps 1-4 of the module docstring for one committed stage;
    ``staged`` maps each table to its staged dir."""
    pending = {t: s for t, s in staged.items() if _exists(spark, s)}
    for table in pending:
        tdir = _join(path, table)
        drop(spark, *[
            f"{tdir}/epoch={e}"
            for e in committed_epochs(spark, tdir) if e <= target
        ])
    if tombstones and tomb_upto is not None:
        _drop_tombstones(spark, f"{path}/{tombstones}", tomb_upto)
    for table, src in pending.items():
        swap_in(spark, src, f"{_join(path, table)}/epoch={target}")
    drop(spark, stage)


def _drop_tombstones(spark: SparkSession, tombs: str, upto: int) -> None:
    drop(spark, *[
        f"{tombs}/epoch={e}"
        for e in committed_epochs(spark, tombs) if e <= upto
    ])
    if _exists(spark, tombs) and not _children(spark, tombs):
        drop(spark, tombs)


def _recover(
    spark: SparkSession,
    path: str,
    tables: list[str],
    tombstones: str | None,
) -> None:
    """Swap every committed stage under the index to completion, in any
    format, and drop every uncommitted one."""
    found = []  # (target, stage dir, {table: staged dir}, upto, marker)
    dirs = {path: None} | {_join(path, t): t for t in tables}
    for d, table in dirs.items():
        for name in _children(spark, d):
            stage = f"{d}/{name}"
            m = _STAGE.fullmatch(name) or _LEGACY_ROOT.fullmatch(name)
            if m:
                staged = {t: f"{stage}/{t or 'data'}" for t in tables}
                found.append((int(m[1]), stage, staged, int(m[2]), "_COMMIT"))
            elif table is not None and (m := _LEGACY_TABLE.fullmatch(name)):
                upto = int(m[2]) if m[2] else None
                found.append(
                    (int(m[1]), stage, {table: stage}, upto, "_SUCCESS")
                )
    for target, stage, staged, upto, marker in sorted(found):
        if committed(spark, stage, marker):
            _swap(spark, path, stage, staged, target, upto, tombstones)
        else:
            drop(spark, stage)


def compact(
    spark: SparkSession,
    path: str,
    upto_epoch: int,
    min_epochs: int = 2,
    table: str = "",
    tombstones: str | None = None,
    derived: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
) -> None:
    """Fold the committed epochs below ``upto_epoch`` of the index at
    ``path`` into their newest one, once ``min_epochs`` have accreted or
    a tombstone ``<= upto_epoch`` is there to apply.

    ``table`` is the primary table's dir under ``path`` (``""``: the
    epoch dirs sit at ``path`` itself); ``tombstones`` the tombstone
    dir, hiding rows by ``__id``; ``derived`` maps each further table
    to a function of the folded live primary rows that rebuilds it
    whole. A caller that may re-write an epoch (a streaming retry)
    passes that epoch as ``upto_epoch``, so it is never folded into
    history and then written again. Crash-safe and re-entrant: see the
    module docstring."""
    derived = derived or {}
    tables = [table, *derived]
    _recover(spark, path, tables, tombstones)
    src = _join(path, table)
    eps = [e for e in committed_epochs(spark, src) if e < upto_epoch]
    tombs = f"{path}/{tombstones}" if tombstones else None
    applied = tombs and [
        e for e in committed_epochs(spark, tombs) if e <= upto_epoch
    ]
    if not eps:
        # tombstones <= upto_epoch hide only epochs below it: none left
        if applied:
            _drop_tombstones(spark, tombs, upto_epoch)
        return
    if len(eps) < min_epochs and not applied:
        return
    target = max(eps)
    stage = f"{src}/_compact_e{target}_u{upto_epoch}"
    rows = read_epochs(spark, src, eps)
    if applied:
        rows = live(spark, rows, tombs, before_epoch=upto_epoch + 1)
    folded = rows.drop("epoch")
    with persisted(folded) if derived else nullcontext(folded) as folded:
        folded.coalesce(max(1, len(eps) // max(1, min_epochs))).write.mode(
            "overwrite"
        ).parquet(f"{stage}/{table or 'data'}")
        for name, derive in derived.items():
            derive(folded).write.mode("overwrite").parquet(f"{stage}/{name}")
    mark(spark, f"{stage}/_COMMIT")
    _swap(
        spark, path, stage,
        {t: f"{stage}/{t or 'data'}" for t in tables},
        target, upto_epoch, tombstones,
    )


def _read_small(spark, path: str) -> str | None:
    """Whole small file as text, None when absent/unreadable."""
    p, fs = hadoop_fs(spark, path)
    try:
        if not fs.exists(p):
            return None
        stream_in = fs.open(p)
        try:
            return bytes(stream_in.readAllBytes()).decode()
        finally:
            stream_in.close()
    except Exception:
        return None


def _write_small_atomic(spark, path: str, text: str) -> None:
    """tmp + rename so a crash mid-write never leaves a torn file at
    the canonical path (rename is atomic on HDFS/local/ABFS; on
    rename-as-copy object stores the parse-failure fallback in
    :func:`stream_epoch_base` still recovers)."""
    tmp = f"{path}.tmp"
    tp, fs = hadoop_fs(spark, tmp)
    p, _ = hadoop_fs(spark, path)
    out = fs.create(tp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    if fs.exists(p):
        _mutate(fs, "delete", p)
    _mutate(fs, "rename", tp, p)


def checkpoint_identity(spark, checkpoint: str | None) -> str:
    """Stable identity of a streaming checkpoint: the query id Spark
    wrote into ``<checkpoint>/metadata`` at checkpoint creation. A
    wiped-and-recreated checkpoint dir gets a NEW id (that is the
    point); an unreadable/absent metadata file (foreachBatch running
    before Spark lands it, tests driving gates by hand) falls back to
    the path string — same-path restarts then share a base, which is
    only ever the legacy behavior, never an overwrite (the base map
    keeps historical entries forever)."""
    if not checkpoint:
        return "__default__"
    raw = _read_small(spark, f"{checkpoint}/metadata")
    if raw:
        try:
            qid = json.loads(raw).get("id")
            if qid:
                return str(qid)
        except ValueError:
            pass
    return str(checkpoint)


def stream_epoch_base(
    spark,
    base_dir: str,
    checkpoint: str | None = None,
    next_epoch: Callable[[], int] | None = None,
) -> int:
    """The stream's epoch-id offset: micro-batch N of the stream
    identified by ``checkpoint`` writes epoch ``base + N`` under
    ``base_dir``'s index family. First call for a given checkpoint
    identity allocates ``next_epoch()`` (the next free epoch across
    the family's committed dirs — lane-specific, hence a callable) and
    persists it in the ``_stream_base`` JSON map; every later call —
    retries, restarts with the same checkpoint — returns the recorded
    base. See module docstring for the three invariants.

    **Identity-flip continuity**: :func:`checkpoint_identity` can
    resolve to the PATH string early in a stream's life (foreachBatch
    batch 0 often runs before Spark lands ``<checkpoint>/metadata``)
    and to the QUERY ID afterwards. If those were independent keys, a
    retried early micro-batch arriving after the flip would allocate
    a fresh base and DUPLICATE its rows instead of idempotently
    replacing them. So the first query-id resolution CLAIMS a base
    recorded under the path-fallback key: the entry moves from the
    path key to the query-id key (one base, both identities). Moving
    (not copying) it also keeps the wiped-checkpoint semantics — a
    fresh stream at the same path that races its own metadata write
    finds no path entry left to inherit and allocates a fresh base,
    exactly the fresh-restart isolation invariant."""
    key = checkpoint_identity(spark, checkpoint)
    path_key = str(checkpoint) if checkpoint else "__default__"
    base_path = f"{base_dir}/_stream_base"
    bases: dict[str, int] = {}
    raw = _read_small(spark, base_path)
    if raw is not None and raw.strip():
        raw = raw.strip()
        try:
            bases = {str(k): int(v) for k, v in json.loads(raw).items()}
        except (ValueError, AttributeError, TypeError):
            try:
                # legacy single-int format (pre-map indexes)
                bases = {key: int(raw)}
            except ValueError:
                # torn/corrupt file: recompute (safe — next_epoch is
                # always above committed history), never raise
                bases = {}
    if key not in bases:
        if key != path_key and path_key in bases:
            # identity flipped path → query id mid-stream: claim the
            # base the pre-metadata batches recorded under the path
            bases[key] = bases.pop(path_key)
        else:
            bases[key] = next_epoch()
        _write_small_atomic(spark, base_path, json.dumps(bases))
    return bases[key]
