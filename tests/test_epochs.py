"""polars_fastx_spark/epochs.py — the epoch-base discipline and the
staged compaction of every epoch-table index.

Regression tests for the round-6 ADVICE findings: the base map must
key on checkpoint IDENTITY (the query id in the checkpoint's
metadata, which changes when the dir is wiped), not the path string,
and a corrupt base file must recompute rather than brick the stream.
"""

from __future__ import annotations

import json
import os

import pytest

from polars_fastx_spark.epochs import (
    checkpoint_identity,
    next_epoch_of,
    stream_epoch_base,
)


def _mk_checkpoint(tmp_path, name: str, qid: str) -> str:
    ck = tmp_path / name
    ck.mkdir(parents=True, exist_ok=True)
    (ck / "metadata").write_text(json.dumps({"id": qid}))
    return str(ck)


def test_identity_is_query_id_not_path(spark, tmp_path):
    ck = _mk_checkpoint(tmp_path, "ck", "q-aaa")
    assert checkpoint_identity(spark, ck) == "q-aaa"
    # wipe-and-recreate at the SAME path: Spark generates a new query
    # id in metadata; identity must follow it
    (tmp_path / "ck" / "metadata").write_text(json.dumps({"id": "q-bbb"}))
    assert checkpoint_identity(spark, ck) == "q-bbb"


def test_identity_falls_back_to_path(spark, tmp_path):
    # no metadata yet (hand-driven gates, pre-start races)
    ck = tmp_path / "bare"
    ck.mkdir()
    assert checkpoint_identity(spark, str(ck)) == str(ck)
    # unparseable metadata
    (ck / "metadata").write_text("{torn")
    assert checkpoint_identity(spark, str(ck)) == str(ck)


def test_wiped_checkpoint_same_path_gets_new_base(spark, tmp_path):
    """THE round-6 advice scenario: rm -rf the checkpoint dir and
    restart at the same path. The old implementation keyed by path and
    reused the dead stream's base, so micro-batch 0 overwrote its
    committed epochs; identity-keying allocates a fresh base."""
    base_dir = str(tmp_path / "idx")
    os.makedirs(base_dir)
    ck = _mk_checkpoint(tmp_path, "ck", "first-run")
    assert stream_epoch_base(spark, base_dir, ck, lambda: 3) == 3
    # canonical fresh restart: wipe, recreate, new query id, SAME path
    (tmp_path / "ck" / "metadata").write_text(
        json.dumps({"id": "second-run"})
    )
    assert stream_epoch_base(spark, base_dir, ck, lambda: 11) == 11
    # the first stream's entry survives in the map (a late retry of
    # the old query would still find its base)
    bases = json.loads(open(f"{base_dir}/_stream_base").read())
    assert bases == {"first-run": 3, "second-run": 11}


def test_same_identity_reuses_base_without_next_epoch(spark, tmp_path):
    base_dir = str(tmp_path / "idx")
    os.makedirs(base_dir)
    ck = _mk_checkpoint(tmp_path, "ck", "q-1")
    assert stream_epoch_base(spark, base_dir, ck, lambda: 7) == 7

    def _boom():
        raise AssertionError("next_epoch consulted on a recorded base")

    assert stream_epoch_base(spark, base_dir, ck, _boom) == 7


def test_corrupt_base_file_recomputes_instead_of_raising(
    spark, tmp_path
):
    """A crash mid-overwrite can leave content json.loads rejects; the
    old fallback int(raw) then raised an uncaught ValueError and
    bricked the stream. Now: treat as absent, recompute from
    next_epoch (always above committed history), rewrite valid."""
    base_dir = str(tmp_path / "idx")
    os.makedirs(base_dir)
    with open(f"{base_dir}/_stream_base", "w") as fh:
        fh.write('{"q-1": 4')  # torn JSON — neither map nor int
    ck = _mk_checkpoint(tmp_path, "ck", "q-1")
    assert stream_epoch_base(spark, base_dir, ck, lambda: 9) == 9
    assert json.loads(open(f"{base_dir}/_stream_base").read()) == {
        "q-1": 9
    }


def test_legacy_single_int_format_still_reads(spark, tmp_path):
    base_dir = str(tmp_path / "idx")
    os.makedirs(base_dir)
    with open(f"{base_dir}/_stream_base", "w") as fh:
        fh.write("6")
    ck = _mk_checkpoint(tmp_path, "ck", "q-legacy")
    assert stream_epoch_base(
        spark, base_dir, ck, lambda: pytest.fail("should reuse legacy")
    ) == 6


def test_base_write_is_tmp_plus_rename(spark, tmp_path):
    base_dir = str(tmp_path / "idx")
    os.makedirs(base_dir)
    ck = _mk_checkpoint(tmp_path, "ck", "q-1")
    stream_epoch_base(spark, base_dir, ck, lambda: 1)
    # no tmp residue after a clean write
    assert not os.path.exists(f"{base_dir}/_stream_base.tmp")
    assert os.path.exists(f"{base_dir}/_stream_base")


def test_next_epoch_of_spans_dirs(spark, tmp_path):
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    spark.range(3).write.parquet(f"{out}/epoch=2")
    spark.range(3).write.parquet(f"{idx}/epoch=5")
    assert next_epoch_of(spark, out, idx) == 6
    assert next_epoch_of(spark, str(tmp_path / "missing")) == 0


def test_pipelines_aliases_point_at_shared_module(spark):
    """Task-5 centralization: the gates' in-module names must BE the
    shared implementation, not per-lane copies (it was the per-lane
    copy that diverged in round 6)."""
    from polars_fastx_spark.streaming import pipelines

    assert pipelines.stream_epoch_base is stream_epoch_base
    assert pipelines.next_epoch_of is next_epoch_of


def test_identity_flip_claims_path_base(spark, tmp_path):
    """round-7 ADVICE low #5: batch 0 often runs before Spark lands
    <checkpoint>/metadata, so its base records under the PATH key;
    once the query id becomes readable the same stream must keep that
    base (claimed under the query-id key), or a retried early batch
    would land on a fresh epoch and duplicate instead of replace."""
    base_dir = str(tmp_path / "idx")
    os.makedirs(base_dir)
    ck = tmp_path / "ck"
    ck.mkdir()
    # metadata not yet written: identity falls back to the path
    assert stream_epoch_base(spark, base_dir, str(ck), lambda: 5) == 5
    # Spark lands metadata; the SAME stream resolves its query id —
    # the base must carry over, never reallocate
    (ck / "metadata").write_text(json.dumps({"id": "q-live"}))

    def _boom():
        raise AssertionError("identity flip reallocated the base")

    assert stream_epoch_base(spark, base_dir, str(ck), _boom) == 5
    bases = json.loads(open(f"{base_dir}/_stream_base").read())
    # the entry MOVED to the query-id key (path key released, so a
    # wiped restart racing its metadata cannot inherit a dead base)
    assert bases == {"q-live": 5}
    # wiped restart at the same path, racing its own metadata write:
    # no path entry left to inherit -> fresh base above history
    (ck / "metadata").unlink()
    assert stream_epoch_base(spark, base_dir, str(ck), lambda: 9) == 9
    (ck / "metadata").write_text(json.dumps({"id": "q-second"}))
    assert stream_epoch_base(spark, base_dir, str(ck), _boom) == 9


# ------------------------------------------------ staged compaction crashes


class _Crash(Exception):
    pass


def _write_epoch(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _plain_shape(spark, root):
    for e in range(4):
        _write_epoch(
            spark, f"{root}/epoch={e}", [(2 * e, "a"), (2 * e + 1, "b")],
            "__id long, v string",
        )
    return {}


def _tombstone_shape(spark, root):
    rows = {0: [(0, "a"), (1, "b")], 1: [(2, "c")], 2: [(0, "d"), (3, "e")]}
    for e, r in rows.items():
        _write_epoch(spark, f"{root}/codes/epoch={e}", r, "__id long, v string")
    # 1 hides id 0's epoch-0 row (its epoch-2 re-add stays); 3 hides id 2
    for e, ids in ((1, [0]), (3, [2])):
        _write_epoch(
            spark, f"{root}/tombstones/epoch={e}", [(i,) for i in ids],
            "__id long",
        )
    return {"table": "codes", "tombstones": "tombstones"}


_DERIVED = {
    "sizes": lambda p: p.groupBy("__id").count(),
    "dfreq": lambda p: p.groupBy("shingle").count(),
}


def _derived_shape(spark, root):
    for e in range(3):
        post = spark.createDataFrame(
            [(10 * e + i, s) for i in range(2) for s in ("x", f"s{i}")],
            "__id long, shingle string",
        )
        _write_epoch(spark, f"{root}/postings/epoch={e}", post.collect(),
                     post.schema)
        for name, derive in _DERIVED.items():
            part = derive(post)
            _write_epoch(spark, f"{root}/{name}/epoch={e}", part.collect(),
                         part.schema)
    _write_epoch(spark, f"{root}/tombstones/epoch=3", [(1,), (20,)],
                 "__id long")
    return {"table": "postings", "tombstones": "tombstones",
            "derived": _DERIVED}


def _snapshot(spark, root):
    """Every epoch table under ``root``: its rows with their epoch."""
    tables = {}
    for dirpath, dirs, _ in os.walk(root):
        if any(d.startswith("epoch=") for d in dirs):
            df = spark.read.option("basePath", dirpath).parquet(
                f"{dirpath}/epoch=*"
            )
            tables[os.path.relpath(dirpath, root)] = sorted(
                tuple(r) for r in df.collect()
            )
    return tables


def _leftovers(root):
    """Stage dirs, and the tombstone epochs a compaction to 4 applies."""
    out = []
    for dirpath, dirs, _ in os.walk(root):
        out += [d for d in dirs if d.startswith(("_compact", "_ctmp"))]
        if os.path.basename(dirpath) == "tombstones":
            out += [d for d in dirs if int(d.split("=")[1]) <= 4]
    return out


@pytest.mark.parametrize(
    "shape", [_plain_shape, _tombstone_shape, _derived_shape],
    ids=["plain", "tombstones", "derived"],
)
def test_compaction_converges_after_a_crash_at_every_mutation(
    spark, tmp_path, monkeypatch, shape
):
    """Crash the staged compaction at each of its N filesystem
    mutations in turn, then rerun it: the tables end up exactly as a
    clean compaction leaves them, with no stage and no applied
    tombstone left."""
    import shutil

    from polars_fastx_spark import epochs

    template = str(tmp_path / "template")
    kwargs = shape(spark, template)
    real = epochs._mutate

    def _run(root, crash_at=None):
        calls = []

        def _mutate(fs, op, *paths):
            calls.append(op)
            if len(calls) == crash_at:
                raise _Crash(op)
            real(fs, op, *paths)

        monkeypatch.setattr(epochs, "_mutate", _mutate)
        try:
            epochs.compact(spark, root, 4, 2, **kwargs)
        finally:
            monkeypatch.setattr(epochs, "_mutate", real)
        return calls

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    n = len(_run(clean))
    want = _snapshot(spark, clean)
    assert not _leftovers(clean)
    assert want != _snapshot(spark, template)  # the compaction did fold
    for k in range(1, n + 1):
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(template, root)
        with pytest.raises(_Crash):
            _run(root, crash_at=k)
        epochs.compact(spark, root, 4, 2, **kwargs)
        assert _snapshot(spark, root) == want, k
        assert not _leftovers(root), k


def test_a_write_after_a_crashed_swap_survives_its_recovery(
    spark, tmp_path, monkeypatch
):
    """A crash after the swap deleted its sources leaves no committed
    epoch behind; the next write must still land above the stage's
    target, or the recovery's "delete sources <= target" deletes it."""
    from polars_fastx_spark import epochs

    root = str(tmp_path / "ds")
    _plain_shape(spark, root)
    real = epochs._mutate

    def _crash_at_rename(fs, op, *paths):
        if op == "rename":
            raise _Crash(op)
        real(fs, op, *paths)

    monkeypatch.setattr(epochs, "_mutate", _crash_at_rename)
    with pytest.raises(_Crash):
        epochs.compact(spark, root, 4, 2)
    monkeypatch.setattr(epochs, "_mutate", real)
    assert epochs.committed_epochs(spark, root) == []
    e = epochs.next_epoch_of(spark, root)
    assert e == 5  # above the stage's target 3 and bound 4
    _write_epoch(spark, f"{root}/epoch={e}", [(99, "z")], "__id long, v string")
    epochs.compact(spark, root, e + 1, 2)
    ids = sorted(r["__id"] for r in spark.read.parquet(root).collect())
    assert ids == [*range(8), 99]


def test_filesystem_mutations_go_through_the_epochs_module():
    """Hadoop deletes, renames and listings live in ``epochs.py``, where
    the crash tests above reach them; ``manifest.py`` keeps its own
    versioned-manifest store."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "polars_fastx_spark"
    pattern = re.compile(r"fs\.(?:delete|rename)\(|listStatus\(")
    found = sorted(
        path.relative_to(pkg).as_posix()
        for path in pkg.rglob("*.py")
        if pattern.search(path.read_text())
    )
    assert found == ["epochs.py", "operators/manifest.py"]
