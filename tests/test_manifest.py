"""operators/manifest.py — snapshot-isolated table commits (round-8 #4).

The round-7 verdict's one honesty caveat left in the write path:
dynamic-partition-overwrite MERGE lets a racing reader see a partition
mid-swap. The manifest table closes it — these tests pin the
old-or-never-mixed reader guarantee, crash-mid-commit recovery, replay
idempotence, and MERGE/delete/compaction all on the manifest path.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from polars_fastx_spark.operators import manifest as M


def _base(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10, 100),
            (2, "a", 20, 100),
            (3, "b", 30, 100),
            (4, "c", 40, 100),
        ],
        "id long, part string, val long, ver long",
    )


def _state(spark, path):
    return {
        (r["id"], r["part"], r["val"], r["ver"])
        for r in M.read_table(spark, path).collect()
    }


def test_create_read_roundtrip_and_prune(spark, tmp_path):
    path = str(tmp_path / "t")
    assert M.create_table(spark, path, _base(spark), "part") == 1
    assert _state(spark, path) == {
        (1, "a", 10, 100), (2, "a", 20, 100),
        (3, "b", 30, 100), (4, "c", 40, 100),
    }
    # manifest-level pruning: only partition 'a' rows
    only_a = M.read_table(spark, path, partition_values=["a"])
    assert {r["id"] for r in only_a.collect()} == {1, 2}
    # pruning that matches nothing: empty frame, schema intact
    none = M.read_table(spark, path, partition_values=["zz"])
    assert none.count() == 0 and set(none.columns) == {
        "id", "part", "val", "ver"
    }


def test_upsert_merges_and_leaves_untouched_dirs_alone(spark, tmp_path):
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    man1 = M.read_manifest(spark, path)
    updates = spark.createDataFrame(
        [(2, "a", 21, 200), (5, "a", 50, 200)],
        "id long, part string, val long, ver long",
    )
    v = M.upsert_table(spark, path, updates, ["id"], "ver")
    assert v == 2
    assert _state(spark, path) == {
        (1, "a", 10, 100), (2, "a", 21, 200), (5, "a", 50, 200),
        (3, "b", 30, 100), (4, "c", 40, 100),
    }
    man2 = M.read_manifest(spark, path)
    # untouched partitions still point at their v1 dirs (never
    # rewritten); the touched one repointed to v2
    assert man2["partitions"]["part=b"] == man1["partitions"]["part=b"]
    assert man2["partitions"]["part=c"] == man1["partitions"]["part=c"]
    assert man2["partitions"]["part=a"].startswith("data/v2/")
    # an update with an EQUAL order_col beats the stored row, and
    # replaying it leaves the same state
    tie = spark.createDataFrame(
        [(1, "a", 11, 100)], "id long, part string, val long, ver long"
    )
    want = {
        (1, "a", 11, 100), (2, "a", 21, 200), (5, "a", 50, 200),
        (3, "b", 30, 100), (4, "c", 40, 100),
    }
    for _ in range(2):
        M.upsert_table(spark, path, tie, ["id"], "ver")
        assert _state(spark, path) == want


def test_latest_per_key_picks_max_order(spark):
    df = spark.createDataFrame(
        [(1, 1, "old"), (1, 3, "new"), (2, 5, "only"), (1, 2, "mid")],
        "k long, v long, payload string",
    )
    from polars_fastx_spark.operators.manifest import latest_per_key

    got = {(r.k, r.v, r.payload) for r in latest_per_key(df, ["k"], "v").collect()}
    assert got == {(1, 3, "new"), (2, 5, "only")}


def test_reader_sees_one_version_never_mixed(spark, tmp_path):
    """THE snapshot-isolation pin: a frame resolved BEFORE a commit
    keeps reading the old version in full — the dirs it reads are
    immutable, so nothing it returns can mix versions."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    pinned = M.read_table(spark, path)  # resolves _CURRENT = v1 now
    updates = spark.createDataFrame(
        [(1, "a", 11, 200), (3, "b", 31, 200)],
        "id long, part string, val long, ver long",
    )
    M.upsert_table(spark, path, updates, ["id"], "ver")
    # the pinned reader still sees v1 EVERYWHERE (both updated
    # partitions) — not v1 for one partition and v2 for the other
    got = {(r["id"], r["val"]) for r in pinned.collect()}
    assert got == {(1, 10), (2, 20), (3, 30), (4, 40)}
    # a fresh reader sees v2 everywhere
    fresh = {
        (r["id"], r["val"])
        for r in M.read_table(spark, path).collect()
    }
    assert fresh == {(1, 11), (2, 20), (3, 31), (4, 40)}


def test_crash_mid_commit_recovers_and_replay_is_idempotent(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    updates = spark.createDataFrame(
        [(2, "a", 22, 200)], "id long, part string, val long, ver long"
    )
    # simulate the crash: stage v2 data + manifest file, but DIE
    # before the _CURRENT swap
    man = M.read_manifest(spark, path)
    merged = M.read_table(spark, path, ["a"])
    staged = M._stage_version(spark, path, merged, "part", 2)
    M._write_small_atomic(
        spark, f"{path}/_manifest/v2.json",
        json.dumps({"version": 2, "partition_col": "part",
                    "partitions": staged}),
    )
    # readers still see v1 — the commit never happened
    assert M.current_version(spark, path) == 1
    assert _state(spark, path) == {
        (1, "a", 10, 100), (2, "a", 20, 100),
        (3, "b", 30, 100), (4, "c", 40, 100),
    }
    # the retry recomputes version 2 from the unchanged _CURRENT,
    # overwrites the orphaned stage, and commits
    v = M.upsert_table(spark, path, updates, ["id"], "ver")
    assert v == 2
    want = {
        (1, "a", 10, 100), (2, "a", 22, 200),
        (3, "b", 30, 100), (4, "c", 40, 100),
    }
    assert _state(spark, path) == want
    # replaying the SAME batch converges to the same state
    v2 = M.upsert_table(spark, path, updates, ["id"], "ver")
    assert v2 == 3
    assert _state(spark, path) == want


def test_delete_and_emptied_partition_drops(spark, tmp_path):
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    keys = spark.createDataFrame(
        [(3, "b"), (4, "c")], "id long, part string"
    )
    # replaying the same delete batch leaves the same state
    for _ in range(2):
        M.delete_keys_table(spark, path, keys, ["id"])
        assert _state(spark, path) == {
            (1, "a", 10, 100), (2, "a", 20, 100),
        }
        man = M.read_manifest(spark, path)
        # the fully-deleted partitions vanish from the manifest (no dir
        # deletion racing a reader — vacuum reclaims bytes later)
        assert set(man["partitions"]) == {"part=a"}


def test_emptied_table_reads_empty_and_takes_the_next_merge(
    spark, tmp_path
):
    """Deleting every key leaves a manifest with no partitions; the
    recorded schema keeps it readable (0 rows, the schema a non-empty
    read had, partition column type included) and writable."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    schema = M.read_table(spark, path).schema
    M.delete_keys_table(
        spark, path, _base(spark).select("id", "part"), ["id"]
    )
    assert M.read_manifest(spark, path)["partitions"] == {}
    empty = M.read_table(spark, path)
    assert empty.count() == 0 and empty.schema == schema
    updates = spark.createDataFrame(
        [(7, "b", 70, 300)], "id long, part string, val long, ver long"
    )
    M.upsert_table(spark, path, updates, ["id"], "ver")
    assert _state(spark, path) == {(7, "b", 70, 300)}
    assert M.read_table(spark, path).schema == schema


def test_compaction_and_vacuum(spark, tmp_path):
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    for ver in (200, 300):
        updates = spark.createDataFrame(
            [(1, "a", ver, ver)],
            "id long, part string, val long, ver long",
        )
        M.upsert_table(spark, path, updates, ["id"], "ver")
    before = _state(spark, path)
    v = M.compact_table(spark, path)
    assert _state(spark, path) == before
    man = M.read_manifest(spark, path)
    # every partition now lives in the one fresh version
    assert all(
        rel.startswith(f"data/v{v}/") for rel in man["partitions"].values()
    )
    deleted = M.vacuum(spark, path)
    assert set(deleted) >= {"v1", "v2", "v3"}
    assert _state(spark, path) == before  # live data untouched


def test_null_partition_value_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    # escaped dir names (/ = % :) and a raw non-ASCII one decode back
    odd = "x/y=z%:é"
    df = spark.createDataFrame(
        [(1, None, 10, 1), (2, "a", 20, 1), (3, odd, 30, 1)],
        "id long, part string, val long, ver long",
    )
    M.create_table(spark, path, df, "part")
    got = {
        (r["id"], r["part"]) for r in M.read_table(spark, path).collect()
    }
    assert got == {(1, None), (2, "a"), (3, odd)}
    only_null = M.read_table(spark, path, partition_values=[None])
    assert {r["id"] for r in only_null.collect()} == {1}
    only_odd = M.read_table(spark, path, partition_values=[odd])
    assert {r["id"] for r in only_odd.collect()} == {3}


def test_streaming_upsert_manifest(spark, tmp_path):
    """Effectively-once streaming MERGE: file-source micro-batches
    upsert through the manifest commit — state converges across
    batches AND across a restart replay, and a reader pinned before a
    batch never sees a mixed version."""
    import json as _json

    from polars_fastx_spark.streaming.pipelines import (
        stream_upsert_manifest,
    )

    src = tmp_path / "in"
    src.mkdir()
    table, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    schema = "id long, part string, val long, ver long"

    def _feed(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )

    def _run():
        q = stream_upsert_manifest(
            spark.readStream.schema(schema).json(str(src)),
            table, ["id"], "part", "ver", ck,
        )
        q.awaitTermination(120)

    _feed("b0.json", [
        {"id": 1, "part": "a", "val": 10, "ver": 1},
        {"id": 2, "part": "b", "val": 20, "ver": 1},
        # within-batch duplicate key: ver 2 must win
        {"id": 2, "part": "b", "val": 21, "ver": 2},
    ])
    _run()
    got = {
        (r["id"], r["val"]) for r in M.read_table(spark, table).collect()
    }
    assert got == {(1, 10), (2, 21)}

    pinned = M.read_table(spark, table)  # snapshot before batch 2
    _feed("b1.json", [
        {"id": 1, "part": "a", "val": 11, "ver": 3},
        {"id": 3, "part": "a", "val": 30, "ver": 3},
    ])
    _run()
    fresh = {
        (r["id"], r["val"]) for r in M.read_table(spark, table).collect()
    }
    assert fresh == {(1, 11), (2, 21), (3, 30)}
    # the pinned reader still sees the pre-batch snapshot in full
    assert {
        (r["id"], r["val"]) for r in pinned.collect()
    } == {(1, 10), (2, 21)}

    # restart with a WIPED checkpoint replays everything: the merge
    # converges to the same state (effectively-once)
    import shutil

    shutil.rmtree(ck)
    _run()
    assert {
        (r["id"], r["val"]) for r in M.read_table(spark, table).collect()
    } == fresh


def test_vacuum_never_touches_inflight_stage(spark, tmp_path):
    """data/v<N+1> is unreferenced BY DESIGN until its _CURRENT swap
    lands — a vacuum racing a commit must skip it (round-8 ADVICE
    low #4). Only dirs at or below the current version are
    reclaimable."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    updates = spark.createDataFrame(
        [(1, "a", 99, 200)], "id long, part string, val long, ver long"
    )
    M.upsert_table(spark, path, updates, ["id"], "ver")  # -> v2
    before = _state(spark, path)
    # simulate a writer mid-commit: v3 staged, _CURRENT still at 2
    M._stage_version(spark, path, _base(spark), "part", 3)
    deleted = M.vacuum(spark, path)
    assert "v3" not in deleted
    assert os.path.isdir(os.path.join(path, "data", "v3"))
    # the in-flight commit can still land on its immutable stage
    assert _state(spark, path) == before
    # the writer's retry path: the next commit claims version 3,
    # rebuilds its stage (mode overwrite) and commits — after which
    # v3 is referenced and still protected, for the right reason
    upd2 = spark.createDataFrame(
        [(2, "a", 77, 300)], "id long, part string, val long, ver long"
    )
    v = M.upsert_table(spark, path, upd2, ["id"], "ver")
    assert v == 3
    deleted2 = M.vacuum(spark, path)
    assert "v3" not in deleted2
    got = {r["id"]: r["val"] for r in M.read_table(spark, path).collect()}
    assert got[2] == 77


def test_time_travel_reads_historical_versions(spark, tmp_path):
    """read_table(version=N) resolves v<N>.json directly — every
    committed snapshot stays readable (round-9 #3), pinned to its
    immutable dirs, while _CURRENT marches on."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    M.upsert_table(
        spark, path,
        spark.createDataFrame(
            [(2, "a", 21, 200)], "id long, part string, val long, ver long"
        ),
        ["id"], "ver",
    )
    M.delete_keys_table(
        spark, path,
        spark.createDataFrame([(3, "b")], "id long, part string"),
        ["id"],
    )
    assert M.list_versions(spark, path) == [1, 2, 3]
    v1 = {r["id"]: r["val"]
          for r in M.read_table(spark, path, version=1).collect()}
    assert v1 == {1: 10, 2: 20, 3: 30, 4: 40}
    v2 = {r["id"]: r["val"]
          for r in M.read_table(spark, path, version=2).collect()}
    assert v2 == {1: 10, 2: 21, 3: 30, 4: 40}
    assert {r["id"] for r in M.read_table(spark, path).collect()} == {
        1, 2, 4
    }
    # pruning composes with time travel
    a1 = M.read_table(spark, path, partition_values=["a"], version=1)
    assert {r["id"] for r in a1.collect()} == {1, 2}
    with pytest.raises(FileNotFoundError):
        M.read_manifest(spark, path, version=99)


def test_rollback_is_a_new_commit_with_zero_data_movement(
    spark, tmp_path
):
    """rollback(path, v) repoints the NEXT version's manifest at the
    target's immutable dirs: one manifest write + one _CURRENT
    rename, no re-staging, history monotonic (a pinned reader of any
    intermediate version stays valid; rollback-of-rollback is just
    another commit)."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    man1 = M.read_manifest(spark, path)
    M.upsert_table(
        spark, path,
        spark.createDataFrame(
            [(2, "a", 21, 200), (5, "a", 50, 200)],
            "id long, part string, val long, ver long",
        ),
        ["id"], "ver",
    )
    # a reader pinned to v2 BEFORE the rollback
    pinned_v2 = M.read_table(spark, path)
    v = M.rollback(spark, path, 1)
    assert v == 3
    man3 = M.read_manifest(spark, path)
    assert man3["rollback_of"] == 1
    # identical partition map -> the v1 dirs, not a copy
    assert man3["partitions"] == man1["partitions"]
    assert not os.path.isdir(os.path.join(path, "data", "v3"))
    assert _state(spark, path) == {
        (1, "a", 10, 100), (2, "a", 20, 100),
        (3, "b", 30, 100), (4, "c", 40, 100),
    }
    # the pinned pre-rollback reader still serves v2's content
    assert {r["id"] for r in pinned_v2.collect()} == {1, 2, 3, 4, 5}
    # rolling forward again composes: back to v2's state as v4
    assert M.rollback(spark, path, 2) == 4
    got = {r["id"]: r["val"] for r in M.read_table(spark, path).collect()}
    assert got == {1: 10, 2: 21, 3: 30, 4: 40, 5: 50}
    # upserts continue cleanly after a rollback
    M.upsert_table(
        spark, path,
        spark.createDataFrame(
            [(6, "c", 60, 500)], "id long, part string, val long, ver long"
        ),
        ["id"], "ver",
    )
    assert M.read_manifest(spark, path)["version"] == 5


def test_vacuum_keep_versions_bounds_the_time_travel_window(
    spark, tmp_path
):
    """vacuum(keep_versions=k) keeps the k newest committed snapshots
    fully readable (their dirs AND manifests) and reclaims everything
    older — list_versions is exactly the travelable window after."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    for i, ver in enumerate((200, 300, 400)):
        M.upsert_table(
            spark, path,
            spark.createDataFrame(
                [(1, "a", ver, ver)],
                "id long, part string, val long, ver long",
            ),
            ["id"], "ver",
        )
    deleted = M.vacuum(spark, path, keep_versions=2)
    assert M.list_versions(spark, path) == [3, 4]
    assert "v1.json" in deleted and "v2.json" in deleted
    # both kept versions remain fully readable
    assert {r["val"] for r in M.read_table(
        spark, path, version=3).where(F.col("id") == 1).collect()
    } == {300}
    assert {r["val"] for r in M.read_table(
        spark, path, version=4).where(F.col("id") == 1).collect()
    } == {400}
    # v3 still references v1 dirs for untouched partitions: those
    # dirs must survive even though manifest v1 itself is gone
    man3 = M.read_manifest(spark, path, version=3)
    for rel in man3["partitions"].values():
        assert os.path.isdir(os.path.join(path, rel.rsplit("/", 1)[0]))
    with pytest.raises(FileNotFoundError):
        M.read_table(spark, path, version=1)
    with pytest.raises(ValueError):
        M.vacuum(spark, path, keep_versions=0)


def test_zone_map_stats_prune_and_stay_exact(spark, tmp_path):
    """stats_cols records per-partition [min,max] zone maps in the
    manifest; read_table(range_filter=...) skips partitions that
    cannot match BEFORE opening any file (decision pinned via
    _select_partitions — manifest-only), and the surviving frame
    still applies the row predicate, so results are exact."""
    path = str(tmp_path / "t")
    # range-partitioned ids: bucket b holds ids [100b, 100b+99]
    df = spark.range(400).selectExpr(
        "id", "CAST(id DIV 100 AS STRING) AS part", "id * 2 AS val"
    )
    M.create_table(spark, path, df, "part", stats_cols=["id", "val"])
    man = M.read_manifest(spark, path)
    assert man["stats_cols"] == ["id", "val"]
    assert man["stats"]["0"]["id"] == [0, 99]
    assert man["stats"]["3"]["val"] == [600, 798]
    # pruning decision, manifest-only: a probe inside bucket 1
    sel = M._select_partitions(man, range_filter={"id": (150, 160)})
    assert set(sel) == {"part=1"}
    # half-open ranges
    assert set(M._select_partitions(
        man, range_filter={"id": (250, None)})) == {"part=2", "part=3"}
    assert set(M._select_partitions(
        man, range_filter={"val": (None, 150)})) == {"part=0"}
    # conjunction across columns prunes to the intersection
    assert set(M._select_partitions(
        man, range_filter={"id": (None, 250), "val": (590, None)}
    )) == {"part=2"}
    # and the READ is exact: same rows as a full-scan filter
    got = sorted(
        r["id"] for r in M.read_table(
            spark, path, range_filter={"id": (95, 105)}
        ).collect()
    )
    assert got == list(range(95, 106))
    # no-match range: empty frame, schema intact
    none = M.read_table(spark, path, range_filter={"id": (1000, 2000)})
    assert none.count() == 0 and "val" in none.columns


def test_zone_maps_maintained_by_upsert_delete_rollback(spark, tmp_path):
    """The stats are a table property: upsert re-aggregates touched
    partitions, untouched ranges persist, a fully-deleted partition
    drops its stats, and rollback restores the target snapshot's
    maps. A table created WITHOUT stats never prunes (range_filter
    still filters rows, conservatively reading everything)."""
    path = str(tmp_path / "t")
    df = spark.range(200).selectExpr(
        "id", "CAST(id DIV 100 AS STRING) AS part", "CAST(1 AS LONG) AS rev"
    )
    M.create_table(spark, path, df, "part", stats_cols=["id"])
    # upsert pushes bucket 1's max id out
    up = spark.createDataFrame(
        [(500, "1", 2)], "id long, part string, rev long"
    )
    M.upsert_table(spark, path, up, ["id"], "rev")
    man = M.read_manifest(spark, path)
    assert man["stats"]["1"]["id"] == [100, 500]
    assert man["stats"]["0"]["id"] == [0, 99]  # untouched persisted
    # the widened range is now reachable by a pruned read
    got = {r["id"] for r in M.read_table(
        spark, path, range_filter={"id": (400, None)}).collect()}
    assert got == {500}
    # delete everything in bucket 0 -> its stats entry goes with it
    keys = spark.range(100).selectExpr("id", "'0' AS part")
    M.delete_keys_table(spark, path, keys, ["id"])
    man2 = M.read_manifest(spark, path)
    assert "0" not in man2["stats"] and "part=0" not in man2["partitions"]
    # rollback to v1 restores the original zone maps
    M.rollback(spark, path, 1)
    man3 = M.read_manifest(spark, path)
    assert man3["stats"]["1"]["id"] == [100, 199]
    assert man3["stats"]["0"]["id"] == [0, 99]
    # stats-less table: no pruning, exact rows
    path2 = str(tmp_path / "t2")
    M.create_table(spark, path2, df, "part")
    man4 = M.read_manifest(spark, path2)
    assert len(M._select_partitions(
        man4, range_filter={"id": (0, 1)})) == len(man4["partitions"])
    got2 = sorted(r["id"] for r in M.read_table(
        spark, path2, range_filter={"id": (10, 12)}).collect())
    assert got2 == [10, 11, 12]


def test_schema_evolution_on_upsert(spark, tmp_path):
    """evolve_schema=True lets a widened batch MERGE: the new column
    is NULL on rows the batch didn't rewrite, columns the batch lacks
    are NULL on its rows, untouched partitions never rewrite (their
    old-schema files read the new column as NULL via the by-name
    union), and the default stays STRICT — a mismatched batch raises
    instead of silently widening."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    man1 = M.read_manifest(spark, path)
    widened = spark.createDataFrame(
        [(2, "a", 21, 200, 0.9), (5, "a", 50, 200, 0.5)],
        "id long, part string, val long, ver long, score double",
    )
    with pytest.raises(AnalysisException):
        M.upsert_table(spark, path, widened, ["id"], "ver")
    M.upsert_table(
        spark, path, widened, ["id"], "ver", evolve_schema=True
    )
    got = {
        r["id"]: (r["val"], r["score"])
        for r in M.read_table(spark, path).collect()
    }
    assert got == {
        1: (10, None), 2: (21, 0.9), 3: (30, None),
        4: (40, None), 5: (50, 0.5),
    }
    # untouched partitions kept their v1 dirs — no table-wide rewrite
    man2 = M.read_manifest(spark, path)
    assert man2["partitions"]["part=b"] == man1["partitions"]["part=b"]
    # a later NARROW batch (no score) merges too: its rows read score
    # as NULL, others keep theirs
    narrow = spark.createDataFrame(
        [(2, "a", 22, 300)], "id long, part string, val long, ver long"
    )
    M.upsert_table(spark, path, narrow, ["id"], "ver", evolve_schema=True)
    got2 = {
        r["id"]: (r["val"], r["score"])
        for r in M.read_table(spark, path).collect()
    }
    assert got2[2] == (22, None) and got2[5] == (50, 0.5)


def test_schema_evolution_with_zone_maps(spark, tmp_path):
    """Stats on a column a widened batch introduces: the touched
    partition records bounds for the columns it HAS; absent bounds
    prune conservatively, so range reads stay exact."""
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id", "CAST(id DIV 50 AS STRING) AS part", "CAST(1 AS LONG) AS rev"
    )
    M.create_table(spark, path, df, "part", stats_cols=["id", "score"])
    # score doesn't exist yet: stats recorded for id only
    man = M.read_manifest(spark, path)
    assert man["stats"]["0"]["id"] == [0, 49]
    assert "score" not in man["stats"]["0"]
    up = spark.createDataFrame(
        [(10, "0", 2, 7.5)], "id long, part string, rev long, score double"
    )
    M.upsert_table(spark, path, up, ["id"], "rev", evolve_schema=True)
    man2 = M.read_manifest(spark, path)
    assert man2["stats"]["0"]["score"] == [7.5, 7.5]
    # bucket 1 has no score bounds -> conservative keep; read exact
    got = {r["id"] for r in M.read_table(
        spark, path, range_filter={"score": (5.0, None)}).collect()}
    assert got == {10}


def test_streaming_upsert_schema_evolution_across_restart(
    spark, tmp_path
):
    """A mid-stream schema widening is a query RESTART with a new
    source schema: the next run's batches MERGE under
    evolve_schema=True instead of failing — old rows read the new
    column as NULL, and the strict default still raises."""
    import json as _json

    from pyspark.errors import AnalysisException

    from polars_fastx_spark.streaming.pipelines import (
        stream_upsert_manifest,
    )

    src1, src2 = tmp_path / "in1", tmp_path / "in2"
    src1.mkdir(); src2.mkdir()
    table = str(tmp_path / "tbl")

    (src1 / "b0.json").write_text(_json.dumps(
        {"id": 1, "part": "a", "val": 10, "ver": 1}
    ) + "\n" + _json.dumps(
        {"id": 2, "part": "b", "val": 20, "ver": 1}
    ))
    q = stream_upsert_manifest(
        spark.readStream.schema(
            "id long, part string, val long, ver long"
        ).json(str(src1)),
        table, ["id"], "part", "ver", str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)

    (src2 / "b0.json").write_text(_json.dumps(
        {"id": 2, "part": "b", "val": 21, "ver": 2, "score": 0.9}
    ))
    widened = spark.readStream.schema(
        "id long, part string, val long, ver long, score double"
    ).json(str(src2))
    # strict default: the widened batch fails the query
    q = stream_upsert_manifest(
        widened, table, ["id"], "part", "ver", str(tmp_path / "ck2"),
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(120)
    assert "NUM_COLUMNS_MISMATCH" in str(exc.value) or isinstance(
        exc.value, AnalysisException
    )
    # evolve_schema=True merges it
    q = stream_upsert_manifest(
        widened, table, ["id"], "part", "ver", str(tmp_path / "ck3"),
        evolve_schema=True,
    )
    q.awaitTermination(120)
    got = {
        (r["id"], r["val"], r["score"])
        for r in M.read_table(spark, table).collect()
    }
    assert got == {(1, 10, None), (2, 21, 0.9)}


def test_table_history_audit_view(spark, tmp_path):
    """table_history lists every travelable version with its
    partition count, the current marker, and rollback provenance."""
    path = str(tmp_path / "t")
    M.create_table(spark, path, _base(spark), "part")
    M.delete_keys_table(
        spark, path,
        spark.createDataFrame([(3, "b")], "id long, part string"),
        ["id"],
    )
    M.rollback(spark, path, 1)
    hist = M.table_history(spark, path)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert [h["n_partitions"] for h in hist] == [3, 2, 3]
    assert [h["current"] for h in hist] == [False, False, True]
    assert [h["rollback_of"] for h in hist] == [None, None, 1]
    # vacuum trims the view to the kept window
    M.vacuum(spark, path, keep_versions=1)
    hist2 = M.table_history(spark, path)
    assert [h["version"] for h in hist2] == [3]


def test_time_travel_uses_the_historical_zone_maps(spark, tmp_path):
    """range_filter on a version=N read prunes with THAT manifest's
    stats — a later upsert that widened a bucket's range must not
    leak into the historical pruning decision (and vice versa)."""
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id", "CAST(id DIV 50 AS STRING) AS part", "CAST(1 AS LONG) AS rev"
    )
    M.create_table(spark, path, df, "part", stats_cols=["id"])
    M.upsert_table(
        spark, path,
        spark.createDataFrame(
            [(900, "0", 2)], "id long, part string, rev long"
        ),
        ["id"], "rev",
    )
    # current manifest: bucket 0 spans [0, 900] -> probe at 900 hits
    assert {r["id"] for r in M.read_table(
        spark, path, range_filter={"id": (800, None)}).collect()} == {900}
    # v1 manifest: bucket 0 spans [0, 49] -> the same probe prunes
    # EVERYTHING and returns empty (exactly v1's truth)
    man1 = M.read_manifest(spark, path, version=1)
    assert M._select_partitions(man1, range_filter={"id": (800, None)}) == {}
    assert M.read_table(
        spark, path, version=1, range_filter={"id": (800, None)}
    ).count() == 0
