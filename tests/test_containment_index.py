"""Persisted containment index (operators/dedup.py containment_index_*
+ containment_gate): batch==incremental parity with containment_pairs,
gate semantics, maintained-df cap, compaction invariance, and the
streaming wiring's retried-epoch idempotence (r5 verdict task 1 —
mirroring what the MinHash band index + neardup_gate established)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polars_fastx_spark.operators import dedup


@pytest.fixture()
def srcdir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    return d

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def _cross_pairs(pairs_rows, head_ids):
    """containment_pairs output restricted to (batch, history) cross
    pairs, reshaped to the gate's directed (doc_id, matched_id) form."""
    out = []
    for r in pairs_rows:
        a, b = r["id_a"], r["id_b"]
        if (a in head_ids) != (b in head_ids):
            t, h = (a, b) if b in head_ids else (b, a)
            c_th = r["containment_a_in_b"] if t == a else r["containment_b_in_a"]
            c_ht = r["containment_b_in_a"] if t == a else r["containment_a_in_b"]
            out.append((t, h, r["common"], round(c_th, 9), round(c_ht, 9)))
    return sorted(out)


def test_hits_match_batch_operator_cross_pairs(spark, tmp_path):
    """Incremental == batch: hits of a new batch against an index
    built from corpus C are exactly containment_pairs(C ∪ batch)
    restricted to (batch, C) cross pairs at the same threshold."""
    d = _docs(spark).filter("doc_id < 120")
    head = d.filter(F.col("doc_id") % 3 != 0)
    tail = d.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "cidx")
    dedup.containment_index_build(head, "doc_id", "text", path, k=8)
    got = sorted(
        (
            r["doc_id"], r["matched_id"], r["common"],
            round(r["containment_batch_in_hist"], 9),
            round(r["containment_hist_in_batch"], 9),
        )
        for r in dedup.containment_hits(
            tail, path, "text", threshold=0.3
        ).collect()
    )
    head_ids = {r["doc_id"] for r in head.select("doc_id").collect()}
    want = _cross_pairs(
        dedup.containment_pairs(d, "doc_id", "text", k=8, threshold=0.3)
        .collect(),
        head_ids,
    )
    assert got == want and len(got) > 0


def test_gate_drops_hits_and_passes_shingleless(spark, tmp_path):
    """Gate decision is per-document (any hit drops, keep_hits flips),
    and shingle-less docs (text shorter than k) carry no evidence and
    PASS — the same no-evidence rule as the LSH band gate."""
    hist = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight ok")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "cidx")
    dedup.containment_index_build(hist, "doc_id", "text", path, k=8)
    batch = spark.createDataFrame(
        [
            (10, "quote: the quick brown fox jumps over the lazy dog"),
            (11, "entirely novel text about spark catalyst planning"),
            (12, "short"),  # < k chars: no shingles
            (13, None),     # null text: no shingles
        ],
        "doc_id long, text string",
    )
    kept = dedup.containment_gate(
        batch, path, "doc_id", "text", threshold=0.5
    )
    assert {r["doc_id"] for r in kept.collect()} == {11, 12, 13}
    hits = dedup.containment_gate(
        batch, path, "doc_id", "text", threshold=0.5, keep_hits=True
    )
    assert {r["doc_id"] for r in hits.collect()} == {10}


def test_add_extends_history_without_reshingling(spark, tmp_path):
    """build(head) + add(mid) answers a later batch exactly like
    build(head ∪ mid) — the incremental add is history-equivalent."""
    d = _docs(spark).filter("doc_id < 150")
    head = d.filter("doc_id < 60")
    mid = d.filter("doc_id >= 60 and doc_id < 100")
    batch = d.filter("doc_id >= 100")
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")
    dedup.containment_index_build(head, "doc_id", "text", p_inc, k=8)
    e = dedup.containment_index_add(mid, p_inc, "text")
    assert e == 1
    dedup.containment_index_build(
        head.unionByName(mid), "doc_id", "text", p_full, k=8
    )

    def _h(p):
        return sorted(
            (r["doc_id"], r["matched_id"], r["common"])
            for r in dedup.containment_hits(
                batch, p, "text", threshold=0.3
            ).collect()
        )

    got, want = _h(p_inc), _h(p_full)
    assert got == want and len(got) > 0


def test_maintained_df_cap_cuts_hot_shingles(spark, tmp_path):
    """max_shingle_df uses the MAINTAINED per-epoch dfreq tables
    (summed), never a postings re-aggregation: a boilerplate shingle
    present in every history doc is cut under a fractional cap, so a
    batch doc sharing ONLY boilerplate no longer hits; sizes stay
    uncapped (scores are lower bounds)."""
    boiler = "subscribe to our newsletter today"
    hist = spark.createDataFrame(
        [(i, f"unique document body number {i} xyzzy{i} " + boiler)
         for i in range(10)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "cidx")
    # build in two epochs so the cap must SUM df across epochs
    dedup.containment_index_build(
        hist.filter("doc_id < 5"), "doc_id", "text", path, k=8
    )
    dedup.containment_index_add(hist.filter("doc_id >= 5"), path, "text")
    batch = spark.createDataFrame(
        [(100, "totally different content. " + boiler)], ["doc_id", "text"]
    )
    uncapped = dedup.containment_hits(batch, path, "text", threshold=0.3)
    assert uncapped.count() > 0  # boilerplate alone clears 0.3
    capped = dedup.containment_hits(
        batch, path, "text", threshold=0.3, max_shingle_df=0.4
    )
    assert capped.count() == 0  # df=10 > floor(0.4·10): evidence cut


def test_compaction_preserves_gate_results(spark, tmp_path):
    """Folding the three epoch-partitioned tables changes layout, not
    answers: hits are identical before and after, and per-shingle df
    (a SUM across epochs) survives the fold row-for-row."""
    d = _docs(spark).filter("doc_id < 100")
    path = str(tmp_path / "cidx")
    dedup.containment_index_build(
        d.filter("doc_id < 30"), "doc_id", "text", path, k=8
    )
    dedup.containment_index_add(
        d.filter("doc_id >= 30 and doc_id < 60"), path, "text"
    )
    dedup.containment_index_add(
        d.filter("doc_id >= 60 and doc_id < 90"), path, "text"
    )
    batch = d.filter("doc_id >= 90")
    before = sorted(
        (r["doc_id"], r["matched_id"], r["common"])
        for r in dedup.containment_hits(
            batch, path, "text", threshold=0.3, max_shingle_df=0.5
        ).collect()
    )
    assert len(
        [x for x in os.listdir(f"{path}/postings") if x.startswith("epoch=")]
    ) == 3
    dedup.containment_index_compact(spark, path)
    for sub in ("postings", "sizes", "dfreq"):
        assert [
            x for x in os.listdir(f"{path}/{sub}") if x.startswith("epoch=")
        ] == ["epoch=2"], sub
    after = sorted(
        (r["doc_id"], r["matched_id"], r["common"])
        for r in dedup.containment_hits(
            batch, path, "text", threshold=0.3, max_shingle_df=0.5
        ).collect()
    )
    assert after == before and len(before) > 0


def test_gate_epoch_retry_is_idempotent(spark, tmp_path):
    """The streaming wiring's at-least-once retry: replaying an epoch
    gates against ONLY epoch < current (never its own failed attempt's
    append — the self-collision that emptied a micro-batch in the
    MinHash gate's round-5 bug), and overwrites its own output."""
    from polars_fastx_spark.streaming.pipelines import (
        _containment_gate_epoch,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight ok")],
        ["doc_id", "text"],
    )
    b1 = spark.createDataFrame(
        [
            (10, "quote: the quick brown fox jumps over the lazy dog"),
            (11, "entirely novel text about spark catalyst planning"),
        ],
        ["doc_id", "text"],
    )
    _containment_gate_epoch(b0, 0, idx, out, "doc_id", "text", threshold=0.5)
    _containment_gate_epoch(b1, 1, idx, out, "doc_id", "text", threshold=0.5)
    kept1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept1 == {11}
    # redelivery of epoch 1: must see the index as of batch start —
    # NOT its own epoch-1 append — and reproduce the same output
    _containment_gate_epoch(b1, 1, idx, out, "doc_id", "text", threshold=0.5)
    again = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert again == kept1
    post = spark.read.option("basePath", f"{idx}/postings").parquet(
        f"{idx}/postings/epoch=*"
    )
    # no duplicated postings from the replay
    assert post.count() == post.distinct().count()
    assert {r["__id"] for r in post.select("__id").distinct().collect()} == {1, 11}


def test_stream_containment_gate_end_to_end(spark, srcdir, tmp_path):
    """Full streaming wiring: a doc quoting a batch-0 doc is dropped
    in batch 1; clean docs pass; the index grew by exactly the kept
    docs' postings."""
    import json

    from polars_fastx_spark.streaming.pipelines import (
        stream_containment_gate,
    )

    idx, out, ck = (
        str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "ck")
    )

    def _batch(name, rows):
        (srcdir / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
            + "\n"
        )

    docs = (
        spark.readStream.schema("doc_id long, text string").json(str(srcdir))
    )
    _batch("b0.json", [
        (1, "the quick brown fox jumps over the lazy dog tonight ok"),
        (2, "perfectly clean document about gardening and hiking trails"),
    ])
    q = stream_containment_gate(
        docs, "doc_id", "text", idx, out, ck, threshold=0.5
    )
    q.awaitTermination(120)
    _batch("b1.json", [
        (10, "he said: the quick brown fox jumps over the lazy dog !!"),
        (11, "novel clean training text with no overlap at all xq"),
    ])
    q = stream_containment_gate(
        docs, "doc_id", "text", idx, out, ck, threshold=0.5
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 11}
    indexed = {
        r["__id"]
        for r in spark.read.parquet(f"{idx}/postings").select("__id")
        .distinct().collect()
    }
    assert indexed == {1, 2, 11}


def _hits_tuples(batch, path, threshold=0.3, **kw):
    return sorted(
        (
            r["doc_id"], r["matched_id"], r["common"],
            round(r["containment_batch_in_hist"], 9),
            round(r["containment_hist_in_batch"], 9),
        )
        for r in dedup.containment_hits(
            batch, path, "text", threshold=threshold, **kw
        ).collect()
    )


def test_delete_equals_index_built_without(spark, tmp_path):
    """Tombstoned docs vanish from hits EXACTLY as if the index had
    been built without them — including the maintained-df correction
    (checked under a df cap, where a stale df would shift the allowed
    shingle set)."""
    d = _docs(spark).filter("doc_id < 150")
    hist = d.filter(F.col("doc_id") % 3 != 0)
    kept = hist.filter(F.col("doc_id") % 5 != 0)
    dead = hist.filter(F.col("doc_id") % 5 == 0)
    batch = d.filter(F.col("doc_id") % 3 == 0)

    p_del = str(tmp_path / "with_delete")
    p_ref = str(tmp_path / "reference")
    dedup.containment_index_build(hist, "doc_id", "text", p_del, k=8)
    dedup.containment_index_delete(
        spark, p_del, dead.select("doc_id")
    )
    dedup.containment_index_build(kept, "doc_id", "text", p_ref, k=8)
    for cap in (None, 0.2):
        got = _hits_tuples(batch, p_del, max_shingle_df=cap)
        want = _hits_tuples(batch, p_ref, max_shingle_df=cap)
        assert got == want and len(want) > 0, f"cap={cap}"


def test_delete_then_readd_revives(spark, tmp_path):
    """A re-added doc lands above its tombstone on the shared epoch
    counter and is visible again with its new content."""
    hist = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "cidx")
    dedup.containment_index_build(hist, "doc_id", "text", path, k=8)
    assert len(_hits_tuples(batch, path)) > 0
    dedup.containment_index_delete(spark, path, [1])
    assert _hits_tuples(batch, path) == []
    dedup.containment_index_add(hist, path)  # revive
    assert len(_hits_tuples(batch, path)) > 0


def test_compact_applies_tombstones_physically(spark, tmp_path):
    """After compaction the tombstones are gone, the dead doc's
    postings are off disk, sizes/dfreq are rederived from the live
    fold, and hits are unchanged."""
    d = _docs(spark).filter("doc_id < 150")
    hist = d.filter(F.col("doc_id") % 3 != 0)
    dead_ids = [
        r["doc_id"]
        for r in hist.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id").collect()
    ]
    batch = d.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "cidx")
    dedup.containment_index_build(hist, "doc_id", "text", path, k=8)
    dedup.containment_index_delete(spark, path, dead_ids)
    before = _hits_tuples(batch, path, max_shingle_df=0.2)
    dedup.containment_index_compact(spark, path)
    assert not os.path.exists(f"{path}/tombstones")
    on_disk = {
        r["__id"]
        for r in spark.read.option("basePath", f"{path}/postings")
        .parquet(f"{path}/postings/epoch=*").select("__id").collect()
    }
    assert on_disk.isdisjoint(set(dead_ids))
    assert _hits_tuples(batch, path, max_shingle_df=0.2) == before
    # dfreq rederived: per-shingle sums must equal live postings counts
    live_df = {
        (r["shingle"], r["n"])
        for r in spark.read.option("basePath", f"{path}/postings")
        .parquet(f"{path}/postings/epoch=*")
        .groupBy("shingle").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stored_df = {
        (r["shingle"], r["s"])
        for r in spark.read.option("basePath", f"{path}/dfreq")
        .parquet(f"{path}/dfreq/epoch=*")
        .groupBy("shingle").agg(F.sum("__df").alias("s")).collect()
    }
    assert live_df == stored_df


def test_compact_completes_a_crashed_plain_fold_before_a_delete(
    spark, tmp_path
):
    """A plain per-table fold crashed inside its postings swap: sizes
    and dfreq were folded, ``postings/_compact_tmp_e2`` was committed
    and source epoch 1 deleted. A delete, then two compactions: every
    doc stays live except the deleted one. The tombstone fold once
    ignored the plain stage (losing epoch 1's docs), and the next plain
    compaction then swapped the stale stage over the fold, bringing
    back both those docs and the deleted one."""
    import shutil

    from polars_fastx_spark.sources.sinks import compact_epoch_partitions

    d = _docs(spark).filter("doc_id < 60")
    path = str(tmp_path / "cidx")
    dedup.containment_index_build(
        d.filter("doc_id < 20"), "doc_id", "text", path, k=8
    )
    dedup.containment_index_add(d.filter("doc_id >= 20 and doc_id < 40"), path)
    dedup.containment_index_add(d.filter("doc_id >= 40"), path)
    for sub in ("sizes", "dfreq"):
        compact_epoch_partitions(spark, f"{path}/{sub}", 3)
    posts = f"{path}/postings"
    (
        spark.read.option("basePath", posts).parquet(f"{posts}/epoch=*")
        .drop("epoch").coalesce(1).write.parquet(f"{posts}/_compact_tmp_e2")
    )
    shutil.rmtree(f"{posts}/epoch=1")
    dedup.containment_index_delete(spark, path, [5])
    dedup.containment_index_compact(spark, path)
    dedup.containment_index_compact(spark, path)
    for root in (path, posts):
        assert not [
            n for n in os.listdir(root) if n.startswith(("_compact", "_ctmp"))
        ]
    want = [i for i in range(60) if i != 5]
    for sub in ("postings", "sizes"):
        rows = spark.read.parquet(f"{path}/{sub}").select("__id").distinct()
        assert sorted(r["__id"] for r in rows.collect()) == want, sub


def test_compact_tombstone_midswap_crash_recovers(spark, tmp_path):
    """A crash between the _COMMIT marker and the renames converges on
    rerun to the same index a clean compaction produces."""
    import shutil

    d = _docs(spark).filter("doc_id < 150")
    hist = d.filter(F.col("doc_id") % 3 != 0)
    dead = [
        r["doc_id"]
        for r in hist.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id").collect()
    ]
    batch = d.filter(F.col("doc_id") % 3 == 0)
    p_crash = str(tmp_path / "crash")
    p_clean = str(tmp_path / "clean")
    for p in (p_crash, p_clean):
        dedup.containment_index_build(hist, "doc_id", "text", p, k=8)
        dedup.containment_index_add(
            _docs(spark).filter(
                (F.col("doc_id") >= 150) & (F.col("doc_id") < 180)
            ),
            p,
        )
        dedup.containment_index_delete(spark, p, dead)
    dedup.containment_index_compact(spark, p_clean)
    # stage a committed fold on p_crash, swap only postings, "crash"
    dedup.containment_index_compact(
        spark, p_crash, upto_epoch=10, min_epochs=1
    )
    want = _hits_tuples(batch, p_clean, max_shingle_df=0.2)
    # simulate the mid-swap state instead: rebuild, commit, part-swap
    p_mid = str(tmp_path / "mid")
    dedup.containment_index_build(hist, "doc_id", "text", p_mid, k=8)
    dedup.containment_index_delete(spark, p_mid, dead)
    eps = sorted(
        int(n.split("=")[1])
        for n in os.listdir(f"{p_mid}/postings")
        if n.startswith("epoch=")
    )
    target = max(eps)
    stage = f"{p_mid}/_ctmp_e{target}_t10"
    live = (
        spark.read.option("basePath", f"{p_mid}/postings")
        .parquet(f"{p_mid}/postings/epoch=*")
        .filter(~F.col("__id").isin(dead))
        .drop("epoch")
    )
    live.write.parquet(f"{stage}/postings")
    live.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz")).write.parquet(
        f"{stage}/sizes"
    )
    live.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    ).write.parquet(f"{stage}/dfreq")
    open(f"{stage}/_COMMIT", "w").close()
    # crash mid-swap: postings sources deleted + renamed, rest not
    for n in list(os.listdir(f"{p_mid}/postings")):
        if n.startswith("epoch="):
            shutil.rmtree(f"{p_mid}/postings/{n}")
    os.rename(f"{stage}/postings", f"{p_mid}/postings/epoch={target}")
    # rerun must finish sizes/dfreq renames + tombstone drop
    dedup.containment_index_compact(spark, p_mid)
    assert not os.path.exists(f"{p_mid}/tombstones")
    assert not any(
        n.startswith("_ctmp_e") for n in os.listdir(p_mid)
    )
    got = _hits_tuples(batch, p_mid, max_shingle_df=0.2)
    # p_mid lacks the 150-180 add, so compare against its own clean twin
    p_mid_clean = str(tmp_path / "midclean")
    dedup.containment_index_build(hist, "doc_id", "text", p_mid_clean, k=8)
    dedup.containment_index_delete(spark, p_mid_clean, dead)
    dedup.containment_index_compact(spark, p_mid_clean)
    assert got == _hits_tuples(batch, p_mid_clean, max_shingle_df=0.2)
