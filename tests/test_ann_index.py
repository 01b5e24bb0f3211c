"""Persisted IVF-PQ ANN index (operators/ann_index.py): build/search
parity with the in-query ivfpq_topk, incremental add == rebuild under
frozen quantizers, multi-epoch search, crash-retry epoch reuse, and
the per-cell stats surface."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from polars_fastx_spark import epochs
from polars_fastx_spark.operators import ann_index
from polars_fastx_spark.operators.vectors import ivfpq_topk

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _query(e):
    return [float(x) for x in e.filter(F.col("vec_id") == 0).first()["v"]]


def test_persisted_search_matches_in_query_ivfpq(spark, tmp_path):
    """index_build → parquet → index_search must reproduce
    ivfpq_topk(pinned_books=True) result-for-result: same cells, same
    md5-seeded books, same ADC ranking (adc_search is literally the
    shared code path; doubles round-trip parquet exactly)."""
    e = _emb(spark)
    q = _query(e)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    got = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10, nprobe=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ivfpq_topk(
            e, "vec_id", "v", q, k=10, num_cells=16, nprobe=4, m=8,
            pq_k=8, pinned_books=True,
        ).collect()
    ]
    assert got == want and len(got) == 10


def _seed_safe_tail(rows, num_cells=16, m=8, pq_k=8, frac_tail=0.2):
    """Split ids into (head, tail) such that NO tail id is a coarse
    centroid seed (num_cells smallest md5(id)) or a PQ codebook seed
    (pq_k smallest md5(id:j) per subspace) — the precondition under
    which build(head)+add(tail) must equal build(all) exactly."""
    ids = [r[0] for r in rows]
    seeds = set(
        sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[
            :num_cells
        ]
    )
    for j in range(m):
        seeds |= set(
            sorted(
                ids,
                key=lambda i: hashlib.md5(f"{i}:{j}".encode()).hexdigest(),
            )[:pq_k]
        )
    non_seed = [i for i in ids if i not in seeds]
    tail = set(non_seed[: int(len(ids) * frac_tail)])
    return tail


def test_incremental_add_equals_rebuild(spark, tmp_path):
    """build(head) + add(tail) == build(head+tail) when the tail holds
    no centroid/codebook seed: the frozen-quantizer routing of
    index_add is the same assignment+encode math the build ran, so the
    persisted code tables and every search agree exactly."""
    e = _emb(spark)
    rows = [(r["vec_id"], list(r["v"])) for r in e.collect()]
    tail_ids = _seed_safe_tail(rows)
    assert len(tail_ids) >= 10
    head = e.filter(~F.col("vec_id").isin(list(tail_ids)))
    tail = e.filter(F.col("vec_id").isin(list(tail_ids)))

    p_full = str(tmp_path / "full")
    p_incr = str(tmp_path / "incr")
    ann_index.index_build(e, "vec_id", "v", p_full, pinned=True)
    ann_index.index_build(head, "vec_id", "v", p_incr, pinned=True)
    epoch = ann_index.index_add(tail, "v", p_incr)
    assert epoch == 1

    def codes(path):
        return {
            r["__id"]: (r["cell"], list(r["codes"]))
            for r in spark.read.option("basePath", f"{path}/codes")
            .parquet(f"{path}/codes/epoch=*")
            .collect()
        }

    assert codes(p_incr) == codes(p_full)
    q = _query(e)
    a = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, p_incr, q, k=10).collect()
    ]
    b = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, p_full, q, k=10).collect()
    ]
    assert a == b


def test_search_spans_epochs_and_stats_count_them(spark, tmp_path):
    e = _emb(spark)
    rows = [(r["vec_id"], list(r["v"])) for r in e.collect()]
    tail_ids = _seed_safe_tail(rows)
    head = e.filter(~F.col("vec_id").isin(list(tail_ids)))
    tail = e.filter(F.col("vec_id").isin(list(tail_ids)))
    path = str(tmp_path / "idx")
    ann_index.index_build(head, "vec_id", "v", path, pinned=True)
    ann_index.index_add(tail, "v", path)
    # a tail vector is findable: search with ITS vector, full probe
    probe_id = sorted(tail_ids)[0]
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == probe_id).first()["v"]
    ]
    hits = {
        r["vec_id"]
        for r in ann_index.index_search(
            spark, path, qv, k=10, nprobe=16
        ).collect()
    }
    assert probe_id in hits
    st = ann_index.index_stats(spark, path)
    tot = st.agg(F.sum("n_vectors")).first()[0]
    assert tot == e.count()
    assert st.agg(F.max("n_epochs")).first()[0] >= 1


def test_crashed_add_epoch_is_reused_on_retry(spark, tmp_path):
    """An uncommitted epoch dir (no _SUCCESS — a crashed add) must be
    OVERWRITTEN by the retry, not stranded beside a duplicate epoch."""
    e = _emb(spark).limit(40)
    path = str(tmp_path / "idx")
    ann_index.index_build(e, "vec_id", "v", path, num_cells=4, pinned=True)
    # simulate a crashed epoch-1 add: data landed, no _SUCCESS marker
    crash = tmp_path / "idx" / "codes" / "epoch=1"
    crash.mkdir(parents=True)
    (crash / "part-garbage.parquet").write_bytes(b"")
    assert epochs.next_epoch_of(spark, f"{path}/codes") == 1
    tail = _emb(spark).filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 60)
    )
    epoch = ann_index.index_add(tail, "v", path)
    assert epoch == 1  # reused, not skipped
    n = (
        spark.read.option("basePath", f"{path}/codes")
        .parquet(f"{path}/codes/epoch=*")
        .count()
    )
    assert n == 60  # no duplicates, no stranded partial


def test_search_many_matches_single_query_search(spark, tmp_path):
    """The relational batch search with a 1-row queries table must
    reproduce index_search exactly (same tie-breaks, same math); with
    3 queries, each partition of the output matches its own
    single-query run."""
    e = _emb(spark)
    path = str(tmp_path / "idx")
    ann_index.index_build(e, "vec_id", "v", path, pinned=True)
    qrows = [
        (i, [float(x) for x in e.filter(F.col("vec_id") == i).first()["v"]])
        for i in (0, 1, 2)
    ]
    qdf = spark.createDataFrame(qrows, "query_id long, qvec array<double>")
    many = ann_index.index_search_many(spark, path, qdf, k=7, nprobe=4)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["adc_dist"], 9))
        for r in many.collect()
    }
    assert len(got) == 21
    for qid, qv in qrows:
        single = [
            (r["vec_id"], round(r["adc_dist"], 9))
            for r in ann_index.index_search(
                spark, path, qv, k=7, nprobe=4
            ).collect()
        ]
        assert [got[(qid, rk)] for rk in range(1, 8)] == single, qid


def test_index_compact_folds_epochs_search_unchanged(spark, tmp_path):
    e = _emb(spark)
    rows = [(r["vec_id"], list(r["v"])) for r in e.collect()]
    tail_ids = sorted(_seed_safe_tail(rows))
    half = set(tail_ids[: len(tail_ids) // 2])
    rest = set(tail_ids) - half
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e.filter(~F.col("vec_id").isin(tail_ids)), "vec_id", "v", path,
        pinned=True,
    )
    ann_index.index_add(e.filter(F.col("vec_id").isin(list(half))), "v", path)
    ann_index.index_add(e.filter(F.col("vec_id").isin(list(rest))), "v", path)
    q = _query(e)
    before = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    import os

    assert len([d for d in os.listdir(f"{path}/codes")
                if d.startswith("epoch=")]) == 3
    ann_index.index_compact(spark, path)
    assert [d for d in os.listdir(f"{path}/codes")
            if d.startswith("epoch=")] == ["epoch=2"]
    after = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    assert after == before


def test_redelivered_pinned_epoch_add_is_idempotent(spark, tmp_path):
    """A committed-but-redelivered batch (explicit epoch id) must
    overwrite itself: duplicate codes would DOUBLE the summed ADC
    distance for its vectors, silently corrupting every search."""
    e = _emb(spark)
    path = str(tmp_path / "idx")
    ann_index.index_build(e.filter("vec_id < 100"), "vec_id", "v", path,
                          num_cells=8, pinned=True)
    batch = e.filter("vec_id >= 100 and vec_id < 130")
    ann_index.index_add(batch, "v", path, epoch=1)
    ann_index.index_add(batch, "v", path, epoch=1)  # redelivery
    coded = spark.read.option("basePath", f"{path}/codes").parquet(
        f"{path}/codes/epoch=*"
    )
    assert coded.count() == 130
    assert coded.select("__id").distinct().count() == 130


def test_delete_hides_and_readd_revives(spark, tmp_path):
    """index_delete tombstones an id (search + stats stop seeing it);
    a later index_add of the same id lands ABOVE the tombstone on the
    shared epoch counter and revives it."""
    e = _emb(spark).filter("vec_id < 60")
    path = str(tmp_path / "idx")
    ann_index.index_build(e, "vec_id", "v", path, num_cells=4, pinned=True)
    target = 7
    qv = [float(x) for x in e.filter(F.col("vec_id") == target).first()["v"]]

    def hits():
        return {
            r["vec_id"]
            for r in ann_index.index_search(
                spark, path, qv, k=60, nprobe=4
            ).collect()
        }

    assert target in hits()
    ep = ann_index.index_delete(spark, path, [target])
    assert ep == 1
    assert target not in hits()
    st = ann_index.index_stats(spark, path)
    assert st.agg(F.sum("n_vectors")).first()[0] == 59

    row = e.filter(F.col("vec_id") == target)
    ep2 = ann_index.index_add(row, "v", path)
    assert ep2 == 2  # shared counter skipped the tombstone's slot
    assert target in hits()
    st = ann_index.index_stats(spark, path)
    assert st.agg(F.sum("n_vectors")).first()[0] == 60  # old row hidden


def test_upsert_replaces_vector_without_doubling(spark, tmp_path):
    """index_upsert = tombstone + add at consecutive epochs: the
    batch's live code rows are replaced, never duplicated (a bare
    re-add would SUM two ADC distances for the same id)."""
    e = _emb(spark).filter("vec_id < 40")
    path = str(tmp_path / "idx")
    ann_index.index_build(e, "vec_id", "v", path, num_cells=4, pinned=True)
    batch = _emb(spark).filter("vec_id >= 35 and vec_id < 45")
    del_ep, add_ep = ann_index.index_upsert(batch, "v", path)
    assert (del_ep, add_ep) == (1, 2)
    live = epochs.live(spark, f"{path}/codes", f"{path}/tombstones")
    assert live.count() == 45
    assert live.select("__id").distinct().count() == 45
    qv = [float(x) for x in e.filter("vec_id = 36").first()["v"]]
    got = ann_index.index_search(spark, path, qv, k=45, nprobe=4).collect()
    assert [r["vec_id"] for r in got].count(36) == 1


def test_compact_applies_tombstones_and_drops_them(spark, tmp_path):
    """Major compaction: the fold physically drops tombstone-hidden
    rows AND the applied tombstone epochs, and search results are
    bit-identical before/after — in particular no resurrection (folded
    rows land at the target epoch, above where the tombstones were)."""
    e = _emb(spark).filter("vec_id < 80")
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e.filter("vec_id < 50"), "vec_id", "v", path, num_cells=4,
        pinned=True,
    )
    ann_index.index_add(e.filter("vec_id >= 50"), "v", path)
    dead = [3, 57]  # one from each code epoch
    ann_index.index_delete(spark, path, dead)
    q = _query(_emb(spark))
    before = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=20, nprobe=4)
        .collect()
    ]
    ann_index.index_compact(spark, path)
    import os

    assert [d for d in os.listdir(f"{path}/codes")
            if d.startswith("epoch=")] == ["epoch=1"]
    assert not os.path.exists(f"{path}/tombstones")
    after = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=20, nprobe=4)
        .collect()
    ]
    assert after == before
    # the folded rows must NOT have been re-hidden or revived
    coded = spark.read.parquet(f"{path}/codes/epoch=1")
    ids = {r["__id"] for r in coded.select("__id").collect()}
    assert not (set(dead) & ids) and len(ids) == 78
    for d in dead:
        qv = [
            float(x)
            for x in e.filter(F.col("vec_id") == d).first()["v"]
        ]
        hit = {
            r["vec_id"]
            for r in ann_index.index_search(
                spark, path, qv, k=78, nprobe=4
            ).collect()
        }
        assert d not in hit


def test_build_if_absent_reuses_complete_rebuilds_partial(spark, tmp_path):
    """Second build_if_absent over a complete index is a no-op (same
    bytes served); over a crash-partial index (meta landed, codes
    missing) it rebuilds."""
    import os

    e = _emb(spark).filter("vec_id < 60")
    path = str(tmp_path / "idx")
    assert ann_index.index_build_if_absent(
        e, "vec_id", "v", path, num_cells=4, pinned=True
    )
    q = _query(_emb(spark))
    first = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    stamp = os.path.getmtime(f"{path}/codes/epoch=0/_SUCCESS")
    assert not ann_index.index_build_if_absent(
        e, "vec_id", "v", path, num_cells=4, pinned=True
    )
    assert os.path.getmtime(f"{path}/codes/epoch=0/_SUCCESS") == stamp
    again = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    assert again == first
    # simulate a crash between the meta and codes writes
    import shutil

    shutil.rmtree(f"{path}/codes")
    assert ann_index.index_build_if_absent(
        e, "vec_id", "v", path, num_cells=4, pinned=True
    )
    rebuilt = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    assert rebuilt == first


def test_filtered_search_prefilters_candidates(spark, tmp_path):
    """id_filter restricts candidates BEFORE ranking: only allowed ids
    return, k results survive a selective filter (post-filtering a
    top-k would truncate), the ranking equals the unfiltered ranking
    restricted to the allowed set, and both arg forms (DataFrame /
    list) agree. Also covers index_search_many's shared filter."""
    e = _emb(spark)
    q = _query(e)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    allowed = [r["vec_id"] for r in e.filter("vec_id % 7 = 0").collect()]

    big = ann_index.index_search(spark, path, q, k=10_000, nprobe=4).collect()
    want = [r["vec_id"] for r in big if r["vec_id"] in set(allowed)][:10]

    got_list = ann_index.index_search(
        spark, path, q, k=10, nprobe=4, id_filter=allowed
    ).collect()
    assert [r["vec_id"] for r in got_list] == want
    assert len(got_list) == 10  # pre-filter keeps k under selectivity

    allow_df = e.filter("vec_id % 7 = 0").select("vec_id")
    got_df = ann_index.index_search(
        spark, path, q, k=10, nprobe=4, id_filter=allow_df
    ).collect()
    assert [tuple(r) for r in got_df] == [tuple(r) for r in got_list]

    qdf = spark.createDataFrame([(0, q)], ["query_id", "qvec"])
    many = ann_index.index_search_many(
        spark, path, qdf, k=10, nprobe=4, id_filter=allow_df
    ).collect()
    assert [r["vec_id"] for r in sorted(many, key=lambda r: r["rank"])] == want


def test_filtered_search_composes_with_tombstones(spark, tmp_path):
    """The filter semi-join applies on top of the tombstone anti-join:
    an id that is allowed but deleted must still not return."""
    e = _emb(spark)
    q = _query(e)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    allowed = [r["vec_id"] for r in e.filter("vec_id % 2 = 0").collect()]
    base = ann_index.index_search(
        spark, path, q, k=5, nprobe=4, id_filter=allowed
    ).collect()
    victim = base[0]["vec_id"]
    ann_index.index_delete(spark, path, [victim])
    after = ann_index.index_search(
        spark, path, q, k=5, nprobe=4, id_filter=allowed
    ).collect()
    ids_after = [r["vec_id"] for r in after]
    assert victim not in ids_after and len(after) == 5
    assert ids_after == [r["vec_id"] for r in base[1:]] + ids_after[-1:]


def test_index_recall_report(spark, tmp_path):
    """index_recall's per-query numbers equal a hand-computed
    exact-vs-approx intersection, nprobe=all-cells recall dominates a
    1-cell probe, and every sampled query gets a row."""
    e = _emb(spark)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    queries = e.filter("vec_id % 17 = 0").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    rep = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in ann_index.index_recall(
            spark, path, e, queries, k=5, nprobe=16
        ).collect()
    }
    assert set(rep) == {r["query_id"] for r in queries.collect()}

    # hand-check EVERY query: exact L2 top-5 (numpy) intersected with
    # index_search top-5 must equal the report row exactly
    import numpy as np
    vecs = {r["vec_id"]: np.array(r["v"]) for r in e.collect()}
    for qid in rep:
        qv = vecs[qid]
        exact = [
            i for i, _ in sorted(
                ((i, float(((v - qv) ** 2).sum())) for i, v in vecs.items()),
                key=lambda t: (t[1], t[0]),
            )[:5]
        ]
        approx = [
            r["vec_id"]
            for r in ann_index.index_search(
                spark, path, [float(x) for x in qv], k=5, nprobe=16
            ).collect()
        ]
        want = len(set(exact) & set(approx))
        assert rep[qid] == (want, want / 5), qid
        assert 0.0 <= rep[qid][1] <= 1.0


def test_compact_completes_a_crashed_plain_stage(spark, tmp_path):
    """A plain (tombstone-free) fold crashed after committing its stage
    ``codes/_compact_tmp_e2`` and deleting source epoch 1: the next
    ``index_compact`` must finish that swap, so every vector is live
    again. The stage name contains ``_t``, which once sent it to the
    tombstone compactor; that one skipped the plain stage and folded
    the surviving epochs, losing epoch 1's vectors."""
    import os
    import shutil

    e = _emb(spark).filter("vec_id < 60")
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e.filter("vec_id < 20"), "vec_id", "v", path, num_cells=4, m=4,
        pinned=True,
    )
    ann_index.index_add(e.filter("vec_id >= 20 and vec_id < 40"), "v", path)
    ann_index.index_add(e.filter("vec_id >= 40"), "v", path)
    codes = f"{path}/codes"
    (
        spark.read.option("basePath", codes).parquet(f"{codes}/epoch=*")
        .drop("epoch").coalesce(1).write.parquet(f"{codes}/_compact_tmp_e2")
    )
    shutil.rmtree(f"{codes}/epoch=1")
    ann_index.index_compact(spark, path)
    rows = spark.read.parquet(codes).select("__id").collect()
    assert sorted(r["__id"] for r in rows) == list(range(60))
    assert not [n for n in os.listdir(codes) if n.startswith("_compact")]
    assert not [n for n in os.listdir(path) if n.startswith("_compact")]


def test_empty_id_edge_cases(spark, tmp_path):
    """An empty allow LIST means 'nothing may match' (0 rows, not a
    schema-inference crash); an empty delete list raises clearly."""
    import pytest

    e = _emb(spark)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        e, "vec_id", "v", path, num_cells=16, m=8, pq_k=8, pinned=True
    )
    q = _query(e)
    assert ann_index.index_search(
        spark, path, q, k=5, nprobe=4, id_filter=[]
    ).count() == 0
    with pytest.raises(ValueError, match="empty id list"):
        ann_index.index_delete(spark, path, [])


def test_build_if_absent_after_compact_is_noop(spark, tmp_path):
    """Compaction folds epoch 0 into the highest epoch; a complete-
    but-compacted index must still read as COMPLETE. The old epoch-0
    check rebuilt over it, leaving the folded epochs in place so stale
    and fresh code rows unioned and per-id ADC distances summed —
    silent corruption of every subsequent search (ADVICE r5 #1)."""
    import os

    e = _emb(spark)
    rows = [(r["vec_id"], list(r["v"])) for r in e.collect()]
    tail_ids = sorted(_seed_safe_tail(rows))
    path = str(tmp_path / "idx")
    head = e.filter(~F.col("vec_id").isin(tail_ids))
    assert ann_index.index_build_if_absent(
        head, "vec_id", "v", path, pinned=True
    )
    ann_index.index_add(
        e.filter(F.col("vec_id").isin(tail_ids)), "v", path
    )
    ann_index.index_compact(spark, path)
    eps = [d for d in os.listdir(f"{path}/codes") if d.startswith("epoch=")]
    assert "epoch=0" not in eps and len(eps) == 1  # compacted layout
    q = _query(e)
    before = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    # must be recognized as complete — no rebuild, layout untouched
    assert not ann_index.index_build_if_absent(
        head, "vec_id", "v", path, pinned=True
    )
    assert [
        d for d in os.listdir(f"{path}/codes") if d.startswith("epoch=")
    ] == eps
    after = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    assert after == before
    # and no id gained a second (summing) code row
    coded = spark.read.option("basePath", f"{path}/codes").parquet(
        f"{path}/codes/epoch=*"
    )
    assert coded.count() == coded.select("__id").distinct().count()


def test_rebuild_into_used_path_starts_clean(spark, tmp_path):
    """index_build over a previously-used path must clear stale
    tombstones, extra code epochs, and the streaming base: otherwise a
    rebuild inherits tombstones that HIDE its fresh epoch-0 codes and
    extra epochs whose ADC distances sum (ADVICE r5 #2)."""
    import os

    e = _emb(spark)
    path = str(tmp_path / "idx")
    fresh_path = str(tmp_path / "fresh")
    ann_index.index_build(
        e.filter("vec_id < 100"), "vec_id", "v", path, num_cells=8,
        pinned=True,
    )
    ann_index.index_add(
        e.filter("vec_id >= 100 and vec_id < 140"), "v", path
    )
    ann_index.index_delete(spark, path, list(range(0, 50)))
    os.makedirs(f"{path}/codes", exist_ok=True)
    with open(f"{path}/codes/_stream_base", "w") as fh:
        fh.write("7")
    # rebuild with a DIFFERENT corpus slice over the dirty path
    corpus = e.filter("vec_id < 120")
    ann_index.index_build(
        corpus, "vec_id", "v", path, num_cells=8, pinned=True
    )
    assert not os.path.exists(f"{path}/tombstones")
    assert not os.path.exists(f"{path}/codes/_stream_base")
    assert [
        d for d in os.listdir(f"{path}/codes") if d.startswith("epoch=")
    ] == ["epoch=0"]
    ann_index.index_build(
        corpus, "vec_id", "v", fresh_path, num_cells=8, pinned=True
    )
    q = _query(e)
    got = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, path, q, k=10).collect()
    ]
    want = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, fresh_path, q, k=10).collect()
    ]
    assert got == want and len(got) == 10


def _clustered(spark, rng_seed=7):
    """Two planted distributions: A (what the index trains on) and B
    (drifted far away — frozen quantizers fit it badly)."""
    import numpy as np

    rng = np.random.RandomState(rng_seed)

    def mk(vec_id0, centers, n_per, spread=0.05):
        rows, vid = [], vec_id0
        for c in centers:
            for _ in range(n_per):
                rows.append((vid, (c + rng.randn(16) * spread).tolist()))
                vid += 1
        return rows

    A = mk(0, [rng.randn(16) for _ in range(4)], 40)
    B = mk(1000, [rng.randn(16) * 8 + 30 for _ in range(4)], 40)
    return (
        spark.createDataFrame(A, "vec_id long, v array<double>"),
        spark.createDataFrame(B, "vec_id long, v array<double>"),
        B,
    )


def test_drift_stats_flag_distribution_shift(spark, tmp_path):
    """index_drift_stats is the drift SIGNAL: residual distortion of
    the trained-on distribution is the healthy floor; a drifted batch
    encoded by the same frozen quantizers reads orders of magnitude
    above it. fill_ratio averages to 1 by construction."""
    dfA, dfB, _ = _clustered(spark)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        dfA, "vec_id", "v", path, num_cells=8, m=4, pq_k=8, pinned=False
    )
    dA = ann_index.index_drift_stats(spark, path, dfA, "v")
    dB = ann_index.index_drift_stats(spark, path, dfB, "v")
    mA = dA.agg(F.avg("mean_distortion")).first()[0]
    mB = dB.agg(F.avg("mean_distortion")).first()[0]
    assert mB > 10 * mA
    fr = dA.agg(F.avg("fill_ratio")).first()[0]
    assert abs(fr - 1.0) < 1e-9


def test_retrain_restores_recall_and_distortion(spark, tmp_path):
    """Planted drift degrades recall on the drifted queries; retrain
    on the full corpus restores it (and the distortion floor), leaving
    a clean layout — no stage dir, no tombstones, codes at epoch 0."""
    import os

    dfA, dfB, B = _clustered(spark)
    path = str(tmp_path / "idx")
    ann_index.index_build(
        dfA, "vec_id", "v", path, num_cells=8, m=4, pq_k=8, pinned=False
    )
    ann_index.index_add(dfB, "v", path)
    full = dfA.unionByName(dfB)
    qs = spark.createDataFrame(
        [(i, B[i][1]) for i in range(0, 40, 4)],
        "query_id long, qvec array<double>",
    )
    r_before = ann_index.index_recall(
        spark, path, full, qs, k=10, nprobe=4
    ).agg(F.avg("recall")).first()[0]
    m_before = ann_index.index_drift_stats(spark, path, dfB, "v").agg(
        F.avg("mean_distortion")
    ).first()[0]
    ann_index.index_retrain(full, "v", path)
    r_after = ann_index.index_recall(
        spark, path, full, qs, k=10, nprobe=4
    ).agg(F.avg("recall")).first()[0]
    m_after = ann_index.index_drift_stats(spark, path, dfB, "v").agg(
        F.avg("mean_distortion")
    ).first()[0]
    assert r_after > r_before
    assert m_after < m_before / 10
    assert not os.path.exists(f"{path}/_retrain_stage")
    assert not os.path.exists(f"{path}/tombstones")
    assert [
        d for d in os.listdir(f"{path}/codes") if d.startswith("epoch=")
    ] == ["epoch=0"]


def test_retrain_after_crashed_swap_uses_callers_corpus(spark, tmp_path):
    """A committed crashed swap is an OLDER corpus snapshot: a later
    retrain call must finish that swap AND still retrain on the corpus
    IT was given — never return the stale staged membership as if the
    requested retrain had run."""
    import os

    old = _emb(spark).filter("vec_id < 60")
    new = _emb(spark).filter("vec_id < 100")
    p = str(tmp_path / "idx")
    ann_index.index_build(old, "vec_id", "v", p, num_cells=8, pinned=True)
    # stage a committed retrain of the OLD corpus, crash before swap
    ann_index.index_build(
        old, "vec_id", "v", f"{p}/_retrain_stage", num_cells=8, pinned=True
    )
    open(f"{p}/_retrain_stage/_COMMIT", "w").close()
    ann_index.index_retrain(new, "v", p)
    assert not os.path.exists(f"{p}/_retrain_stage")
    ids = {
        r["__id"]
        for r in spark.read.option("basePath", f"{p}/codes")
        .parquet(f"{p}/codes/epoch=*").select("__id").collect()
    }
    assert len(ids) == 100  # the caller's corpus, not the stale stage


def test_retrain_does_not_resurrect_deletions(spark, tmp_path):
    """Ids with a live tombstone stay deleted through a retrain even
    when present in the caller's corpus frame; a deleted-then-re-added
    id survives (it is live)."""
    e = _emb(spark).filter("vec_id < 80")
    path = str(tmp_path / "idx")
    ann_index.index_build(e, "vec_id", "v", path, num_cells=8, pinned=True)
    ann_index.index_delete(spark, path, [3, 4])
    ann_index.index_add(e.filter("vec_id = 4"), "v", path)  # revive 4
    ann_index.index_retrain(e, "v", path)
    ids = {
        r["__id"]
        for r in spark.read.option("basePath", f"{path}/codes")
        .parquet(f"{path}/codes/epoch=*").select("__id").collect()
    }
    assert 3 not in ids and 4 in ids and len(ids) == 79


def test_retrain_swap_survives_midswap_crash(spark, tmp_path):
    """Crash between the commit marker and the final rename: the rerun
    resumes from the COMMITTED stage (the marker decides, not the
    half-swapped listing) and converges to exactly the clean-retrain
    index — pinned mode makes the comparison exact."""
    import os
    import shutil

    e = _emb(spark).filter("vec_id < 80")
    corpus = _emb(spark).filter("vec_id < 120")
    p_crash = str(tmp_path / "crash")
    p_clean = str(tmp_path / "clean")
    for p in (p_crash, p_clean):
        ann_index.index_build(
            e, "vec_id", "v", p, num_cells=8, pinned=True
        )
        ann_index.index_retrain(corpus, "v", p)
    # rewind p_crash to a mid-swap state: rebuild the stage the way
    # retrain does, mark COMMIT, swap codes only, "crash"
    ann_index.index_build(
        corpus, "vec_id", "v", f"{p_crash}/_retrain_stage",
        num_cells=8, pinned=True,
    )
    open(f"{p_crash}/_retrain_stage/_COMMIT", "w").close()
    shutil.rmtree(f"{p_crash}/codes")
    os.rename(f"{p_crash}/_retrain_stage/codes", f"{p_crash}/codes")
    # the rerun must first finish the committed swap (never rebuild
    # over the mixed state), then run the requested retrain on top
    ann_index.index_retrain(corpus, "v", p_crash)
    assert not os.path.exists(f"{p_crash}/_retrain_stage")
    q = _query(_emb(spark))
    got = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, p_crash, q, k=10).collect()
    ]
    want = [
        (r["vec_id"], round(r["adc_dist"], 9))
        for r in ann_index.index_search(spark, p_clean, q, k=10).collect()
    ]
    assert got == want and len(got) == 10


def test_index_sync_pays_only_for_changes(spark, tmp_path):
    """index_sync(old, new) must leave the index equivalent to the
    manual delete/add sequence for the same diff: removed ids gone,
    added ids live, changed ids re-encoded from their NEW vectors;
    unchanged ids untouched. A second sync of the same pair is a
    no-op (no new epochs)."""
    import os

    e = _emb(spark)
    old = e.filter("vec_id < 80")
    # new snapshot: drop 0..9, add 80..99, perturb v on vec_id%13==0
    changed = F.transform("v", lambda x: x * 2.0 + 1.0)
    new = e.filter("vec_id >= 10 AND vec_id < 100").select(
        "vec_id",
        F.when((F.col("vec_id") % 13 == 0) & (F.col("vec_id") < 80),
               changed).otherwise(F.col("v")).alias("v"),
    )
    p_sync = str(tmp_path / "sync")
    p_manual = str(tmp_path / "manual")
    for p in (p_sync, p_manual):
        ann_index.index_build(
            old, "vec_id", "v", p, num_cells=8, m=4, pq_k=8, pinned=True
        )
    got = ann_index.index_sync(old, new, "v", p_sync)
    n_changed = old.filter(
        (F.col("vec_id") % 13 == 0) & (F.col("vec_id") >= 10)
    ).count()
    assert got == {"added": 20, "removed": 10, "changed": n_changed}
    # manual twin: delete removed+changed, add added+changed
    dead = [r["vec_id"] for r in old.filter(
        (F.col("vec_id") < 10)
        | ((F.col("vec_id") % 13 == 0) & (F.col("vec_id") >= 10))
    ).collect()]
    ann_index.index_delete(spark, p_manual, dead)
    ann_index.index_add(
        new.filter(
            (F.col("vec_id") >= 80)
            | ((F.col("vec_id") % 13 == 0) & (F.col("vec_id") >= 10)),
        ),
        "v", p_manual,
    )
    q = _query(e)
    a = [(r["vec_id"], round(r["adc_dist"], 9)) for r in
         ann_index.index_search(spark, p_sync, q, k=15, nprobe=8).collect()]
    b = [(r["vec_id"], round(r["adc_dist"], 9)) for r in
         ann_index.index_search(spark, p_manual, q, k=15, nprobe=8).collect()]
    assert a == b and len(a) == 15
    live = {
        r["__id"]
        for r in epochs.live(spark, f"{p_sync}/codes", f"{p_sync}/tombstones")
        .select("__id").collect()
    }
    assert live == set(range(10, 100))
    # idempotence: same pair again -> no-op, no new epochs
    def _eps(p):
        return (
            sorted(os.listdir(f"{p}/codes")),
            sorted(os.listdir(f"{p}/tombstones"))
            if os.path.exists(f"{p}/tombstones") else [],
        )
    before = _eps(p_sync)
    again = ann_index.index_sync(new, new, "v", p_sync)
    assert again == {"added": 0, "removed": 0, "changed": 0}
    assert _eps(p_sync) == before


def test_index_sync_from_index_matches_two_snapshot_sync(spark, tmp_path):
    """The fingerprint lane needs only the NEW release: its counts and
    post-sync search must equal index_sync given the true old
    snapshot; a pre-fingerprint code table raises with guidance."""
    e = _emb(spark)
    old = e.filter("vec_id < 80")
    changed = F.transform("v", lambda x: x * 2.0 + 1.0)
    new = e.filter("vec_id >= 10 AND vec_id < 100").select(
        "vec_id",
        F.when((F.col("vec_id") % 13 == 0) & (F.col("vec_id") < 80),
               changed).otherwise(F.col("v")).alias("v"),
    )
    p_fp = str(tmp_path / "fp")
    p_two = str(tmp_path / "two")
    for p in (p_fp, p_two):
        ann_index.index_build(
            old, "vec_id", "v", p, num_cells=8, m=4, pq_k=8, pinned=True
        )
    got = ann_index.index_sync_from_index(new, "v", p_fp)
    want = ann_index.index_sync(old, new, "v", p_two)
    assert got == want and got["removed"] == 10 and got["added"] == 20
    q = _query(e)
    a = [(r["vec_id"], round(r["adc_dist"], 9)) for r in
         ann_index.index_search(spark, p_fp, q, k=15, nprobe=8).collect()]
    b = [(r["vec_id"], round(r["adc_dist"], 9)) for r in
         ann_index.index_search(spark, p_two, q, k=15, nprobe=8).collect()]
    assert a == b and len(a) == 15
    # re-sync with the same release: fingerprints say nothing changed
    again = ann_index.index_sync_from_index(new, "v", p_fp)
    assert again == {"added": 0, "removed": 0, "changed": 0}
    # a pre-fingerprint index (simulated by stripping __fp) raises
    p_old = str(tmp_path / "prefp")
    ann_index.index_build(
        old, "vec_id", "v", p_old, num_cells=8, pinned=True
    )
    import pytest as _pytest

    stripped = spark.read.parquet(f"{p_old}/codes/epoch=0").drop("__fp")
    stripped.write.mode("overwrite").parquet(f"{p_old}/codes_new")
    import shutil

    shutil.rmtree(f"{p_old}/codes/epoch=0")
    shutil.move(f"{p_old}/codes_new", f"{p_old}/codes/epoch=0")
    with _pytest.raises(ValueError, match="__fp"):
        ann_index.index_sync_from_index(new, "v", p_old)


def test_index_sync_from_index_float_vectors_no_spurious_changes(
    spark, tmp_path
):
    """Round-6 ADVICE regression: build/add fingerprint the
    array<double>-cast vector (ivf_assign casts), but sync-from-index
    used to fingerprint the RAW release column — with array<float>
    embeddings (the common type) the float→string renderings differ,
    so EVERY id hashed 'changed' on every sync: full tombstone + full
    re-encode instead of change-sized work. The cast now lives inside
    _vec_fp, so an unchanged float release must sync as a no-op."""
    ef = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<float>").alias("v")
    ).filter("vec_id < 80")
    path = str(tmp_path / "fidx")
    ann_index.index_build(
        ef, "vec_id", "v", path, num_cells=8, m=4, pq_k=8, pinned=True
    )
    got = ann_index.index_sync_from_index(ef, "v", path)
    assert got == {"added": 0, "removed": 0, "changed": 0}
    # and a real change is still change-sized, not corpus-sized
    bumped = ef.select(
        "vec_id",
        F.when(
            F.col("vec_id") == 7,
            F.transform("v", lambda x: x + F.lit(1.0).cast("float")),
        ).otherwise(F.col("v")).alias("v"),
    )
    got2 = ann_index.index_sync_from_index(bumped, "v", path)
    assert got2 == {"added": 0, "removed": 0, "changed": 1}
