"""Structured Streaming tests (SURVEY.md §2.9 T1-T7).

Strategy: scripted micro-batches — write JSON files into a source
directory between ``availableNow`` runs and assert the incremental
results; batch/stream parity — the same builder functions run in the
catalog's batch queries, so semantics are pinned by the DuckDB oracle
and these tests only need to prove the streaming wiring (watermarks,
state, restarts, sinks).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest

from polars_fastx_spark.streaming import pipelines as sp


def _write_batch(src: Path, name: str, rows: list[dict]) -> None:
    (src / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _rows(ts: str, event_id: int, user: int = 1, etype: str = "click", value: float = 1.0):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": '{"k": 1}',
    }


def _run_until_done(q) -> None:
    q.awaitTermination(120)


def _collect_parquet(spark, df, out: Path, ck: Path):
    """Run an availableNow pass appending to a parquet sink (the file
    sinks are the ones that support checkpoint recovery across runs),
    then read back whatever has been emitted so far."""
    q = (
        df.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    _run_until_done(q)
    if not any(out.glob("*.parquet")):
        return None
    return spark.read.parquet(str(out))


@pytest.fixture()
def srcdir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    return d


def test_tumbling_counts_stream(spark, srcdir, tmp_path):
    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:05:00Z", 1),
            _rows("2024-01-01T00:20:00Z", 2),
            _rows("2024-01-01T01:10:00Z", 3, etype="view"),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    agg = sp.tumbling_counts(events, width="1 hour", watermark="10 minutes")
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, agg, out, ck)
    # append mode only emits finalized windows; run a second batch far in
    # the future to push the watermark past both windows.
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T09:00:00Z", 4)])
    result = _collect_parquet(spark, agg, out, ck)
    got = {
        (r["window_start"].isoformat(), r["event_type"]): r["n_events"]
        for r in result.collect()
    }
    assert got[("2024-01-01T00:00:00", "click")] == 2
    assert got[("2024-01-01T01:00:00", "view")] == 1


def test_watermark_drops_late_rows(spark, srcdir, tmp_path):
    """T2: a row arriving after the watermark passed its window is dropped."""
    _write_batch(srcdir, "b0.json", [_rows("2024-01-01T00:05:00Z", 1)])
    events = sp.stream_events(spark, str(srcdir))
    agg = sp.tumbling_counts(events, width="1 hour", watermark="10 minutes")
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, agg, out, ck)
    # advance watermark way past the first window...
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T06:00:00Z", 2)])
    _collect_parquet(spark, agg, out, ck)
    # ...then replay a late row into the (closed) first window
    _write_batch(srcdir, "b2.json", [_rows("2024-01-01T00:06:00Z", 3)])
    _write_batch(srcdir, "b3.json", [_rows("2024-01-01T07:00:00Z", 4)])
    result = _collect_parquet(spark, agg, out, ck)
    rows = result.filter(
        "window_start = timestamp'2024-01-01 00:00:00'"
    ).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 1  # late row 3 dropped


def test_stream_dedup_within_watermark(spark, srcdir, tmp_path):
    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:00:01Z", 1),
            _rows("2024-01-01T00:00:02Z", 1),  # dup event_id in same batch
            _rows("2024-01-01T00:00:03Z", 2),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    dd = sp.stream_dedup(events, ["event_id"], watermark="10 minutes")
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, dd, out, ck)
    # dup arriving in a later batch, still within the watermark
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T00:00:04Z", 2)])
    result = _collect_parquet(spark, dd, out, ck)
    ids = sorted(r["event_id"] for r in result.collect())
    assert ids == [1, 2]


def test_session_window_stream(spark, srcdir, tmp_path):
    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:00:00Z", 1, user=7),
            _rows("2024-01-01T00:03:00Z", 2, user=7),   # same session (< 5 min gap)
            _rows("2024-01-01T00:20:00Z", 3, user=7),   # new session
            _rows("2024-01-01T03:00:00Z", 4, user=8),   # watermark pusher
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    sess = sp.session_value_sums(events, gap="5 minutes", watermark="10 minutes")
    _run_until_done(sp.memory_sink(sess, "t5_out", str(tmp_path / "ck"), "append"))
    rows = spark.sql(
        "SELECT * FROM t5_out WHERE user_id = 7 ORDER BY session_start"
    ).collect()
    assert [r["n_events"] for r in rows] == [2, 1]


def test_foreachbatch_tsv_sink(spark, srcdir, tmp_path):
    _write_batch(srcdir, "b0.json", [_rows("2024-01-01T00:00:00Z", i) for i in range(5)])
    events = sp.stream_events(spark, str(srcdir))
    out = tmp_path / "tsv"
    q = sp.write_tsv_stream(events, str(out), str(tmp_path / "ck"))
    _run_until_done(q)
    files = list(out.glob("batch=*/*.csv"))
    assert files
    header = files[0].read_text().splitlines()[0]
    assert header.split("\t")[:2] == ["event_id", "ts"]
    n_rows = sum(len(f.read_text().splitlines()) - 1 for f in files)
    assert n_rows == 5


def test_fastx_stream_follows_directory(spark, tmp_path):
    """T1 stretch: new FASTA files appearing in a directory are ingested
    exactly once across restarts from the same checkpoint."""
    from polars_fastx_spark.streaming.fastx_stream import stream_fastx

    d = tmp_path / "fa"
    d.mkdir()
    (d / "a.fasta").write_text(">s1\nACGT\n>s2\nGGCC\n")
    out, ck = tmp_path / "out", tmp_path / "ck"

    result = _collect_parquet(spark, stream_fastx(spark, str(d)), out, ck)
    assert result.count() == 2

    (d / "b.fasta").write_text(">s3\nTTTT\n")
    result = _collect_parquet(spark, stream_fastx(spark, str(d)), out, ck)
    headers = sorted(r["header"] for r in result.collect())
    assert headers == ["s1", "s2", "s3"]  # each record ingested exactly once


def test_applyinpandaswithstate_running_totals(spark, srcdir, tmp_path):
    """Custom stateful operator: per-user totals accumulate across
    micro-batches through the state store."""
    from polars_fastx_spark.streaming.stateful import running_user_totals

    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:00:00Z", 1, user=7, value=1.5),
            _rows("2024-01-01T00:01:00Z", 2, user=7, value=2.5),
            _rows("2024-01-01T00:02:00Z", 3, user=9, value=10.0),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    totals = running_user_totals(events)
    out, ck = tmp_path / "out", tmp_path / "ck"

    def run():
        q = (
            totals.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T00:05:00Z", 4, user=7, value=6.0)])
    run()
    rows = spark.read.parquet(str(out)).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(
            (r["batch_events"], r["events_total"], r["value_total"])
        )
    # user 7: batch of 2 (totals 2, 4.0) then batch of 1 (totals 3, 10.0)
    assert sorted(per_user[7]) == [(1, 3, 10.0), (2, 2, 4.0)]
    assert per_user[9] == [(1, 1, 10.0)]


def test_streaming_composes_with_seq_functions(spark, tmp_path):
    """The seq namespace composes into streaming plans unchanged: per-
    micro-batch GC content over a followed FASTX directory."""
    from polars_fastx_spark.functions import seq as sq
    from polars_fastx_spark.streaming.fastx_stream import stream_fastx
    from pyspark.sql import functions as F

    d = tmp_path / "fa"
    d.mkdir()
    (d / "a.fasta").write_text(">s1\nGGCC\n>s2\nAATT\n")
    stats = stream_fastx(spark, str(d)).select(
        "header",
        sq.gc_content("sequence").alias("gc"),
        sq.generate_hash("sequence", 8).alias("h8"),
    )
    out, ck = tmp_path / "out", tmp_path / "ck"
    result = _collect_parquet(spark, stats, out, ck)
    got = {r["header"]: (r["gc"], len(r["h8"])) for r in result.collect()}
    assert got == {"s1": (1.0, 8), "s2": (0.0, 8)}


def test_sliding_counts_stream(spark, srcdir, tmp_path):
    """T4: each event lands in width/slide overlapping windows."""
    _write_batch(srcdir, "b0.json", [_rows("2024-01-01T00:50:00Z", 1)])
    events = sp.stream_events(spark, str(srcdir))
    agg = sp.sliding_counts(events, width="1 hour", slide="30 minutes",
                            watermark="10 minutes")
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, agg, out, ck)
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T09:00:00Z", 2)])
    result = _collect_parquet(spark, agg, out, ck)
    starts = sorted(
        r["window_start"].isoformat()
        for r in result.filter("n_events = 1 AND window_start < timestamp'2024-01-01 08:00:00'").collect()
    )
    # 00:50 belongs to [00:00,01:00) and [00:30,01:30)
    assert starts == ["2024-01-01T00:00:00", "2024-01-01T00:30:00"]


def test_stream_stream_join(spark, srcdir, tmp_path):
    """Stream-stream join with bounded state: purchases joined to the
    clicks that follow within the hour, across micro-batches."""
    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:00:00Z", 1, user=7, etype="purchase"),
            _rows("2024-01-01T00:10:00Z", 2, user=7, etype="click", value=5.0),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    purchases = events.filter("event_type = 'purchase'")
    clicks = events.filter("event_type = 'click'")
    joined = sp.stream_stream_join(purchases, clicks)
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, joined, out, ck)
    # a later click still lands within the window (cross-batch join state)
    _write_batch(
        srcdir,
        "b1.json",
        [
            _rows("2024-01-01T00:40:00Z", 3, user=7, etype="click", value=9.0),
            _rows("2024-01-01T05:00:00Z", 4, user=8, etype="click"),  # watermark pusher
        ],
    )
    result = _collect_parquet(spark, joined, out, ck)
    got = sorted(
        (r["l_event_id"], r["r_event_id"], r["r_value"]) for r in result.collect()
    )
    assert got == [(1, 2, 5.0), (1, 3, 9.0)]


def test_stream_static_enrich_sees_dim_updates(spark, srcdir, tmp_path):
    dim_path = tmp_path / "dim"
    spark.createDataFrame(
        [("click", "engage"), ("purchase", "convert")], "event_type string, category string"
    ).write.mode("overwrite").parquet(str(dim_path))

    stream = sp.stream_events(spark, str(srcdir))
    enriched = sp.stream_static_enrich(
        stream, spark.read.parquet(str(dim_path))
    ).select("event_id", "event_type", "category")

    out, ck = tmp_path / "out", tmp_path / "ck"
    _write_batch(srcdir, "b1.json", [
        _rows("2024-01-01 10:00:00", 1, etype="click"),
        _rows("2024-01-01 10:01:00", 2, etype="signup"),
    ])
    got = _collect_parquet(spark, enriched, out, ck)
    cats = {r.event_id: r.category for r in got.collect()}
    assert cats == {1: "engage", 2: None}  # left join keeps unmatched facts

    # rewrite the dim; a checkpoint-restart (new plan, same ck) must see
    # the new mapping — the static file listing is pinned per plan
    spark.createDataFrame(
        [("click", "engage"), ("signup", "acquire")], "event_type string, category string"
    ).write.mode("overwrite").parquet(str(dim_path))
    _write_batch(srcdir, "b2.json", [
        _rows("2024-01-01 10:02:00", 3, etype="signup"),
    ])
    enriched = sp.stream_static_enrich(
        sp.stream_events(spark, str(srcdir)), spark.read.parquet(str(dim_path))
    ).select("event_id", "event_type", "category")
    got = _collect_parquet(spark, enriched, out, ck)
    cats = {r.event_id: r.category for r in got.collect()}
    assert cats[3] == "acquire" and cats[1] == "engage"


def test_streaming_ewma_matches_batch_operator(spark, srcdir, tmp_path):
    """Cross-batch state: the streamed EWMA series equals the batch
    applyInPandas result over the same (in-order) events."""
    from polars_fastx_spark.streaming.stateful import streaming_ewma

    b1 = [
        _rows("2024-01-01 10:00:00", 1, user=7, value=10.0),
        _rows("2024-01-01 10:01:00", 2, user=7, value=20.0),
        _rows("2024-01-01 10:00:30", 3, user=9, value=5.0),
    ]
    b2 = [
        _rows("2024-01-01 10:02:00", 4, user=7, value=30.0),
        _rows("2024-01-01 10:03:00", 5, user=9, value=15.0),
    ]
    _write_batch(srcdir, "b1.json", b1)
    stream = streaming_ewma(sp.stream_events(spark, str(srcdir)), alpha=0.5)
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, stream, out, ck)
    _write_batch(srcdir, "b2.json", b2)
    got_df = _collect_parquet(spark, stream, out, ck)
    got = {r.event_id: r.ewma for r in got_df.collect()}

    # batch reference over the union of both batches
    expect = {1: 10.0, 2: 15.0, 4: 22.5, 3: 5.0, 5: 10.0}
    assert got == expect  # cross-batch state resumed exactly


def test_update_mode_reemits_growing_windows(spark, srcdir, tmp_path):
    """Update output mode: a window re-emits each batch it grows in —
    the dashboard-refresh semantics (vs append's emit-once-final)."""
    events = sp.stream_events(spark, str(srcdir))
    agg = sp.tumbling_counts(events, width="1 hour", watermark="10 minutes")

    out = tmp_path / "upd"

    def sink(batch, bid):
        if batch.count():
            batch.write.mode("append").parquet(str(out))

    def run():
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    _write_batch(srcdir, "b0.json", [_rows("2024-01-01T00:05:00Z", 1)])
    run()
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T00:20:00Z", 2)])
    run()
    # the same window was emitted twice: once at n=1, re-emitted at n=2
    rows = spark.read.parquet(str(out)).collect()
    counts = sorted(r.n_events for r in rows)
    assert counts == [1, 2]


def test_session_window_late_data_golden_states(spark, srcdir, tmp_path):
    """T5 golden state transitions (SURVEY §7.5): a late-but-in-watermark
    event BRIDGES two open sessions into one; a too-late event is
    dropped and never re-opens a closed session.

    Scripted micro-batches against one checkpoint; after each pass the
    cumulative append-sink contents are compared to the expected session
    state."""
    events = sp.stream_events(spark, str(srcdir))
    sess = sp.session_value_sums(events, gap="5 minutes", watermark="10 minutes")
    out, ck = tmp_path / "out", tmp_path / "ck"

    def emitted():
        df = _collect_parquet(spark, sess, out, ck)
        if df is None:
            return []
        return sorted(
            (str(r["session_start"]), str(r["session_end"]), r["user_id"],
             r["n_events"], r["sum_value"])
            for r in df.collect()
        )

    # pass 1: user 7 at 00:00 and 00:06 -> TWO open sessions (6 min gap)
    _write_batch(srcdir, "b0.json", [
        _rows("2024-01-01T00:00:00Z", 1, user=7),
        _rows("2024-01-01T00:06:00Z", 2, user=7),
        _rows("2024-01-01T00:07:00Z", 3, user=8),
    ])
    assert emitted() == []  # watermark far behind: nothing finalized

    # pass 2: LATE event 00:03 (within watermark) bridges both sessions
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T00:03:00Z", 4, user=7)])
    assert emitted() == []  # still open; merge happens in state

    # pass 3: watermark pusher 01:00 -> watermark reaches 00:50,
    # finalizing the merged session and user 8's
    _write_batch(srcdir, "b2.json", [_rows("2024-01-01T01:00:00Z", 5, user=7)])
    emitted()  # whether emission lands this pass or next is trigger detail

    # pass 4: too-late 00:02 (behind the 00:50 watermark) must be
    # DROPPED; 02:00 pusher closes user 7's 01:00 session
    _write_batch(srcdir, "b3.json", [
        _rows("2024-01-01T00:02:00Z", 6, user=7),
        _rows("2024-01-01T02:00:00Z", 7, user=9),
    ])
    got4 = emitted()
    merged = ("2024-01-01 00:00:00", "2024-01-01 00:11:00", 7, 3, 3.0)
    assert merged in got4, got4  # ONE session of 3 events, end = last+gap
    assert ("2024-01-01 00:07:00", "2024-01-01 00:12:00", 8, 1, 1.0) in got4
    # the closed window was not re-opened or duplicated by the late row
    early7 = [g for g in got4 if g[2] == 7 and g[0] < "2024-01-01 01:00:00"]
    assert early7 == [merged], early7

    # pass 5: flush — user 7's 01:00 session closes with exactly one event
    _write_batch(srcdir, "b4.json", [_rows("2024-01-01T03:00:00Z", 8, user=9)])
    got5 = emitted()
    assert ("2024-01-01 01:00:00", "2024-01-01 01:05:00", 7, 1, 1.0) in got5, got5
    # grand total for user 7 = 4 events: the too-late row contributed NOWHERE
    assert sum(g[3] for g in got5 if g[2] == 7) == 4


def test_stateful_op_runs_on_rocksdb_state_store(srcdir, tmp_path):
    """The 100 TB state lever: the same stateful operator must run
    unchanged on the RocksDB state store provider (bounded executor
    memory, state spills to disk) — the provider a large cluster needs
    instead of the default HDFS-backed in-memory map.

    Runs in a SUBPROCESS with its own JVM: RocksDB is JNI-backed and an
    intermittent native fault must not take down the suite's shared
    session (observed: a mid-suite gateway death cascading into ~35
    unrelated 'Connection refused' failures)."""
    import subprocess
    import sys

    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:00:00Z", 1, user=3, value=2.0),
            _rows("2024-01-01T00:01:00Z", 2, user=3, value=3.0),
        ],
    )
    script = f"""
import sys
sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
from pathlib import Path
from polars_fastx_spark.session import builder
from polars_fastx_spark.streaming import pipelines as sp
from polars_fastx_spark.streaming.stateful import running_user_totals

spark = (builder("rocksdb-isolated", master="local[2]",
         extra_conf={{"spark.ui.enabled": "false",
                      "spark.sql.shuffle.partitions": "4",
                      "spark.sql.streaming.stateStore.providerClass":
                      "org.apache.spark.sql.execution.streaming.state."
                      "RocksDBStateStoreProvider"}}).getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
out, ck = {str(tmp_path / "out")!r}, {str(tmp_path / "ck")!r}
totals = running_user_totals(sp.stream_events(spark, {str(srcdir)!r}))
q = (totals.writeStream.format("parquet").option("path", out)
     .option("checkpointLocation", ck).trigger(availableNow=True).start())
q.awaitTermination(120)
rows = spark.read.parquet(out).collect()
assert [(r["user_id"], r["events_total"], r["value_total"]) for r in rows] == [
    (3, 2, 5.0)
], rows
state = [str(p) for p in (Path(ck) / "state").rglob("*") if p.is_file()]
assert not [p for p in state if p.endswith(".delta")], state
assert [p for p in state if ".zip" in p or ".sst" in p or "rocksdb" in p.lower()], state
print("ROCKSDB_OK")
spark.stop()
"""
    res = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "ROCKSDB_OK" in res.stdout, res.stdout[-2000:] + res.stderr[-2000:]


def test_windowed_distinct_users_hll(spark, srcdir, tmp_path):
    """Streaming unique-visitors: HLL sketch state per window, exact on
    small cardinalities, windows finalized by the watermark."""
    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:05:00Z", 1, user=7),
            _rows("2024-01-01T00:10:00Z", 2, user=7),   # same user twice
            _rows("2024-01-01T00:20:00Z", 3, user=9),
            _rows("2024-01-01T01:10:00Z", 4, user=7),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    agg = sp.windowed_distinct_users(events, width="1 hour", watermark="10 minutes")
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, agg, out, ck)
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T09:00:00Z", 5)])
    result = _collect_parquet(spark, agg, out, ck)
    got = {
        r["window_start"].isoformat(): (r["approx_users"], r["n_events"])
        for r in result.collect()
    }
    # HLL is exact at tiny cardinality
    assert got["2024-01-01T00:00:00"] == (2, 3)
    assert got["2024-01-01T01:00:00"] == (1, 1)


def test_stream_bloom_filter_gates_contaminated_rows(spark, srcdir, tmp_path):
    """Ingest-time Bloom gate: rows whose text is in the blocklist set
    never reach the sink (no false negatives); clean rows pass at a
    properly-sized m; the stream plan carries no stateful operator."""
    from polars_fastx_spark.operators.text import bloom_bitmask

    block = spark.createDataFrame(
        [(f"bad-doc-{i}",) for i in range(50)], "text string"
    )
    mask = bloom_bitmask(block, "text", m_bits=1 << 16, k=4)

    docs = [{"doc_id": i, "text": f"bad-doc-{i}"} for i in range(0, 10)]
    docs += [{"doc_id": 100 + i, "text": f"clean-doc-{i}"} for i in range(10)]
    (srcdir / "b0.json").write_text(
        "\n".join(json.dumps(d) for d in docs) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(srcdir))
    )
    gated = sp.stream_bloom_filter(stream, mask, "text", m_bits=1 << 16, k=4)
    out, ck = tmp_path / "out", tmp_path / "ck"
    result = _collect_parquet(spark, gated, out, ck)
    got = sorted(r["doc_id"] for r in result.collect())
    assert got == list(range(100, 110))  # every blocklisted row gated

    # second micro-batch flows through the same checkpoint
    more = [{"doc_id": 200, "text": "bad-doc-3"}, {"doc_id": 201, "text": "clean again"}]
    (srcdir / "b1.json").write_text(
        "\n".join(json.dumps(d) for d in more) + "\n"
    )
    result = _collect_parquet(spark, gated, out, ck)
    got = sorted(r["doc_id"] for r in result.collect())
    assert got == list(range(100, 110)) + [201]

    # keep_hits=True routes ONLY possible members (to an exact check)
    hits = sp.stream_bloom_filter(
        stream, mask, "text", m_bits=1 << 16, k=4, keep_hits=True
    )
    out2, ck2 = tmp_path / "out2", tmp_path / "ck2"
    result = _collect_parquet(spark, hits, out2, ck2)
    got = sorted(r["doc_id"] for r in result.collect())
    assert got == list(range(0, 10)) + [200]


def test_streaming_ewma_null_values_match_pandas(spark, srcdir, tmp_path):
    """A null value must not NaN-poison the accumulator: the stream
    replays pandas ``adjust=False, ignore_na=False`` exactly (the batch
    twin's engine), including a null that falls on a batch boundary —
    the inter-observation gap is carried in the state store."""
    from polars_fastx_spark.streaming.stateful import streaming_ewma

    b1 = [
        _rows("2024-01-01 10:00:00", 1, user=7, value=1.0),
        _rows("2024-01-01 10:01:00", 2, user=7, value=None),
    ]
    b2 = [_rows("2024-01-01 10:02:00", 3, user=7, value=2.0)]
    _write_batch(srcdir, "b1.json", b1)
    stream = streaming_ewma(sp.stream_events(spark, str(srcdir)), alpha=0.5)
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, stream, out, ck)
    _write_batch(srcdir, "b2.json", b2)
    got_df = _collect_parquet(spark, stream, out, ck)
    got = {r.event_id: r.ewma for r in got_df.collect()}

    # pandas [1, nan, 2].ewm(alpha=.5, adjust=False).mean()
    # = [1.0, 1.0, (0.25*1 + 0.5*2)/0.75]
    import pandas as pd

    ref = pd.Series([1.0, None, 2.0]).ewm(alpha=0.5, adjust=False).mean()
    assert got[1] == ref[0] == 1.0
    assert got[2] == ref[1] == 1.0  # re-emits the accumulator, not NaN
    assert got[3] == pytest.approx(ref[2]) and got[3] == pytest.approx(5 / 3)


def test_stream_cms_matches_batch_sketch(spark, srcdir, tmp_path):
    """The streaming CMS after two micro-batches must equal the batch
    sketch over the union of all input, cell-for-cell (counter sums
    are associative; checkpointed state carries batch 0's counters
    into run 2) — and its state is depth*width-bounded, so no
    watermark is needed."""
    from polars_fastx_spark.functions import sketches

    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:00:01Z", 1, etype="click"),
            _rows("2024-01-01T00:00:02Z", 2, etype="view"),
            _rows("2024-01-01T00:00:03Z", 3, etype="click"),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    cms = sp.stream_cms_counts(events, "event_type", depth=4, width=32)
    ck = tmp_path / "ck"
    _run_until_done(sp.memory_sink(cms, "cms_t1", str(ck), "complete"))
    _write_batch(
        srcdir,
        "b1.json",
        [
            _rows("2024-01-01T00:00:04Z", 4, etype="click"),
            _rows("2024-01-01T00:00:05Z", 5, etype="purchase"),
        ],
    )
    _run_until_done(sp.memory_sink(cms, "cms_t1", str(ck), "complete"))
    got = {
        (r.d, r.bucket): r.cnt for r in spark.table("cms_t1").collect()
    }
    batch = spark.read.json(
        str(srcdir), schema=sp.EVENTS_STREAM_SCHEMA
    )
    want = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_table(
            batch, "event_type", depth=4, width=32
        ).collect()
    }
    assert got == want
    assert sum(got.values()) == 5 * 4  # 5 rows x depth counters
    # heavy-hitter read-out straight off the sink table
    probes = spark.createDataFrame(
        [("click",), ("view",), ("purchase",), ("absent",)], ["v"]
    )
    est = {
        r.probe: r.est
        for r in sketches.cms_query(
            spark.table("cms_t1"), probes, "v", depth=4, width=32
        ).collect()
    }
    assert est["click"] == 3 and est["view"] == 1 and est["purchase"] == 1
    assert est["absent"] >= 0


def test_streaming_kmv_matches_batch_sketch(spark, srcdir, tmp_path):
    """Bottom-k is closed under incremental insertion: after two
    micro-batches the per-key streaming KMV estimate must equal the
    batch kmv_estimate over the union of all input — including a key
    that SATURATES k, where the estimator (not the exact count) takes
    over. n_seen is monotone, so the final row per key is its max."""
    from pyspark.sql import functions as F

    from polars_fastx_spark.functions import sketches
    from polars_fastx_spark.streaming.stateful import streaming_kmv

    k = 4
    _write_batch(
        srcdir,
        "b0.json",
        [_rows("2024-01-01T00:00:01Z", i, user=i, etype="click") for i in range(1, 7)]
        + [_rows("2024-01-01T00:00:02Z", 10, user=1, etype="view")],
    )
    events = sp.stream_events(spark, str(srcdir))
    kmv = streaming_kmv(events, "event_type", "user_id", k=k)
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, kmv, out, ck)
    _write_batch(
        srcdir,
        "b1.json",
        [_rows("2024-01-01T00:00:03Z", i + 20, user=i + 100, etype="click") for i in range(3)]
        + [_rows("2024-01-01T00:00:04Z", 30, user=2, etype="view")],
    )
    got_df = _collect_parquet(spark, kmv, out, ck)
    final = {}
    for r in got_df.collect():
        if r.key not in final or r.n_seen > final[r.key].n_seen:
            final[r.key] = r

    batch = spark.read.json(str(srcdir), schema=sp.EVENTS_STREAM_SCHEMA)
    for key in ("click", "view"):
        want = sketches.kmv_estimate(
            sketches.kmv_merge(
                sketches.kmv_partials(
                    batch.filter(F.col("event_type") == key),
                    "user_id",
                    k,
                    F.lit(0),
                ),
                k,
            ),
            k,
        ).collect()[0]
        got = final[key]
        assert got.n_retained == want.n_retained, key
        assert got.ndv_est == want.ndv_est, key
    # click saw 9 distinct users > k=4: the sketch is saturated and the
    # estimate comes from theta, not a plain count
    assert final["click"].n_retained == k
    assert final["view"].ndv_est == 2  # unsaturated: exact


def test_stream_neardup_gate_grows_index_across_batches(spark, srcdir, tmp_path):
    """Incremental streaming near-dedup: batch 1 seeds the on-disk LSH
    index; a batch-2 near-duplicate of a batch-1 doc is dropped while
    novel and shingle-less docs pass; accepted bands append to the
    index so the corpus the gate sees GROWS with the stream."""
    from polars_fastx_spark.streaming.pipelines import stream_neardup_gate

    def _doc_batch(name, rows):
        (srcdir / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
            + "\n"
        )

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(srcdir))
    )
    idx, out, ck = tmp_path / "idx", tmp_path / "out", tmp_path / "ck"

    _doc_batch(
        "b0.json",
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus document about spark plans"),
        ],
    )
    q = stream_neardup_gate(
        docs, "doc_id", "text", str(idx), str(out), str(ck)
    )
    q.awaitTermination(120)
    _doc_batch(
        "b1.json",
        [
            # near-dup of batch-1 doc 1 -> must be dropped by the gate
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            (11, "nothing like anything the corpus has ever contained zzz"),
            (12, "abc"),  # shingle-less: passes
        ],
    )
    q = stream_neardup_gate(
        docs, "doc_id", "text", str(idx), str(out), str(ck)
    )
    q.awaitTermination(120)
    _doc_batch(
        "b2.json",
        [
            # near-dup of doc 11, which was ACCEPTED in batch 2: only a
            # grown index can drop it
            (20, "nothing like anything the corpus has ever contained zzy"),
            (21, "yet another entirely novel piece of training text qqq"),
        ],
    )
    q = stream_neardup_gate(
        docs, "doc_id", "text", str(idx), str(out), str(ck)
    )
    q.awaitTermination(120)

    kept = {r.doc_id for r in spark.read.parquet(str(out)).collect()}
    assert kept == {1, 2, 11, 12, 21}
    indexed = {r["__id"] for r in spark.read.parquet(str(idx)).collect()}
    assert indexed == {1, 2, 11, 21}  # shingle-less doc 12 carries no bands


def test_stream_neardup_gate_epoch_retry_is_idempotent(spark, tmp_path):
    """At-least-once retry: re-running an epoch whose first attempt
    already wrote its own bands to epoch=<id> must NOT gate the batch
    against that attempt's index (every doc would self-collide and be
    dropped, silently emptying the epoch). The retry reads only
    epoch < current, so its output is identical to the first run's."""
    from polars_fastx_spark.streaming.pipelines import _neardup_gate_epoch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus document about spark plans"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            # near-dup of epoch-0 doc 1 -> dropped
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            (11, "nothing like anything the corpus has ever contained zzz"),
        ],
        "doc_id long, text string",
    )
    _neardup_gate_epoch(b0, 0, idx, out, "doc_id", "text")
    _neardup_gate_epoch(b1, 1, idx, out, "doc_id", "text")
    first = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert first == {1, 2, 11}
    # simulate the failure-after-write retry of BOTH epochs: the prior
    # attempt's epoch=<id> band parquet is on disk when we rerun
    _neardup_gate_epoch(b0, 0, idx, out, "doc_id", "text")
    _neardup_gate_epoch(b1, 1, idx, out, "doc_id", "text")
    retried = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert retried == first  # no silent self-collision data loss
    indexed = {r["__id"] for r in spark.read.parquet(idx).collect()}
    assert indexed == {1, 2, 11}


def test_neardup_gate_compaction_bounds_epoch_count(spark, tmp_path):
    """20 micro-batches with compact_every=5: the band index's epoch
    partitions stay bounded (folded into the newest committed epoch
    before each gate) and the gate's drop behavior is unchanged — a
    near-dup of a batch-0 doc is still dropped at batch 19, after its
    bands have been through multiple compactions."""
    import os

    from polars_fastx_spark.streaming.pipelines import _neardup_gate_epoch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    texts = {
        0: "the quick brown fox jumps over the lazy dog tonight",
        7: "completely unrelated corpus document about spark plans",
    }

    def _batch(e, rows):
        b = spark.createDataFrame(rows, "doc_id long, text string")
        _neardup_gate_epoch(
            b, e, idx, out, "doc_id", "text", compact_every=5
        )

    for e in range(19):
        _batch(e, [(e * 10, texts.get(e, f"novel doc number {e} {'x' * e} qq"))])
    # batch 19 carries near-dups of docs first seen at epochs 0 and 7
    _batch(19, [
        (500, "the quick brown fox jumps over the lazy cat tonight"),
        (501, "completely unrelated corpus document about spark plans!"),
        (502, "genuinely fresh text that matches nothing before it zz"),
    ])
    epochs = [d for d in os.listdir(idx) if d.startswith("epoch=")]
    assert len(epochs) <= 6, epochs  # bounded, not 20
    assert not [d for d in os.listdir(idx) if d.startswith("_compact")]
    kept19 = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/epoch=19").collect()
    }
    assert kept19 == {502}
    # every accepted doc's bands survived the compactions
    indexed = {r["__id"] for r in spark.read.parquet(idx).collect()}
    assert {0, 70, 502} <= indexed and 500 not in indexed


def test_neardup_gate_compaction_recovers_interrupted_swap(spark, tmp_path):
    """Crash between stage-commit and source-deletion: the retry must
    finish the swap from the COMMITTED stage (named for its target),
    not rebuild the union from half-deleted sources."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from polars_fastx_spark.streaming.pipelines import (
        _compact_index_epochs,
        _neardup_gate_epoch,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    for e in range(6):
        b = spark.createDataFrame(
            [(e, f"document number {e} with plenty of distinct words {e}")],
            "doc_id long, text string",
        )
        _neardup_gate_epoch(b, e, idx, out, "doc_id", "text")
    before = {r["__id"] for r in spark.read.parquet(idx).collect()}
    # simulate epoch 6's compaction crashing mid-step-2: stage committed,
    # one source epoch already deleted
    (
        spark.read.option("basePath", idx).parquet(f"{idx}/epoch=*")
        .filter(F.col("epoch") < 6).drop("epoch")
        .coalesce(1).write.mode("overwrite")
        .parquet(f"{idx}/_compact_tmp_e5")
    )
    shutil.rmtree(f"{idx}/epoch=3")
    _compact_index_epochs(spark, idx, 6, compact_every=5)
    assert {d for d in os.listdir(idx) if d.startswith("epoch=")} == {
        "epoch=5"
    }
    after = {r["__id"] for r in spark.read.parquet(idx).collect()}
    assert after == before  # nothing lost, including the deleted source's


def test_stream_index_add_grows_persisted_ann_index(spark, srcdir, tmp_path):
    """Streaming ANN ingest: vectors arriving across micro-batches are
    encoded against the frozen quantizers and appended with epoch ids
    pinned to base + batch id; a later search over the persisted index
    finds them, and restarting the stream reuses the recorded base."""
    from pyspark.sql import functions as F

    from polars_fastx_spark.operators import ann_index
    from polars_fastx_spark.streaming.pipelines import stream_index_add

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx = str(tmp_path / "idx")
    ann_index.index_build(
        emb.filter("vec_id < 100"), "vec_id", "v", idx, num_cells=8,
        pinned=True,
    )
    rows = {
        r["vec_id"]: list(r["v"])
        for r in emb.filter("vec_id >= 100 and vec_id < 140").collect()
    }

    def _vec_batch(name, ids):
        (srcdir / name).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "v": rows[i]}) for i in ids
            )
            + "\n"
        )

    vecs = spark.readStream.schema("vec_id long, v array<double>").json(
        str(srcdir)
    )
    ck = str(tmp_path / "ck")
    ids = sorted(rows)
    _vec_batch("b0.json", ids[:20])
    stream_index_add(vecs, "v", idx, ck).awaitTermination(120)
    _vec_batch("b1.json", ids[20:])
    stream_index_add(vecs, "v", idx, ck).awaitTermination(120)

    coded = spark.read.option("basePath", f"{idx}/codes").parquet(
        f"{idx}/codes/epoch=*"
    )
    assert coded.count() == 140
    assert coded.select("__id").distinct().count() == 140
    # epochs pinned at base(=1) + batch id
    got_epochs = {r["epoch"] for r in coded.select("epoch").distinct().collect()}
    assert got_epochs == {0, 1, 2}
    # an ingested vector is findable with a full probe
    probe = ids[-1]
    hits = {
        r["vec_id"]
        for r in ann_index.index_search(
            spark, idx, rows[probe], k=5, nprobe=8
        ).collect()
    }
    assert probe in hits


def test_windowed_quantiles_kll(spark, srcdir, tmp_path):
    """Streaming latency-percentile metric: KLL sketch state per
    window, exact on tiny cardinalities, windows finalized by the
    watermark — and identical to the batch KLL over the same rows."""
    _write_batch(
        srcdir,
        "b0.json",
        [
            _rows("2024-01-01T00:05:00Z", 1, value=10.0),
            _rows("2024-01-01T00:10:00Z", 2, value=20.0),
            _rows("2024-01-01T00:20:00Z", 3, value=30.0),
            _rows("2024-01-01T01:10:00Z", 4, value=5.0),
        ],
    )
    events = sp.stream_events(spark, str(srcdir))
    agg = sp.windowed_quantiles(
        events, probs=[0.5], width="1 hour", watermark="10 minutes"
    )
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, agg, out, ck)
    _write_batch(srcdir, "b1.json", [_rows("2024-01-01T09:00:00Z", 5)])
    result = _collect_parquet(spark, agg, out, ck)
    got = {
        r["window_start"].isoformat(): r["q50"] for r in result.collect()
    }
    # KLL at 3 values returns an exact rank — the middle value
    assert got["2024-01-01T00:00:00"] == 20.0
    assert got["2024-01-01T01:00:00"] == 5.0


def test_stream_sample_gate_matches_batch_sample(spark, srcdir, tmp_path):
    """Stateless deterministic sampling on the stream == the batch
    deterministic_sample over the same rows, id-for-id, across two
    micro-batches and restarts (no RNG, no state)."""
    from polars_fastx_spark.operators.sampling import deterministic_sample
    from polars_fastx_spark.streaming.pipelines import stream_sample_gate

    _write_batch(
        srcdir, "b0.json",
        [_rows("2024-01-01T00:00:01Z", i, user=i) for i in range(1, 60)],
    )
    events = sp.stream_events(spark, str(srcdir))
    gated = stream_sample_gate(events, "event_id", 0.4, salt="ingest")
    out, ck = tmp_path / "out", tmp_path / "ck"
    _collect_parquet(spark, gated, out, ck)
    _write_batch(
        srcdir, "b1.json",
        [_rows("2024-01-01T00:00:02Z", i, user=i) for i in range(60, 120)],
    )
    got_df = _collect_parquet(spark, gated, out, ck)
    got = {r.event_id for r in got_df.collect()}
    batch = spark.read.json(str(srcdir), schema=sp.EVENTS_STREAM_SCHEMA)
    want = {
        r.event_id
        for r in deterministic_sample(batch, "event_id", 0.4, salt="ingest").collect()
    }
    assert got == want and 0 < len(got) < 119
    # nesting: the 0.2 sample is a subset of the 0.4 sample
    sub = {
        r.event_id
        for r in deterministic_sample(batch, "event_id", 0.2, salt="ingest").collect()
    }
    assert sub <= got


def test_stream_decontam_gate_drops_contaminated_docs(spark, srcdir, tmp_path):
    """The streaming contamination gate: docs quoting a benchmark item
    (containment >= threshold) are dropped across micro-batches; clean
    docs and batch==stream parity with the batch operator hold."""
    from polars_fastx_spark.operators import dedup
    from polars_fastx_spark.streaming.pipelines import stream_decontam_gate

    bench_text = "what is the capital of france and when was it founded"
    benchmark = spark.createDataFrame(
        [(900, bench_text)], ["doc_id", "text"]
    )

    def _doc_batch(name, rows):
        (srcdir / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
            + "\n"
        )

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(srcdir))
    )
    out, ck = tmp_path / "out", tmp_path / "ck"

    b0 = [
        (1, "an article that asks " + bench_text + " among other things"),
        (2, "perfectly clean document about gardening and hiking trails"),
    ]
    _doc_batch("b0.json", b0)
    q = stream_decontam_gate(
        docs, benchmark, "doc_id", "text", str(out), str(ck), threshold=0.9
    )
    q.awaitTermination(120)

    b1 = [
        (10, "another quiz page containing " + bench_text + " verbatim"),
        (11, "novel clean training text with no benchmark overlap at all"),
    ]
    _doc_batch("b1.json", b1)
    q = stream_decontam_gate(
        docs, benchmark, "doc_id", "text", str(out), str(ck), threshold=0.9
    )
    q.awaitTermination(120)

    kept = {
        r.doc_id for r in spark.read.parquet(str(out)).collect()
    }
    assert kept == {2, 11}

    # stream == batch parity: the batch operator's hit set is the
    # complement of what the stream kept
    allb = spark.createDataFrame(b0 + b1, ["doc_id", "text"])
    batch_hits = {
        r["corpus_id"]
        for r in dedup.containment_pairs_between(
            allb, benchmark, "doc_id", "text", threshold=0.9
        ).collect()
    }
    assert batch_hits == {1, 10}


def test_stream_decontam_gate_epoch_retry_is_idempotent(spark, tmp_path):
    """Replaying an epoch (at-least-once redelivery) overwrites its own
    output: same kept set, no duplicates."""
    from polars_fastx_spark.streaming.pipelines import _decontam_gate_epoch

    bench_text = "what is the capital of france and when was it founded"
    benchmark = spark.createDataFrame([(900, bench_text)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (1, "quiz doc containing " + bench_text + " in full"),
            (2, "clean document about winter cycling equipment care"),
        ],
        ["doc_id", "text"],
    )
    out = str(tmp_path / "out")
    _decontam_gate_epoch(
        batch, 0, benchmark, out, "doc_id", "text", 8, 0.9, None
    )
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    _decontam_gate_epoch(  # redelivered epoch 0
        batch, 0, benchmark, out, "doc_id", "text", 8, 0.9, None
    )
    second = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == second == [2]


def _bmp32(px):
    import struct as _struct

    h, w, _ = px.shape
    stride = (w * 3 + 3) // 4 * 4
    body = b"".join(r.tobytes() + b"\x00" * (stride - w * 3) for r in px[::-1])
    hdr = b"BM" + _struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    hdr += _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return bytearray(hdr + body)


def test_stream_media_neardup_gate_grows_index(spark, tmp_path):
    """Streaming image dedup: batch 1 seeds the signature index; a
    batch-2 near-dup of a batch-1 image drops while novel and
    undecodable content passes; the index GROWS (a near-dup of a
    batch-2 acceptee drops in batch 3); a retried epoch is idempotent."""
    import numpy as np

    from polars_fastx_spark.streaming.pipelines import (
        _media_gate_epoch,
        stream_media_neardup_gate,
    )

    rng = np.random.RandomState(41)
    base = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
    novel = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)

    def edited(px):
        q = px.copy()
        q[4:8, 4:8] = 255
        return q

    src = tmp_path / "src"
    src.mkdir()
    idx, out, ck = tmp_path / "idx", tmp_path / "out", tmp_path / "ck"

    def _write(name, rows):
        spark.createDataFrame(
            rows, "path string, content binary"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream_df = lambda: spark.readStream.schema(
        "path string, content binary"
    ).option("recursiveFileLookup", "true").parquet(str(src))

    _write("b0", [("c0.bmp", _bmp32(base))])
    q = stream_media_neardup_gate(stream_df(), str(idx), str(out), str(ck))
    q.awaitTermination(120)

    _write("b1", [
        ("d0.bmp", _bmp32(edited(base))),       # near-dup of c0 -> drop
        ("d1.bmp", _bmp32(novel)),              # novel -> keep
        ("bad.bin", bytearray(b"not an image")),  # undecodable -> pass
    ])
    q = stream_media_neardup_gate(stream_df(), str(idx), str(out), str(ck))
    q.awaitTermination(120)

    _write("b2", [
        ("e0.bmp", _bmp32(edited(novel))),      # near-dup of ACCEPTED d1
        ("e1.bmp", _bmp32(rng.randint(0, 256, size=(32, 32, 3),
                                      dtype=np.uint8))),
    ])
    q = stream_media_neardup_gate(stream_df(), str(idx), str(out), str(ck))
    q.awaitTermination(120)

    kept = {r.path for r in spark.read.parquet(str(out)).collect()}
    assert kept == {"c0.bmp", "d1.bmp", "bad.bin", "e1.bmp"}

    # retried epoch: replay the LAST batch with its own index partition
    # already on disk — must not self-collide (e1 stays kept)
    batch2 = spark.createDataFrame(
        [("e0.bmp", _bmp32(edited(novel))),
         ("e1.bmp", _bmp32(rng.randint(0, 256, size=(32, 32, 3),
                                       dtype=np.uint8)))],
        "path string, content binary",
    )
    last_epoch = max(
        int(p.name.split("=")[1])
        for p in (tmp_path / "out").iterdir() if p.name.startswith("epoch=")
    )
    _media_gate_epoch(batch2, last_epoch, str(idx), str(out))
    kept2 = {r.path for r in spark.read.parquet(str(out)).collect()}
    assert "e1.bmp" in kept2 and "e0.bmp" not in kept2


def test_stream_decontam_gate_unpersists_benchmark_on_terminate(
    spark, srcdir, tmp_path
):
    """The gate caches the benchmark for the QUERY's lifetime only:
    after the query terminates, the listener unpersists it — repeated
    gate runs in a long-lived session must not each pin a copy in
    executor memory forever (ADVICE r5 #4)."""
    import time

    from polars_fastx_spark.streaming.pipelines import stream_decontam_gate

    benchmark = spark.createDataFrame(
        [(900, "what is the capital of france")], ["doc_id", "text"]
    )
    (srcdir / "b0.json").write_text(
        json.dumps({"doc_id": 1, "text": "clean doc about gardening"})
        + "\n"
    )
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(srcdir))
    )
    q = stream_decontam_gate(
        docs, benchmark, "doc_id", "text",
        str(tmp_path / "out"), str(tmp_path / "ck"), threshold=0.9,
    )
    q.awaitTermination(120)
    # listener delivery is async — poll for the unpersist
    for _ in range(60):
        if not benchmark.is_cached:
            break
        time.sleep(0.5)
    assert not benchmark.is_cached


def test_stream_fetch_frontier_releases_delays_on_terminate(
    spark, tmp_path
):
    """The frontier caches its crawl-delay table for the QUERY's
    lifetime only: once the query terminates the table is released, as
    the decontamination gate's benchmark is."""
    from polars_fastx_spark.functions.robots import parse_crawl_delays

    robots = spark.createDataFrame(
        [("d.com", "User-agent: *\nCrawl-delay: 5\nDisallow:")],
        "domain string, robots_txt string",
    )
    delays = parse_crawl_delays(robots, agent="mybot")
    src = tmp_path / "cand"
    src.mkdir()
    (src / "b0.json").write_text(json.dumps({"url": "https://d.com/0"}) + "\n")
    stream = spark.readStream.schema("url string").json(str(src))
    q = sp.stream_fetch_frontier(
        stream, delays, str(tmp_path / "sched"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    for _ in range(60):
        if not delays.is_cached:
            break
        time.sleep(0.5)
    assert not delays.is_cached


def test_stream_index_add_monitors_drift_and_policy_retrains(
    spark, srcdir, tmp_path
):
    """monitor_drift=True lands a drift row per ingest epoch;
    index_drift_trend aggregates the corpus-weighted trend; and
    index_retrain_if_drifted fires exactly when the latest epoch's
    distortion crosses ratio x the post-build floor (then resets the
    trend with the swap)."""
    import numpy as np

    from polars_fastx_spark.operators import ann_index
    from polars_fastx_spark.streaming.pipelines import stream_index_add

    rng = np.random.RandomState(5)
    centersA = [rng.randn(16) for _ in range(4)]
    centersB = [rng.randn(16) * 8 + 40 for _ in range(4)]

    def mk(vid0, centers, n_per):
        rows, vid = [], vid0
        for c in centers:
            for _ in range(n_per):
                rows.append((vid, (c + rng.randn(16) * 0.05).tolist()))
                vid += 1
        return rows

    A = mk(0, centersA, 30)
    B = mk(1000, centersB, 30)
    dfA = spark.createDataFrame(A, "vec_id long, v array<double>")
    dfB = spark.createDataFrame(B, "vec_id long, v array<double>")
    idx = str(tmp_path / "idx")
    ann_index.index_build(
        dfA, "vec_id", "v", idx, num_cells=8, m=4, pq_k=8, pinned=False
    )

    def _vec_batch(name, rows):
        (srcdir / name).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "v": v}) for i, v in rows
            )
            + "\n"
        )

    stream = spark.readStream.schema(
        "vec_id long, v array<double>"
    ).json(str(srcdir))
    # batch 0: same distribution (healthy floor); batch 1: drifted
    _vec_batch("b0.json", mk(2000, centersA, 10))
    q = stream_index_add(
        stream, "v", idx, str(tmp_path / "ck"), monitor_drift=True
    )
    q.awaitTermination(120)
    assert not ann_index.index_retrain_if_drifted(
        dfA, "v", idx  # one monitored epoch: no-op
    )
    _vec_batch("b1.json", B)
    q = stream_index_add(
        stream, "v", idx, str(tmp_path / "ck"), monitor_drift=True
    )
    q.awaitTermination(120)
    trend = {
        r["epoch"]: r["mean_distortion"]
        for r in ann_index.index_drift_trend(spark, idx).collect()
    }
    assert len(trend) == 2
    e0, e1 = sorted(trend)
    assert trend[e1] > 4.0 * trend[e0]  # the drift is visible
    full = dfA.unionByName(dfB)
    assert ann_index.index_retrain_if_drifted(full, "v", idx, ratio=4.0)
    # the swap consumed the trend (old-quantizer rows would poison the
    # next trigger's baseline) and the retrained index holds everyone
    assert ann_index.index_drift_trend(spark, idx).count() == 0
    ids = {
        r["__id"]
        for r in spark.read.option("basePath", f"{idx}/codes")
        .parquet(f"{idx}/codes/epoch=*").select("__id").collect()
    }
    assert {0, 1000} <= ids
    assert not ann_index.index_retrain_if_drifted(full, "v", idx)


def test_stream_index_add_fresh_checkpoint_never_overwrites(
    spark, srcdir, tmp_path
):
    """A stream restarted with a FRESH checkpoint resets micro-batch
    ids to 0; its epochs must land ABOVE the previous stream's, never
    overwrite them (the per-checkpoint base map — the index-global
    base this regression-tests against had exactly that overwrite)."""
    from pyspark.sql import functions as F

    from polars_fastx_spark.operators import ann_index
    from polars_fastx_spark.streaming.pipelines import stream_index_add

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx = str(tmp_path / "idx")
    ann_index.index_build(
        emb.filter("vec_id < 100"), "vec_id", "v", idx, num_cells=8,
        pinned=True,
    )
    rows = {
        r["vec_id"]: list(r["v"])
        for r in emb.filter("vec_id >= 100 and vec_id < 140").collect()
    }

    def _vec_batch(name, ids):
        (srcdir / name).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "v": rows[i]}) for i in ids
            )
            + "\n"
        )

    vecs = spark.readStream.schema("vec_id long, v array<double>").json(
        str(srcdir)
    )
    ids = sorted(rows)
    _vec_batch("b0.json", ids[:20])
    stream_index_add(
        vecs, "v", idx, str(tmp_path / "ck1"), compact_every=None
    ).awaitTermination(120)
    # fresh checkpoint: re-reads b0 (batch id 0 again) and sees b1
    _vec_batch("b1.json", ids[20:])
    stream_index_add(
        vecs, "v", idx, str(tmp_path / "ck2"), compact_every=None
    ).awaitTermination(120)
    live = {
        r["__id"]
        for r in ann_index._live_codes(spark, idx).select("__id").collect()
    }
    # all 140 present; the re-delivered b0 landed at NEW epochs (its
    # ids simply re-added) instead of clobbering ck1's history
    assert live == set(range(140))
    import os

    eps = sorted(
        int(n.split("=")[1])
        for n in os.listdir(f"{idx}/codes")
        if n.startswith("epoch=")
    )
    # build(0) + ck1's b0(1) + ck2's batches ABOVE them (availableNow
    # may deliver b0+b1 as one micro-batch, so 1 or 2 new epochs)
    assert eps[:2] == [0, 1] and 3 <= len(eps) <= 4
    n_ck1 = (
        spark.read.option("basePath", f"{idx}/codes")
        .parquet(f"{idx}/codes/epoch=1").count()
    )
    assert n_ck1 == 20  # ck1's epoch survived ck2 untouched


def test_stream_containment_gate_fresh_checkpoint_never_overwrites(
    spark, srcdir, tmp_path
):
    """The containment gate's epochs are offset the same way: a fresh
    checkpoint must append above the previous stream's index/output
    epochs, not overwrite them."""
    from polars_fastx_spark.streaming.pipelines import (
        stream_containment_gate,
    )

    def _doc_batch(name, docs):
        (srcdir / name).write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t}) for i, t in docs
            )
            + "\n"
        )

    docs = spark.readStream.schema("doc_id long, text string").json(
        str(srcdir)
    )
    idx, out = str(tmp_path / "cidx"), str(tmp_path / "out")
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    _doc_batch("b0.json", [(1, t1)])
    stream_containment_gate(
        docs, "doc_id", "text", idx, out, str(tmp_path / "ck1"),
        threshold=0.5,
    ).awaitTermination(120)
    # fresh checkpoint: replays batch 0 (doc 1 now gated as a dup of
    # itself in history) and delivers doc 2
    _doc_batch("b1.json", [(2, t2)])
    stream_containment_gate(
        docs, "doc_id", "text", idx, out, str(tmp_path / "ck2"),
        threshold=0.5,
    ).awaitTermination(120)
    kept = {
        r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=*").collect()
    }
    assert kept == {1, 2}  # doc 1 once (replay gated), doc 2 kept
    import os

    post_eps = sorted(
        int(n.split("=")[1])
        for n in os.listdir(f"{idx}/postings")
        if n.startswith("epoch=")
    )
    assert post_eps[0] == 0 and len(post_eps) >= 2  # ck1's epoch intact


def test_stream_fetch_frontier_paces_across_batches(spark, tmp_path):
    """Round-9 #6, the politeness loop closed end-to-end: candidate
    URLs stream in micro-batches; each domain's offsets continue
    ACROSS batches at its robots.txt crawl delay (batch 2 schedules
    after batch 1's last fetch + delay), already-scheduled URLs never
    reschedule, and the schedule is md5-deterministic so replicas
    agree."""
    from polars_fastx_spark.functions.robots import parse_crawl_delays

    src = tmp_path / "cand"
    src.mkdir()
    robots = spark.createDataFrame(
        [
            ("slow.com", "User-agent: *\nCrawl-delay: 10\nDisallow:"),
            ("fast.org", "User-agent: *\nCrawl-delay: 2\nDisallow:"),
        ],
        "domain string, robots_txt string",
    )
    delays = parse_crawl_delays(robots, agent="mybot")

    def _batch(name, urls):
        (tmp_path / "cand" / name).write_text(
            "\n".join(json.dumps({"url": u}) for u in urls) + "\n"
        )

    stream = spark.readStream.schema("url string").json(str(src))
    out, ck = str(tmp_path / "sched"), str(tmp_path / "ck")

    b1 = [f"https://slow.com/p/{i}" for i in range(3)] + [
        f"https://fast.org/a/{i}" for i in range(2)
    ]
    _batch("b0.json", b1)
    q = sp.stream_fetch_frontier(stream, delays, out, ck, cap=100)
    q.awaitTermination(120)

    # batch 2: new URLs for both domains + a RESEND of a b1 url + a
    # domain with no Crawl-delay (default pacing)
    b2 = [f"https://slow.com/q/{i}" for i in range(2)] + [
        "https://fast.org/b/0",
        "https://slow.com/p/0",            # already scheduled: dropped
        "https://nodelay.net/x",
    ]
    _batch("b1.json", b2)
    q = sp.stream_fetch_frontier(stream, delays, out, ck, cap=100)
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    by_dom: dict = {}
    for r in rows:
        by_dom.setdefault(r["domain"], []).append(
            (r["epoch"], r["fetch_offset_s"], r["url"])
        )
    # no URL scheduled twice
    assert len({r["url"] for r in rows}) == len(rows) == 9
    # slow.com: 3 fetches in b1 at 0/10/20, b2 continues at 30/40
    slow = sorted(o for _, o, _ in by_dom["slow.com"])
    assert slow == [0.0, 10.0, 20.0, 30.0, 40.0]
    # fast.org: 0/2 then 4
    assert sorted(o for _, o, _ in by_dom["fast.org"]) == [0.0, 2.0, 4.0]
    # absent domain paces at the default delay from zero
    assert [o for _, o, _ in by_dom["nodelay.net"]] == [0.0]
    # per-domain pacing holds across the WHOLE stream: consecutive
    # offsets are >= the domain's delay apart
    gaps = [b - a for a, b in zip(slow, slow[1:])]
    assert all(g >= 10.0 for g in gaps)
    # replicas agree: recomputing batch 1's schedule from the same
    # input yields the identical assignment (md5-deterministic, no
    # state-store dependence)
    b1_rows = {
        (r["url"], r["fetch_offset_s"]) for r in rows if r["epoch"] == 0
    }
    cand = spark.createDataFrame([(u,) for u in b1], "url string")
    replica = tmp_path / "replica"
    sp._fetch_frontier_epoch(cand, 0, delays, str(replica))
    rep_rows = {
        (r["url"], r["fetch_offset_s"])
        for r in spark.read.parquet(str(replica)).collect()
    }
    assert rep_rows == b1_rows


def test_stream_fetch_frontier_retry_is_idempotent(spark, tmp_path):
    """An at-least-once retry of an epoch reads only epoch<current
    history, so it reproduces the first attempt's schedule exactly
    and overwrites its own dir — no double-scheduling, no pace
    corruption."""
    from polars_fastx_spark.functions.robots import parse_crawl_delays

    robots = spark.createDataFrame(
        [("d.com", "User-agent: *\nCrawl-delay: 5\nDisallow:")],
        "domain string, robots_txt string",
    )
    delays = parse_crawl_delays(robots, agent="mybot")
    out = str(tmp_path / "sched")

    b1 = spark.createDataFrame(
        [(f"https://d.com/{i}",) for i in range(3)], "url string"
    )
    sp._fetch_frontier_epoch(b1, 0, delays, out)
    first = {
        (r["url"], r["fetch_offset_s"])
        for r in spark.read.parquet(out).collect()
    }
    b2 = spark.createDataFrame(
        [("https://d.com/new",), ("https://d.com/0",)], "url string"
    )
    sp._fetch_frontier_epoch(b2, 1, delays, out)
    after = {
        (r["url"], r["fetch_offset_s"])
        for r in spark.read.parquet(out).collect()
    }
    assert after == first | {("https://d.com/new", 15.0)}
    # replay epoch 1: identical final state
    sp._fetch_frontier_epoch(b2, 1, delays, out)
    again = {
        (r["url"], r["fetch_offset_s"])
        for r in spark.read.parquet(out).collect()
    }
    assert again == after
