"""WARC source (sources/warc.py) + HTML extraction (functions/html.py):
the crawl-ingestion front door — spec-valid record parsing, byte-range
split parity on plain AND per-record-gzip files, HTTP envelope
splitting, and the end-to-end crawl pipeline (WARC → HTML text →
canonical URL)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from polars_fastx_spark.functions import html as H
from polars_fastx_spark.functions import urls
from polars_fastx_spark.sources import warc


def _mk_records(n: int):
    recs = []
    for i in range(n):
        body = (
            f"<html><head><title>Page {i}</title></head>"
            f"<body><p>text of page {i} &amp; more</p></body></html>"
        ).encode()
        recs.append(
            warc.render_warc_record(
                f"<urn:uuid:rec-{i:05d}>",
                "response",
                f"HTTPS://WWW.Site{i % 7}.COM:443/a/{i}?utm_source=x&q={i}",
                "2026-08-15T00:00:00Z",
                warc.http_response_block(body),
            )
        )
    return recs


def test_plain_roundtrip_and_fields(spark, tmp_path):
    p = str(tmp_path / "t.warc")
    warc.write_warc(p, _mk_records(5))
    rows = warc.scan_warc(spark, p).orderBy("record_id").collect()
    assert len(rows) == 5
    r = rows[0]
    assert r["warc_type"] == "response"
    assert r["record_id"] == "<urn:uuid:rec-00000>"
    assert r["http_status"] == 200
    assert r["http_content_type"] == "text/html; charset=utf-8"
    assert bytes(r["payload"]).startswith(b"<html>")
    assert r["warc_date"] == "2026-08-15T00:00:00Z"
    assert r["content_length"] > len(r["payload"])  # envelope counted


def test_gz_per_member_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t.warc.gz")
    warc.write_warc(p, _mk_records(5))
    got = {
        r["record_id"]
        for r in warc.scan_warc(spark, p).collect()
    }
    assert got == {f"<urn:uuid:rec-{i:05d}>" for i in range(5)}


@pytest.mark.parametrize("suffix", ["warc", "warc.gz"])
def test_split_parity(spark, tmp_path, suffix):
    """Byte-range splits return exactly the whole file's records, no
    duplicates, no losses — on plain (boundary resync) and
    per-record-gzip (verified member scan) layouts alike."""
    p = str(tmp_path / f"big.{suffix}")
    warc.write_warc(p, _mk_records(300))
    unsplit = warc.scan_warc(spark, p)
    split = warc.scan_warc(spark, p, split_bytes=4096)
    assert split.rdd.getNumPartitions() > 4
    a = sorted(r["record_id"] for r in unsplit.collect())
    b = sorted(r["record_id"] for r in split.collect())
    assert a == b and len(a) == 300


@pytest.mark.parametrize("split", [0, -5])
def test_non_positive_split_bytes_raises(spark, tmp_path, split):
    """A split target <= 0 used to plan zero splits (an empty scan) or
    fail with a bare ``range()`` error; every entry now rejects it."""
    p = str(tmp_path / "t.warc")
    warc.write_warc(p, _mk_records(2))
    with pytest.raises(ValueError, match="split_bytes must be > 0"):
        warc.WarcReader([p], split).partitions()
    with pytest.raises(ValueError, match="split_bytes must be > 0"):
        warc.scan_warc(spark, p, split_bytes=split)
    warc.register(spark)
    reader = spark.read.format("warc").option("split_bytes", str(split))
    with pytest.raises(Exception, match="split_bytes must be > 0"):
        reader.load(p).collect()


def test_format_warc_matches_scan_warc(spark, tmp_path):
    """The engine-native ``format("warc")`` entry and ``scan_warc`` share
    one reader and return the same rows."""
    p = str(tmp_path / "t.warc.gz")
    warc.write_warc(p, _mk_records(40))
    warc.register(spark)
    native = spark.read.format("warc").option("split_bytes", "2048").load(p)
    scan = warc.scan_warc(spark, p, split_bytes=2048)
    assert scan.schema == native.schema
    assert scan.rdd.getNumPartitions() == native.rdd.getNumPartitions() > 1
    assert sorted(map(tuple, scan.collect())) == sorted(map(tuple, native.collect()))


def test_resolve_revisits_never_broadcasts_the_scan(spark, tmp_path):
    """The originals side of ``resolve_revisits`` is corpus-sized: it
    must shuffle, never be collected to the driver for a broadcast."""
    p = str(tmp_path / "t.warc.gz")
    warc.write_warc(p, _mk_records(40))
    resolved = warc.resolve_revisits(warc.scan_warc(spark, p))
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan
    assert resolved.count() == 40


def _record_of_exact_length(total: int) -> bytes:
    """A resource record rendered to exactly ``total`` bytes (the
    Content-Length header's digit count shifts with the pad, so
    converge iteratively)."""
    pad = max(0, total - 200)
    for _ in range(8):
        rec = warc.render_warc_record(
            "<urn:uuid:pad>", "resource", None,
            "2026-08-15T00:00:00Z", b"x" * pad,
            content_type="application/octet-stream",
        )
        if len(rec) == total:
            return rec
        pad += total - len(rec)
    raise AssertionError(f"could not hit {total} bytes")


@pytest.mark.parametrize("delta", [1, 2])
def test_split_boundary_straddle_no_duplicate(spark, tmp_path, delta):
    """A record starting ``delta`` bytes BEFORE a split boundary is
    owned by the earlier partition (which parses past its end to
    finish it) and must NOT be re-emitted by the later one. Pins the
    resync backup at exactly the 4-byte separator length — backing up
    further re-emitted records starting in [start-2, start) from both
    partitions (regression: the window existed when the backup was 6)."""
    split = 4096
    # size the first record so the SECOND starts at split-delta
    first = _record_of_exact_length(split - delta)
    rest = _mk_records(40)
    p = str(tmp_path / "straddle.warc")
    warc.write_warc(p, [first] + rest)
    rows = warc.scan_warc(spark, p, split_bytes=split).collect()
    ids = sorted(r["record_id"] for r in rows)
    assert len(ids) == len(set(ids)) == 41, (
        f"duplicated: {[i for i in set(ids) if ids.count(i) > 1]}"
    )


def test_split_boundary_record_at_exact_start_kept(spark, tmp_path):
    """A record starting EXACTLY at a split boundary belongs to the
    later partition — the 4-byte backup must still see its straddling
    separator (backing up less than 4 would drop it from both sides)."""
    split = 4096
    first = _record_of_exact_length(split)
    rest = _mk_records(40)
    p = str(tmp_path / "exact.warc")
    warc.write_warc(p, [first] + rest)
    rows = warc.scan_warc(spark, p, split_bytes=split).collect()
    ids = sorted(r["record_id"] for r in rows)
    assert len(ids) == len(set(ids)) == 41


def test_wholefile_gzip_degrades_to_one_partition(spark, tmp_path):
    """A non-standard whole-file-gzip WARC still parses (offset-0
    member holds everything); interior splits verify no member and
    yield nothing — correct single-stream degradation, no dup rows."""
    raw = b"".join(_mk_records(50))
    p = str(tmp_path / "whole.warc.gz")
    with open(p, "wb") as fh:
        fh.write(gzip.compress(raw))
    rows = warc.scan_warc(spark, p, split_bytes=1024).collect()
    assert len(rows) == 50


def test_non_response_records_pass_block_verbatim(spark, tmp_path):
    rec = warc.render_warc_record(
        "<urn:uuid:info-1>", "warcinfo", None,
        "2026-08-15T00:00:00Z", b"software: test\r\n",
        content_type="application/warc-fields",
    )
    p = str(tmp_path / "i.warc")
    warc.write_warc(p, [rec])
    r = warc.scan_warc(spark, p).collect()[0]
    assert r["warc_type"] == "warcinfo"
    assert r["http_status"] is None
    assert bytes(r["payload"]) == b"software: test\r\n"


def test_crawl_pipeline_end_to_end(spark, tmp_path):
    """The ingestion story in one plan: WARC scan → HTTP-200 HTML
    filter → visible-text extraction → canonical URL — each tier a
    codegen expression over the scanned columns."""
    p = str(tmp_path / "crawl.warc.gz")
    recs = _mk_records(6)
    recs.append(
        warc.render_warc_record(
            "<urn:uuid:miss-1>", "response",
            "https://site0.com/404", "2026-08-15T00:00:00Z",
            warc.http_response_block(b"gone", status=404),
        )
    )
    warc.write_warc(p, recs)
    out = (
        warc.scan_warc(spark, p)
        .filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .select(
            urls.normalize_url("target_uri").alias("url"),
            H.html_title(F.col("payload").cast("string")).alias("title"),
            H.strip_html(F.col("payload").cast("string")).alias("text"),
        )
        .orderBy("url")
        .collect()
    )
    assert len(out) == 6  # the 404 is gone
    assert out[0]["url"] == "https://site0.com/a/0?q=0"  # www/port/utm cut
    assert out[0]["title"] == "Page 0"
    assert out[0]["text"] == "Page 0\ntext of page 0 & more"


def test_html_links_extraction(spark):
    """href extraction: double/single-quoted attributes, attributes
    before href, fragment-only and empty hrefs excluded, document
    order kept."""
    doc = (
        '<a href="https://a.com/1">x</a>'
        "<a class='b' href='https://b.com/2?q=1'>y</a>"
        '<a href="#frag">skip</a>'
        '<a href="">skip</a>'
        '<A HREF="https://c.com/3">caps</A>'
    )
    df = spark.createDataFrame([(doc,)], ["html"])
    got = df.select(H.html_links("html").alias("l")).collect()[0]["l"]
    assert got == [
        "https://a.com/1", "https://b.com/2?q=1", "https://c.com/3"
    ]


def test_stream_warc_ingests_new_archives_and_resumes(spark, tmp_path):
    """Streaming WARC: archives landing across micro-batches are
    ingested once each (checkpoint-resumed restart re-reads nothing),
    and the canonical-URL dedup gate composes on top."""
    from polars_fastx_spark.streaming.warc_stream import stream_warc

    src = tmp_path / "archives"
    src.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def _run():
        q = (
            stream_warc(spark, str(src))
            .filter(F.col("warc_type") == "response")
            .select(
                "record_id",
                urls.normalize_url("target_uri").alias("url"),
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    warc.write_warc(str(src / "b0.warc.gz"), _mk_records(3))
    _run()
    warc.write_warc(str(src / "b1.warc"), _mk_records(5)[3:])
    _run()
    rows = spark.read.parquet(out).collect()
    ids = sorted(r["record_id"] for r in rows)
    assert ids == sorted(f"<urn:uuid:rec-{i:05d}>" for i in range(5))
    assert all(r["url"].startswith("https://site") for r in rows)
    # restart with no new files: nothing re-ingested
    _run()
    assert spark.read.parquet(out).count() == 5


def test_canonical_and_noindex_extraction(spark):
    """rel=canonical (either attribute order) and robots-noindex
    detection — the declared-canonical dedup preference and the
    polite-crawl filter."""
    rows = [
        (1, '<link rel="canonical" href="https://a.com/x">'),
        (2, "<link href='https://b.com/y' rel='canonical'>"),
        (3, '<link rel="stylesheet" href="https://c.com/z.css">'),
        (4, '<meta name="robots" content="noindex, nofollow">'),
        (5, "<meta content='NOINDEX' name='robots'>"),
        (6, '<meta name="robots" content="index, follow">'),
        (7, '<meta name="viewport" content="noindex-lookalike">'),
    ]
    df = spark.createDataFrame(rows, ["i", "html"])
    got = {
        r["i"]: (r["c"], r["n"])
        for r in df.select(
            "i",
            H.html_canonical("html").alias("c"),
            H.html_noindex("html").alias("n"),
        ).collect()
    }
    assert got[1][0] == "https://a.com/x"
    assert got[2][0] == "https://b.com/y"
    assert got[3][0] == ""  # stylesheet link is not canonical
    assert got[4][1] and got[5][1]
    assert not got[6][1]
    assert not got[7][1]  # noindex in a NON-robots meta doesn't count
    # the standard composition: declared canonical wins, else normalize
    comp = df.filter("i <= 3").select(
        "i",
        F.coalesce(
            F.nullif(H.html_canonical("html"), F.lit("")),
            F.lit("https://fallback.example/page"),
        ).alias("key"),
    ).collect()
    keys = {r["i"]: r["key"] for r in comp}
    assert keys[1] == "https://a.com/x"
    assert keys[3] == "https://fallback.example/page"


def test_write_warc_corpus_roundtrip(spark, tmp_path):
    """Distributed WARC sink: a filtered crawl re-exports as
    per-record-gzip parts that scan_warc reads back split-parallel —
    the scan → transform → write → scan roundtrip, core fields
    preserved."""
    from polars_fastx_spark.sources.warc import write_warc_corpus

    src_path = str(tmp_path / "in.warc.gz")
    warc.write_warc(src_path, _mk_records(40))
    scanned = warc.scan_warc(spark, src_path).filter(
        F.col("http_status") == 200
    )
    out_dir = str(tmp_path / "out_warc")
    write_warc_corpus(scanned.repartition(4), out_dir)
    import os

    parts = [p for p in os.listdir(out_dir) if p.endswith(".warc.gz")]
    assert 1 <= len(parts) <= 4 and os.path.exists(f"{out_dir}/_SUCCESS")
    back = warc.scan_warc(spark, f"{out_dir}/*.warc.gz")
    a = sorted(
        (r["record_id"], r["target_uri"], r["http_status"],
         bytes(r["payload"]))
        for r in scanned.collect()
    )
    b = sorted(
        (r["record_id"], r["target_uri"], r["http_status"],
         bytes(r["payload"]))
        for r in back.collect()
    )
    assert a == b and len(a) == 40
    # and the re-export is itself member-splittable
    split = warc.scan_warc(spark, f"{out_dir}/*.warc.gz", split_bytes=2048)
    assert split.count() == 40


def test_html_anchors_pairs_href_with_clean_text(spark):
    doc = (
        '<html><body>'
        '<a href="https://a.com/x?q=1">read &amp; <b>more</b></a>'
        " <a class=z href='https://b.org/y'>get <i>file</i>&nbsp;now</a>"
        '<a href="#frag">skip</a>'
        '<a href="https://c.net/z"> spaced   <span>text</span> </a>'
        '</body></html>'
    )
    df = spark.createDataFrame([(doc,)], ["html"])
    rows = df.select(
        F.explode(H.html_anchors("html")).alias("a")
    ).select("a.href", "a.text").collect()
    got = [(r["href"], r["text"]) for r in rows]
    assert got == [
        ("https://a.com/x?q=1", "read & more"),
        ("https://b.org/y", "get file now"),
        ("https://c.net/z", "spaced text"),
    ]


def test_html_anchors_empty_and_no_links(spark):
    df = spark.createDataFrame(
        [("<p>no links</p>",), ("",)], ["html"]
    )
    n = df.select(F.size(H.html_anchors("html")).alias("n")).collect()
    assert [r["n"] for r in n] == [0, 0]


def test_streaming_crawl_pipeline_dedups_canonical_urls(spark, tmp_path):
    """The LIVE crawl pipeline end-to-end: stream_warc → HTTP-200 HTML
    filter → visible text + canonical URL → stateful dedup on the
    canonical form — a re-crawl of the same page under a different
    syntactic URL (www/port/utm variants) is dropped ACROSS
    micro-batches via the checkpointed state store."""
    from polars_fastx_spark.streaming.pipelines import stream_dedup
    from polars_fastx_spark.streaming.warc_stream import stream_warc

    def _rec(i: int, uri: str) -> bytes:
        body = f"<html><title>P{i}</title><p>body {i}</p></html>".encode()
        return warc.render_warc_record(
            f"<urn:uuid:c-{i}>", "response", uri,
            "2026-08-15T00:00:00Z", warc.http_response_block(body),
        )

    src = tmp_path / "live"
    src.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def _run():
        stream = (
            stream_warc(spark, str(src))
            .filter(
                (F.col("http_status") == 200)
                & F.col("http_content_type").startswith("text/html")
            )
            .select(
                "record_id",
                urls.normalize_url("target_uri").alias("url"),
                H.strip_html(F.col("payload").cast("string")).alias("text"),
                F.to_timestamp("warc_date").alias("ts"),
            )
        )
        q = (
            stream_dedup(stream, keys=["url"], watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    warc.write_warc(
        str(src / "b0.warc.gz"),
        [_rec(0, "https://a.com/page"), _rec(1, "https://b.com/page")],
    )
    _run()
    # batch 2: one NEW page + the SAME two pages re-crawled under
    # syntactic variants — the canonical-url state must drop both
    warc.write_warc(
        str(src / "b1.warc.gz"),
        [
            _rec(2, "HTTPS://WWW.A.com:443/page?utm_source=x"),
            _rec(3, "https://b.com:443/page/"),
            _rec(4, "https://c.org/fresh"),
        ],
    )
    _run()
    rows = spark.read.parquet(out).collect()
    assert sorted(r["url"] for r in rows) == [
        "https://a.com/page", "https://b.com/page", "https://c.org/fresh"
    ]
    assert all(r["text"].startswith("P") for r in rows)


def test_revisit_records_scan_and_resolve(spark, tmp_path):
    """Crawler revisit records (ISO 28500 dedup-at-capture): digest
    and refers-to headers scan into columns; resolve_revisits inherits
    payload/http fields from the referenced capture (refers_to lane)
    or any same-digest capture (fallback lane); drop=True removes
    revisits outright; unresolvable revisits keep their bodiless
    payload instead of being silently dropped."""
    body = b"<html><p>stable content</p></html>"
    recs = [
        warc.render_warc_record(
            "<urn:uuid:orig-1>", "response", "https://a.com/p",
            "2026-08-01T00:00:00Z", warc.http_response_block(body),
            payload_digest="sha1:AAA",
        ),
        warc.render_warc_record(
            "<urn:uuid:rv-ref>", "revisit", "https://a.com/p",
            "2026-08-10T00:00:00Z", b"",
            content_type="application/http; msgtype=response",
            payload_digest="sha1:AAA", refers_to="<urn:uuid:orig-1>",
        ),
        warc.render_warc_record(
            "<urn:uuid:rv-digest>", "revisit", "https://MIRROR.a.com/p",
            "2026-08-12T00:00:00Z", b"",
            content_type="application/http; msgtype=response",
            payload_digest="sha1:AAA",
        ),
        warc.render_warc_record(
            "<urn:uuid:rv-lost>", "revisit", "https://a.com/q",
            "2026-08-13T00:00:00Z", b"",
            content_type="application/http; msgtype=response",
        ),
    ]
    p = str(tmp_path / "rv.warc")
    warc.write_warc(p, recs)
    df = warc.scan_warc(spark, p)
    rows = {r["record_id"]: r for r in df.collect()}
    assert rows["<urn:uuid:orig-1>"]["payload_digest"] == "sha1:AAA"
    assert rows["<urn:uuid:rv-ref>"]["refers_to"] == "<urn:uuid:orig-1>"

    full = {
        r["record_id"]: r for r in warc.resolve_revisits(df).collect()
    }
    assert len(full) == 4
    for rid in ("<urn:uuid:rv-ref>", "<urn:uuid:rv-digest>"):
        assert bytes(full[rid]["payload"]) == body, rid
        assert full[rid]["http_status"] == 200
    assert full["<urn:uuid:rv-digest>"]["target_uri"].startswith(
        "https://MIRROR"
    )  # revisit keeps its own capture identity
    assert bytes(full["<urn:uuid:rv-lost>"]["payload"]) == b""
    dedup_ids = {
        r["record_id"]
        for r in warc.resolve_revisits(df, drop=True).collect()
    }
    assert dedup_ids == {"<urn:uuid:orig-1>"}


def test_crawl_to_corpus_front_door(spark, tmp_path):
    """pipeline.crawl_to_corpus: WARC directory in, partitioned
    training corpus out — revisits dropped, noindex pages gated,
    canonical-URL dedup keeps the earliest capture, near-identical
    pages collapse to one survivor, splits partition the write."""
    from polars_fastx_spark.pipeline import crawl_to_corpus

    base_text = (
        "This is a long and perfectly ordinary paragraph of page text "
        "that easily clears the minimum length gate for the corpus. "
    ) * 3

    def _page(i, uri, text, date="2026-08-01T00:00:00Z", noindex=False,
              revisit=False, canonical=None):
        meta = '<meta name="robots" content="noindex">' if noindex else ""
        link = (
            f'<link rel="canonical" href="{canonical}">' if canonical else ""
        )
        body = (
            f"<html><head><title>T{i}</title>{meta}{link}</head>"
            f"<body><p>{text}</p></body></html>"
        ).encode()
        if revisit:
            return warc.render_warc_record(
                f"<urn:uuid:p-{i}>", "revisit", uri, date, b"",
                content_type="application/http; msgtype=response",
                payload_digest="sha1:X",
            )
        return warc.render_warc_record(
            f"<urn:uuid:p-{i}>", "response", uri, date,
            warc.http_response_block(body),
        )

    recs = [
        _page(0, "https://a.com/x", base_text + "alpha"),
        # same canonical URL, later capture: url-dedup keeps capture 0
        _page(1, "HTTPS://WWW.A.com:443/x?utm_source=z",
              base_text + "beta", date="2026-08-05T00:00:00Z"),
        # near-identical content on another site: LSH collapses
        _page(2, "https://b.org/y", base_text + "alpha"),
        _page(3, "https://c.net/z", "totally different words " * 20),
        _page(4, "https://d.io/w", base_text + "gamma", noindex=True),
        _page(5, "https://a.com/again", base_text, revisit=True),
        _page(6, "https://tiny.me/s", "too short"),
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    warc.write_warc(str(src / "a.warc.gz"), recs)
    out = str(tmp_path / "corpus")
    got = crawl_to_corpus(spark, str(src) + "/*.warc.gz", out)
    rows = {r["url"]: r for r in got.collect()}
    # noindex (4), revisit (5), short (6), utm-variant (1) and one of
    # the near-identical pair (0/2) are gone
    urls_kept = set(rows)
    assert "https://c.net/z" in urls_kept
    assert len(urls_kept & {"https://a.com/x", "https://b.org/y"}) == 1
    assert not any("d.io" in u or "tiny.me" in u for u in urls_kept)
    assert len(urls_kept) == 2
    surviving = (urls_kept & {"https://a.com/x", "https://b.org/y"}).pop()
    if surviving == "https://a.com/x":
        assert rows[surviving]["title"] == "T0"  # earliest capture won
    assert set(got.select("split").distinct().toPandas()["split"]) <= {
        "train", "valid", "test"
    }
    import os as _os

    assert any(
        n.startswith("split=") for n in _os.listdir(out)
    )  # partitioned write


def test_crawl_to_corpus_containment_tier_and_timings(spark, tmp_path):
    """Round-7: the optional containment stage sits AFTER the LSH tier
    (the measured composition rule) and catches the excerpt case LSH
    structurally misses; timings= fills per-tier phase accounting."""
    from polars_fastx_spark.pipeline import crawl_to_corpus

    host_words = " ".join(f"w{i:04d}" for i in range(400))
    # the excerpt is a strict slice of the host: containment ≈ 1,
    # Jaccard ≈ 0.2 — below any LSH band threshold
    excerpt = " ".join(f"w{i:04d}" for i in range(80))
    other = "completely different vocabulary " * 30

    def _page(i, uri, text):
        body = (
            f"<html><head><title>T{i}</title></head>"
            f"<body><p>{text}</p></body></html>"
        ).encode()
        return warc.render_warc_record(
            f"<urn:uuid:c-{i}>", "response", uri,
            "2026-08-01T00:00:00Z", warc.http_response_block(body),
        )

    src = tmp_path / "crawl"
    src.mkdir()
    warc.write_warc(
        str(src / "a.warc.gz"),
        [
            _page(0, "https://host.com/full", host_words),
            _page(1, "https://quote.org/excerpt", excerpt),
            _page(2, "https://c.net/other", other),
        ],
    )
    pat = str(src) + "/*.warc.gz"
    # without the containment stage the excerpt SURVIVES (LSH misses)
    base = crawl_to_corpus(spark, pat, str(tmp_path / "o1"))
    assert base.count() == 3
    timings: dict = {}
    got = crawl_to_corpus(
        spark, pat, str(tmp_path / "o2"),
        containment_threshold=0.5, containment_max_df=None,
        timings=timings,
    )
    kept = {r["url"] for r in got.collect()}
    assert kept == {"https://host.com/full", "https://c.net/other"}
    # phase accounting covers every tier incl. the containment one
    assert set(timings) == {
        "scan", "gates", "quarantine", "extract", "url_dedup", "domain_cap",
        "lsh_neardup", "containment", "splits", "write",
    }
    assert timings["containment"]["rows"] == 2
    assert all(
        v["seconds"] >= 0 for v in timings.values()
    )


def test_crawl_to_corpus_posthoc_robots_gate(spark, tmp_path):
    """robots= drops pages the CURRENT robots.txt disallows — the
    retroactive compliance pass over an already-fetched archive."""
    from polars_fastx_spark.pipeline import crawl_to_corpus

    def _rec(i, uri):
        # per-page DISTINCT text: shared filler would make the pages
        # near-duplicates and the LSH tier would (rightly) collapse
        # them — this test is about the robots tier only
        text = " ".join(f"page{i}tok{j} words" for j in range(30))
        body = f"<html><body><p>{text}</p></body></html>".encode()
        return warc.render_warc_record(
            f"<urn:uuid:r-{i}>", "response", uri,
            "2026-08-01T00:00:00Z", warc.http_response_block(body),
        )

    src = tmp_path / "crawl"
    src.mkdir()
    warc.write_warc(str(src / "a.warc.gz"), [
        _rec(0, "https://a.com/public/x"),
        _rec(1, "https://a.com/private/y"),
        _rec(2, "https://open.net/z"),
    ])
    robots_df = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "domain string, robots_txt string",
    )
    timings: dict = {}
    got = crawl_to_corpus(
        spark, str(src) + "/*.warc.gz", str(tmp_path / "out"),
        domain_cap_n=10, robots=robots_df, timings=timings,
    )
    urls = {r["url"] for r in got.collect()}
    assert urls == {"https://a.com/public/x", "https://open.net/z"}
    assert timings["robots_gate"]["rows"] == 2
