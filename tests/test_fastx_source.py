"""FASTX source tests — golden-file parser coverage (SURVEY.md §5.2)."""

from __future__ import annotations

import json

import pytest

from tests.conftest import FIXTURES

from polars_fastx_spark.sources import parser
from polars_fastx_spark.sources.fastx import (
    FastxDataSource,
    FastxReader,
    parse_fasta_relational,
    read_fastx,
    register,
    scan_fastx,
)


@pytest.fixture(scope="module")
def golden():
    rows = json.loads((FIXTURES / "golden_stats.json").read_text())
    return [(g["header"], g["sequence"]) for g in rows]


def _fasta_rows(df):
    return [(r["header"], r["sequence"]) for r in df.collect()]


@pytest.mark.parametrize(
    "name", ["basic.fasta", "multiline.fasta", "basic.fasta.gz", "crlf.fasta"]
)
def test_fasta_variants(spark, golden, name):
    df = scan_fastx(spark, str(FIXTURES / name))
    assert df.columns == ["header", "sequence"]  # FASTA → 2 columns
    assert sorted(_fasta_rows(df)) == sorted(golden)


def test_fastq(spark, golden):
    df = scan_fastx(spark, str(FIXTURES / "basic.fastq"))
    assert df.columns == ["header", "sequence", "quality"]  # FASTQ → 3 columns
    rows = df.collect()
    expected = {h: s for h, s in golden if s}  # fastq fixture skips empty seqs
    assert len(rows) == len(expected)
    for r in rows:
        assert expected[r["header"]] == r["sequence"]
        assert len(r["quality"]) == len(r["sequence"])
        # fixture qualities embed '@' and '+' — framing must survive them
        if len(r["sequence"]) >= 2:
            assert r["quality"][0] == "@" and r["quality"][1] == "+"


def test_empty_sequences(spark):
    df = scan_fastx(spark, str(FIXTURES / "empty_seq.fasta"))
    rows = dict(_fasta_rows(df))
    assert rows == {"only_header desc=empty": "", "second desc=empty": "", "third desc=x": "ACGT"}


def test_byte_range_split_parity(spark, golden):
    """Tiny split_bytes forces many byte-range partitions; row set identical."""
    path = str(FIXTURES / "multiline.fasta")
    whole = scan_fastx(spark, path)
    split = scan_fastx(spark, path, split_bytes=256)
    n_parts = split.rdd.getNumPartitions()
    assert n_parts > 1, "expected multiple byte-range partitions"
    assert sorted(_fasta_rows(split)) == sorted(_fasta_rows(whole)) == sorted(golden)


def test_range_parser_no_dup_no_loss():
    """Every record parsed exactly once for any split size (unit level)."""
    path = str(FIXTURES / "multiline.fasta")
    import os

    size = os.path.getsize(path)
    whole = list(parser.parse_file(path, is_fastq=False))
    for step in (37, 128, 999, size):
        got = []
        for start in range(0, size, step):
            got.extend(
                parser.parse_fasta_range(path, start, min(start + step, size))
            )
        assert sorted(got) == sorted(whole), f"step={step}"


def test_filter_pushdown_applied(spark):
    """``format("fastx")`` is the entry that pushes filters into the
    reader; ``scan_fastx`` leaves them to Spark and returns the same rows."""
    path = str(FIXTURES / "basic.fasta")
    register(spark)
    df = spark.read.format("fastx").load(path)
    out = df.filter(df.header.startswith("seq_1"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, f"filter should be pushed into scan: {plan}"
    headers = [r["header"] for r in out.collect()]
    assert headers and all(h.startswith("seq_1") for h in headers)
    scan = scan_fastx(spark, path)
    assert sorted(_fasta_rows(scan.filter(scan.header.startswith("seq_1")))) == (
        sorted(_fasta_rows(out))
    )


def test_scan_is_map_in_arrow_over_split_rows(spark):
    """The scan is planned in the driver: one ``mapInArrow`` over an
    RDD-backed relation with one split row per partition, and no Python
    data-source scan."""
    from polars_fastx_spark.pipeline import fasta_stats_frame

    path = str(FIXTURES / "multiline.fasta")
    df = scan_fastx(spark, path, split_bytes=256)
    n = len(FastxReader([path], False, 256).partitions())
    assert n > 1
    for frame in (df, fasta_stats_frame(df, 2)):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        lines = [ln.strip(" +-:") for ln in plan.splitlines()]
        assert lines[-2].startswith("MapInArrow"), plan
        assert lines[-1].startswith("LogicalRDD [split#"), plan
        assert "BatchScan" not in plan and "PythonDataSource" not in plan, plan
    assert df.rdd.getNumPartitions() == n


def test_scan_is_never_planned_as_a_broadcast(spark):
    """The scan reports no size, like a data-source scan, so a join of
    two scans shuffles both sides instead of collecting one to the
    driver, as it would over a small-estimate leaf such as ``Range``."""
    from pyspark.sql import functions as F

    path = str(FIXTURES / "multiline.fasta")
    df = scan_fastx(spark, path, split_bytes=256)
    stats = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    default = spark.conf.get("spark.sql.defaultSizeInBytes").rstrip("b")
    assert str(stats) == default
    lengths = scan_fastx(spark, path).select(
        "header", F.length("sequence").alias("n")
    )
    joined = df.join(lengths, "header")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan
    assert joined.count() == df.count()


def test_scan_reads_all_rows_with_unlimited_arrow_batches(spark, golden):
    """``maxRecordsPerBatch <= 0`` means no limit, not zero-row batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        df = scan_fastx(spark, str(FIXTURES / "multiline.fasta"))
    finally:
        spark.conf.set(key, old)
    assert sorted(_fasta_rows(df)) == sorted(golden)


_DAEMON_PROBE = """
import subprocess, sys
from pyspark import SparkContext
from polars_fastx_spark.pipeline import fasta_stats
from polars_fastx_spark.session import builder

spark = builder("daemon-probe", master="local[2]",
                extra_conf={"spark.ui.enabled": "false"}).getOrCreate()
fasta_stats(spark, sys.argv[1], sys.argv[2])
jvm = SparkContext._gateway.proc.pid
ps = subprocess.run(["ps", "--ppid", str(jvm), "-o", "args="],
                    capture_output=True, text=True, check=True)
print("CHILDREN", repr(ps.stdout))
spark.stop()
"""


def test_fasta_stats_starts_only_the_worker_daemon(tmp_path):
    """One ``fasta_stats`` in a fresh session leaves one Python daemon
    under the JVM, the package's daemon serving the executors'
    ``pyspark.worker``: the scan is planned in the driver, so no
    data-source planner daemon (``pyspark.sql.worker.*``) starts."""
    import ast
    import subprocess
    import sys

    from tests.conftest import REPO

    proc = subprocess.run(
        [sys.executable, "-c", _DAEMON_PROBE,
         str(FIXTURES / "basic.fasta"), str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("CHILDREN"))
    children = ast.literal_eval(line.split(" ", 1)[1]).splitlines()
    daemons = [c.split(" -m ", 1)[1].split() for c in children if " -m " in c]
    assert daemons == [["polars_fastx_spark._daemon", "pyspark.worker"]], children
    assert not any("pyspark.sql.worker" in c for c in children), children


@pytest.mark.parametrize("split", [0, -5])
def test_non_positive_split_bytes_raises(spark, split):
    """A split target <= 0 used to plan zero splits (an empty scan) or
    fall back to the default; every entry now rejects it."""
    path = str(FIXTURES / "basic.fasta")
    with pytest.raises(ValueError, match="split_bytes must be > 0"):
        FastxReader([path], False, split).partitions()
    with pytest.raises(ValueError, match="split_bytes must be > 0"):
        scan_fastx(spark, path, split_bytes=split)
    register(spark)
    reader = spark.read.format("fastx").option("split_bytes", str(split))
    with pytest.raises(Exception, match="split_bytes must be > 0"):
        reader.load(path).collect()


def test_directory_and_glob(spark, tmp_path, golden):
    import shutil

    d = tmp_path / "fastxdir"
    d.mkdir()
    shutil.copy(FIXTURES / "basic.fasta", d / "a.fasta")
    shutil.copy(FIXTURES / "multiline.fasta", d / "b.fasta")
    df = scan_fastx(spark, str(d))
    assert df.count() == 2 * len(golden)
    df2 = scan_fastx(spark, str(d / "*.fasta"))
    assert df2.count() == 2 * len(golden)


def test_eager_read(spark, golden):
    df = read_fastx(spark, str(FIXTURES / "basic.fasta"))
    assert df.is_cached
    assert df.count() == len(golden)
    df.unpersist()


class _Registry:
    def __init__(self, calls):
        self.calls = calls

    def register(self, source):
        self.calls.append(source)


class _FakeSession:
    def __init__(self, calls):
        self.dataSource = _Registry(calls)


def test_register_once_per_session_even_when_id_is_reused():
    """A session created after another one was collected may get its
    ``id()``; it must still be registered, and only once."""
    calls, ids = [], set()
    for _ in range(50):
        s = _FakeSession(calls)
        register(s)
        register(s)
        ids.add(id(s))
        del s
    assert len(ids) < 50  # ids were reused, so the case was exercised
    assert calls == [FastxDataSource] * 50


def test_relational_parser_matches_source(spark, golden):
    rel = parse_fasta_relational(spark, str(FIXTURES / "multiline.fasta"))
    assert sorted(_fasta_rows(rel)) == sorted(golden)


def test_sniff_errors(tmp_path):
    bad = tmp_path / "bad.txt"
    bad.write_text("not a fastx file\n")
    with pytest.raises(ValueError, match="not FASTA/FASTQ"):
        parser.sniff_is_fastq(str(bad))
    empty = tmp_path / "empty.fa"
    empty.write_text("")
    with pytest.raises(ValueError, match="empty file"):
        parser.sniff_is_fastq(str(empty))


def test_fastq_range_parser_exhaustive_boundaries():
    """Splittable FASTQ (SURVEY.md §7.1): for EVERY possible split point
    S, ranges [0,S) + [S,size) together parse each record exactly once —
    including quality lines that start with '@' and '+'."""
    import tempfile, os
    from polars_fastx_spark.sources import parser

    records = []
    for i in range(8):
        seq = "ACGT" * (i + 1)
        # qualities deliberately lead with the resync-hazard characters
        qual = ("@" if i % 2 == 0 else "+") + "I" * (len(seq) - 1)
        records.append((f"r{i} d", seq, qual))
    with tempfile.NamedTemporaryFile("w", suffix=".fastq", delete=False) as f:
        for h, s, q in records:
            f.write(f"@{h}\n{s}\n+\n{q}\n")
        path = f.name
    try:
        assert parser.probe_four_line_fastq(path)
        size = os.path.getsize(path)
        whole = list(parser.parse_file(path, True))
        assert whole == records
        for split in range(1, size):
            a = list(parser.parse_fastq_range(path, 0, split))
            b = list(parser.parse_fastq_range(path, split, size))
            assert a + b == records, f"split at byte {split}"
    finally:
        os.unlink(path)


def test_fastq_split_scan_parity(spark, tmp_path):
    """End-to-end: a split FASTQ scan returns the same rows as unsplit."""
    from polars_fastx_spark.sources.fastx import scan_fastx

    path = tmp_path / "big.fastq"
    with open(path, "w") as f:
        for i in range(500):
            seq = "ACGTN" * 8
            f.write(f"@q{i}\n{seq}\n+\n{'@' + 'J' * 39}\n")
    df = scan_fastx(spark, str(path), split_bytes=2048)
    assert df.rdd.getNumPartitions() > 1
    rows = {r["header"] for r in df.collect()}
    assert len(rows) == 500 and df.count() == 500


def test_multiline_fastq_not_split(spark, tmp_path):
    """Multi-line FASTQ fails the 4-line probe → whole-file partition."""
    from polars_fastx_spark.sources import parser
    from polars_fastx_spark.sources.fastx import scan_fastx

    path = tmp_path / "ml.fastq"
    with open(path, "w") as f:
        for i in range(200):
            f.write(f"@m{i}\nACGT\nACGT\n+\nIIII\nIIII\n")
    assert not parser.probe_four_line_fastq(str(path))
    df = scan_fastx(spark, str(path), split_bytes=1024)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 200


def test_corrupt_fastq_raises_cleanly():
    """Mid-file framing corruption surfaces as a ValueError naming the
    file, not silent data loss."""
    import tempfile, os
    import pytest
    from polars_fastx_spark.sources import parser

    with tempfile.NamedTemporaryFile("w", suffix=".fastq", delete=False) as f:
        f.write("@ok\nACGT\n+\nIIII\nnot-a-header\nACGT\n+\nIIII\n")
        path = f.name
    try:
        with pytest.raises(ValueError, match="framing"):
            list(parser.parse_file(path, True))
    finally:
        os.unlink(path)


def test_write_fastx_roundtrip_fasta(spark, tmp_path):
    """scan -> write_fastx -> scan yields identical records (wrapped
    and unwrapped), completing the read/write format pair."""
    from polars_fastx_spark.sources.fastx import scan_fastx
    from polars_fastx_spark.sources.sinks import write_fastx

    src = tmp_path / "src.fasta"
    src.write_text(">a desc\n" + "ACGT" * 50 + "\n>b\n\n>c\nNNNN\n")
    df = scan_fastx(spark, str(src))
    want = sorted(map(tuple, df.collect()))

    for wrap in (None, 70):
        out = tmp_path / f"out_{wrap}"
        write_fastx(df, str(out), wrap=wrap)
        back = scan_fastx(spark, str(out) + "/part-*.txt")
        assert sorted(map(tuple, back.collect())) == want


def test_write_fastx_wrap_matches_substring_per_line(spark, tmp_path):
    """The one-pass line wrap writes the same bytes as the former
    substring-per-line expression, kept here as the reference, on the
    edge records: empty, null, exactly ``wrap``, ``wrap + 1``, one
    record over 100 kb, and a non-BMP character straddling a line end."""
    from pyspark.sql import functions as F

    from polars_fastx_spark.sources.sinks import write_fastx

    wrap = 60
    seqs = ["", None, "A" * wrap, "C" * (wrap + 1),
            "ACGTN" * 20_001, "G" * (wrap - 1) + "😀T" + "😀" * wrap]
    df = spark.createDataFrame(
        [(f"r{i}", s) for i, s in enumerate(seqs)],
        "header string, sequence string",
    ).coalesce(1)

    seq = F.coalesce(F.col("sequence"), F.lit(""))
    legacy = F.array_join(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest((F.length(seq) - 1) / wrap, F.lit(0)).cast("int"),
            ),
            lambda i: F.substring(seq, i * wrap + 1, wrap),
        ),
        "\n",
    )
    want = "".join(
        r["v"] + "\n"
        for r in df.select(
            F.concat_ws("\n", F.concat(F.lit(">"), "header"), legacy).alias("v")
        ).collect()
    )

    out = tmp_path / "wrapped"
    write_fastx(df, str(out), wrap=wrap)
    (part,) = out.glob("part-*.txt")
    assert part.read_bytes() == want.encode("utf-8")
    # sanity on the reference itself: 60 code points per full line
    lines = want.split("\n")
    assert lines[lines.index(">r5") + 1] == "G" * (wrap - 1) + "😀"
    # a negative width used to drop every sequence silently
    with pytest.raises(ValueError, match="wrap must be >= 0"):
        write_fastx(df, str(tmp_path / "bad"), wrap=-1)


def test_write_fastx_roundtrip_fastq_gzip(spark, tmp_path):
    from polars_fastx_spark.sources.fastx import scan_fastx
    from polars_fastx_spark.sources.sinks import write_fastx

    src = tmp_path / "src.fastq"
    src.write_text("@q1\nACGT\n+\n@+!I\n@q2\nGGGG\n+\n++++\n")
    df = scan_fastx(spark, str(src))
    out = tmp_path / "out"
    write_fastx(df, str(out), compression="gzip")
    parts = list(out.glob("part-*.txt.gz"))
    assert parts
    back = scan_fastx(spark, str(out) + "/part-*.txt.gz", format="fastq")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_mixed_directory_fails_fast(spark, tmp_path):
    """A directory mixing FASTA and FASTQ must raise a clear
    mixed-directory error, not a mid-parse framing failure."""
    (tmp_path / "a.fasta").write_text(">r1\nACGT\n")
    (tmp_path / "b.fastq").write_text("@r2\nACGT\n+\nIIII\n")
    from polars_fastx_spark.sources.fastx import scan_fastx

    with pytest.raises(Exception, match="mixed FASTA/FASTQ"):
        scan_fastx(spark, str(tmp_path)).collect()


def test_write_fastx_null_quality_keeps_framing(spark, tmp_path):
    """Null quality must pad to phred-0 of sequence length (FASTQ is
    parsed BY LENGTH, so '' would desync the stream); a non-null
    quality of the wrong length must fail the write up front."""
    from polars_fastx_spark.sources.fastx import scan_fastx
    from polars_fastx_spark.sources.sinks import write_fastx

    df = spark.createDataFrame(
        [("q1", "ACGT", None), ("q2", None, None)],
        "header string, sequence string, quality string",
    )
    out = tmp_path / "out"
    write_fastx(df, str(out), mode="overwrite")
    text = "".join(p.read_text() for p in sorted(out.glob("part-*.txt")))
    assert len(text.splitlines()) == 8  # two records, 4 lines each
    back = scan_fastx(spark, str(out) + "/part-*.txt", format="fastq")
    rows = {r["header"]: r for r in back.collect()}
    assert rows["q1"]["sequence"] == "ACGT" and rows["q1"]["quality"] == "!!!!"
    assert rows["q2"]["sequence"] == "" and rows["q2"]["quality"] == ""

    bad = spark.createDataFrame(
        [("qx", "ACGT", "II")], "header string, sequence string, quality string"
    )
    with pytest.raises(Exception, match="quality length"):
        write_fastx(bad, str(tmp_path / "bad"), mode="overwrite")


def test_fastq_split_parity_with_blank_lines(spark, tmp_path):
    """Interior blank separators (file concatenation) and a double
    trailing newline must not change a SPLIT scan's result: the range
    parser skips blank lines exactly like the whole-file parser, so
    splitting never drops or crashes on them."""
    from polars_fastx_spark.sources.fastx import scan_fastx

    path = tmp_path / "blanks.fastq"
    with open(path, "w") as f:
        for i in range(400):
            seq = "ACGTN" * 8
            f.write(f"@b{i}\n{seq}\n+\n{'@' + 'J' * 39}\n")
            # blank separators AFTER the probed head (first 8 records
            # clean → the file still splits) — the dangerous case
            if i >= 50 and i % 7 == 3:
                f.write("\n")
        f.write("\n")  # double trailing newline
    split = scan_fastx(spark, str(path), split_bytes=2048)
    assert split.rdd.getNumPartitions() > 1
    whole = scan_fastx(spark, str(path))
    got = {r["header"] for r in split.collect()}
    want = {r["header"] for r in whole.collect()}
    assert got == want and len(got) == 400
