"""Sinks (SURVEY.md §2.1 S3/S7).

The reference's only sink is a TSV write (or stdout)
(reference: src/polars_fastx/fastx_parsers.py:154,222) preceded by
casting nested columns to strings (fastx_parsers.py:214-220). Spark's
CSV sink has the same nested-type restriction, so nested columns are
rendered as canonical JSON first (documented deviation from Polars'
``str(dict)`` formatting — SURVEY.md §7 hard part #3).
"""

from __future__ import annotations

import sys
from typing import IO

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from polars_fastx_spark import epochs
from polars_fastx_spark.epochs import committed_epochs, hadoop_fs  # noqa: F401


def stringify_nested(df: DataFrame) -> DataFrame:
    """Cast array/map/struct columns to canonical JSON strings.

    Mirror of the reference's pre-CSV nested→Utf8 cast pass
    (reference: src/polars_fastx/fastx_parsers.py:214-220).

    One ``withColumns`` call: a ``withColumn`` per field re-analyzes the
    whole plan each time. Columns keep their positions.
    """
    nested = {
        field.name: F.to_json(F.col(field.name))
        for field in df.schema.fields
        if isinstance(field.dataType, (ArrayType, MapType, StructType))
    }
    return df.withColumns(nested) if nested else df


def write_tsv(df: DataFrame, path: str | None = None, sep: str = "\t") -> None:
    """Write a DataFrame as TSV to ``path``, or to stdout when None.

    Path writes are fully distributed (``df.write.csv``). The stdout
    path exists only for CLI parity with the reference's default
    (fastx_parsers.py:154) and intentionally materializes on the driver
    — never use it at scale.
    """
    flat = stringify_nested(df)
    if path is None:
        _stream_tsv(flat, sys.stdout, sep)
        return
    (
        flat.write.mode("overwrite")
        .option("sep", sep)
        .option("header", True)
        # RFC4180 quote-doubling instead of Spark's backslash default, so
        # standard CSV readers parse embedded quotes (JSON-rendered maps).
        .option("escape", '"')
        .csv(path)
    )


def _stream_tsv(df: DataFrame, out: IO[str], sep: str) -> None:
    cols = df.columns
    out.write(sep.join(cols) + "\n")
    for row in df.toLocalIterator():
        out.write(
            sep.join("" if v is None else str(v) for v in row) + "\n"
        )


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Parquet sink (S7) — the engine's native output format."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_fastx(
    df: DataFrame,
    path: str,
    wrap: int | None = None,
    compression: str | None = None,
    mode: str = "overwrite",
) -> None:
    """FASTX sink: render (header, sequence[, quality]) rows back to
    FASTA/FASTQ text — the inverse of ``scan_fastx``, which the
    reference has no analog of (its IO is read-only).

    FASTQ when a ``quality`` column exists (4-line framing), else FASTA
    with optional ``wrap``-column sequence wrapping. Fully distributed
    (one text file per partition, records never split across files);
    ``compression='gzip'`` writes .gz parts. ``compression='bgzf'``
    writes bgzip-framed parts (sources/bgzf.py) — still ordinary gzip
    to any reader, but byte-range SPLITTABLE when scanned back, so a
    written corpus re-parses with full parallelism (raw gzip parts
    scan one-task-per-file). The bgzf path writes through the local
    filesystem of each executor — correct for local/NFS/fuse-mounted
    storage (this repo's posture); route through a Hadoop codec for
    HDFS/S3 deployments.
    """
    if wrap is not None and wrap < 0:
        raise ValueError(f"wrap must be >= 0, got {wrap}")
    # concat_ws SKIPS nulls — a null sequence/quality would emit a
    # 3-line FASTQ record and corrupt the file for every downstream
    # reader (FASTQ is parsed BY LENGTH: quality must have exactly
    # len(sequence) chars). Nulls coalesce to '' / phred-0 padding;
    # a non-null quality of the WRONG length is unwritable data and
    # fails the job up front instead of corrupting the sink.
    is_fastq = "quality" in df.columns
    df = df.withColumn("header", F.coalesce(F.col("header"), F.lit("")))
    df = df.withColumn("sequence", F.coalesce(F.col("sequence"), F.lit("")))
    if is_fastq:
        df = df.withColumn(
            "quality",
            F.coalesce(F.col("quality"), F.repeat(F.lit("!"), F.length("sequence"))),
        ).withColumn(
            "quality",
            F.when(
                F.length("quality") == F.length("sequence"), F.col("quality")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("write_fastx: quality length != sequence length "
                              "for header "),
                        F.col("header"),
                    )
                )
            ),
        )
        rec = F.concat_ws(
            "\n",
            F.concat(F.lit("@"), F.col("header")),
            F.col("sequence"),
            F.lit("+"),
            F.col("quality"),
        )
    else:
        seq = F.col("sequence")
        if wrap:
            # one regex pass, O(len) per record: one substring per line
            # walks the UTF-8 bytes from the start each time, O(len²/wrap)
            seq = F.array_join(
                F.regexp_extract_all(seq, F.lit(f"(?s)(.{{1,{int(wrap)}}})"), 1),
                "\n",
            )
        rec = F.concat_ws(
            "\n", F.concat(F.lit(">"), F.col("header")), seq
        )
    rendered = df.select(rec.alias("value"))
    if compression == "bgzf":
        ext = ".fastq.gz" if is_fastq else ".fasta.gz"
        _write_bgzf_text(rendered, path, ext, mode)
        return
    w = rendered.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def _write_bgzf_text(rendered: DataFrame, path: str, ext: str,
                     mode: str) -> None:
    """Distributed BGZF text writer: each partition streams its lines
    into ≤64 KiB BGZF members in one part file — bounded memory per
    task (one block buffer), records never split across part files."""
    import os
    import shutil

    # Spark save-mode contract, minus append: part files are named by
    # partition id, so appending would silently clobber prior parts
    if mode == "append":
        raise ValueError("bgzf sink does not support mode='append'")
    if os.path.exists(path):
        if mode == "ignore":
            return
        if mode != "overwrite":  # 'error'/'errorifexists'
            raise ValueError(f"{path} exists and mode={mode!r}")
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)

    def _write_part(rows) -> None:
        from pyspark import TaskContext

        from polars_fastx_spark.sources import bgzf

        buf = bytearray()
        out = None
        tc = TaskContext.get()
        pid, att = tc.partitionId(), tc.attemptNumber()
        target = os.path.join(path, f"part-{pid:05d}{ext}")
        # task-commit protocol: stream to an attempt-private temp name,
        # atomic-rename into place only on success — a failed or
        # speculative attempt never leaves a half-written (or
        # interleaved) part file under the final name
        tmp = os.path.join(path, f".part-{pid:05d}-attempt-{att}{ext}.tmp")
        for row in rows:
            if out is None:
                out = open(tmp, "wb")  # lazily: empty partitions write nothing
            buf += (row["value"] + "\n").encode("utf-8")
            while len(buf) >= bgzf.MAX_BLOCK_DATA:
                out.write(bgzf.encode_block(bytes(buf[: bgzf.MAX_BLOCK_DATA])))
                del buf[: bgzf.MAX_BLOCK_DATA]
        if out is not None:
            if buf:
                out.write(bgzf.encode_block(bytes(buf)))
            out.write(bgzf.EOF_BLOCK)
            out.close()
            os.replace(tmp, target)

    rendered.foreachPartition(_write_part)
    # job-commit marker: readers (and reruns) can distinguish a
    # completed sink from one whose job died partway
    open(os.path.join(path, "_SUCCESS"), "w").close()


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(total_bytes / target) evenly-sized files; returns the file
    count. The operational fix for streaming/append sinks that accrete
    thousands of tiny files (each file costs a task + a NameNode/list
    entry at 100 TB). Round-robin repartition gives uniform sizes;
    ``out_path`` must differ from ``in_path`` (no in-place rewrite —
    swap directories atomically at the orchestration layer).
    """
    import math
    import os

    if os.path.abspath(in_path) == os.path.abspath(out_path):
        raise ValueError("compaction must write to a different path")
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(in_path)
        for f in files
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(in_path).repartition(n).write.mode(
        "overwrite"
    ).parquet(out_path)
    return n


def compact_epoch_partitions(
    spark,
    path: str,
    upto_epoch: int,
    min_epochs: int = 2,
) -> None:
    """Fold the committed ``epoch=<id>`` partitions with
    ``id < upto_epoch`` of an append-by-epoch parquet dataset into the
    newest one, once at least ``min_epochs`` have accreted — each tiny
    epoch dir otherwise costs a list entry and a read task forever.
    Crash-safe and re-entrant: :func:`polars_fastx_spark.epochs.compact`
    over one table."""
    epochs.compact(spark, path, upto_epoch, min_epochs)
