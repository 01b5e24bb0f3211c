"""Streaming FASTX source (SURVEY.md §2.9 T1 stretch goal).

``spark.readStream.format("fastx_stream").load(dir)`` — follows a
directory of FASTA/FASTQ files; each new file that appears becomes part
of the next micro-batch. The offset is the sorted list of ingested file
names (exactly how Spark's own FileStreamSource tracks progress), so
restarts resume from the checkpoint without re-parsing.

The batch FASTX reader's parsing (sources/parser.py) is reused
verbatim; one partition per new file, so a burst of N files parses on
N cores. This is the event-time generalization of the reference's
pull-based generator scan (reference: src/polars_fastx/fastx_parsers.py:95-127).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from polars_fastx_spark.session import register_data_source
from polars_fastx_spark.sources import parser
from polars_fastx_spark.sources.fastx import FASTX_EXTENSIONS


class _FilePartition(InputPartition):
    def __init__(self, path: str, is_fastq: bool):
        self.path = path
        self.is_fastq = is_fastq


def _list_fastx(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path] if os.path.exists(path) else []
    out = []
    for name in sorted(os.listdir(path)):
        base = name[:-3] if name.endswith(".gz") else name
        if base.endswith(FASTX_EXTENSIONS):
            out.append(os.path.join(path, name))
    return out


class FastxStreamReader(DataSourceStreamReader):
    """Offset = {"files": sorted list of already-ingested paths}."""

    def __init__(self, path: str, is_fastq: bool):
        self._path = path
        self._is_fastq = is_fastq

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": _list_fastx(self._path)}

    def partitions(self, start: dict, end: dict) -> Sequence[_FilePartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        return [_FilePartition(p, self._is_fastq) for p in new] or [
            _FilePartition("", self._is_fastq)
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        if not partition.path:
            return iter(())
        # the stream's schema (FASTA 2-col vs FASTQ 3-col) is locked at
        # start; a file of the OTHER framing arriving later would parse
        # to zero records and be marked ingested by the checkpoint —
        # silent, unrecoverable loss. Fail loudly instead.
        actual = parser.sniff_is_fastq(partition.path)
        if actual != partition.is_fastq:
            want = "FASTQ" if partition.is_fastq else "FASTA"
            got = "FASTQ" if actual else "FASTA"
            raise ValueError(
                f"{partition.path}: {got} file arrived in a stream locked "
                f"to {want} (schema fixed at stream start — pass "
                "format= explicitly or keep formats in separate dirs)"
            )
        return parser.parse_file(partition.path, partition.is_fastq, 0, None)

    def commit(self, end: dict) -> None:
        pass  # files are immutable once listed; nothing to clean up


class FastxStreamDataSource(DataSource):
    """Streaming twin of the batch ``fastx`` source.

    Options: ``path`` (directory to follow), ``format`` (force
    fasta/fastq — otherwise sniffed from the first file present; a
    still-empty directory defaults to FASTA's 2-column schema).
    """

    @classmethod
    def name(cls) -> str:
        return "fastx_stream"

    def _is_fastq(self) -> bool:
        fmt = self.options.get("format")
        if fmt:
            return fmt.lower() == "fastq"
        files = _list_fastx(self.options.get("path", ""))
        return bool(files) and parser.sniff_is_fastq(files[0])

    def schema(self) -> StructType:
        fields = [
            StructField("header", StringType(), True),
            StructField("sequence", StringType(), True),
        ]
        if self._is_fastq():
            fields.append(StructField("quality", StringType(), True))
        return StructType(fields)

    def streamReader(self, schema: StructType) -> FastxStreamReader:
        return FastxStreamReader(
            self.options.get("path", ""), "quality" in schema.fieldNames()
        )


def register(spark: SparkSession) -> None:
    register_data_source(spark, FastxStreamDataSource)


def stream_fastx(spark: SparkSession, path: str, format: str | None = None):
    """``readStream`` over a growing directory of FASTX files."""
    register(spark)
    r = spark.readStream.format("fastx_stream").option("path", path)
    if format:
        r = r.option("format", format)
    return r.load()
