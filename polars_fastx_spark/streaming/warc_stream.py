"""Streaming WARC source — live crawl-archive ingestion.

``spark.readStream.format("warc_stream").load(dir)`` follows a
directory of ``.warc`` / ``.warc.gz`` files; each new archive that
lands becomes part of the next micro-batch — the crawl-side twin of
the streaming FASTX source (``fastx_stream.py``), same offset design:
the offset is the sorted list of ingested file names (how Spark's own
FileStreamSource tracks progress), so restarts resume from the
checkpoint without re-parsing history. One partition per new file —
a burst of N archives parses on N cores; the batch reader's record
parsing (``sources/warc.py``) is reused verbatim.

Compose downstream with the gate family: canonical-URL exact dedup
(``stream_dedup`` on ``urls.normalize_url``), near-dup
(``stream_neardup_gate``), containment (``stream_containment_gate``),
decontamination (``stream_decontam_gate``) — the full live-ingest
crawl pipeline.
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
from pyspark.sql.types import StructType

from polars_fastx_spark.session import register_data_source
from polars_fastx_spark.sources import warc as warc_batch


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _list_warc(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path] if os.path.exists(path) else []
    return [
        os.path.join(path, n)
        for n in sorted(os.listdir(path))
        if n.endswith((".warc", ".warc.gz"))
    ]


class WarcStreamReader(DataSourceStreamReader):
    """Offset = {"files": sorted list of already-ingested paths}."""

    def __init__(self, path: str):
        self._path = path

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": _list_warc(self._path)}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[_WarcFilePartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        return [_WarcFilePartition(p) for p in new] or [
            _WarcFilePartition("")
        ]

    def read(self, partition: _WarcFilePartition) -> Iterator[tuple]:
        if not partition.path:
            return iter(())
        if partition.path.endswith(".gz"):
            return warc_batch._iter_gz_members(partition.path, 0, None)
        return warc_batch._iter_plain(partition.path, 0, None)

    def commit(self, end: dict) -> None:
        pass


class WarcStreamDataSource(DataSource):
    """``spark.readStream.format("warc_stream").load(dir)``."""

    @classmethod
    def name(cls) -> str:
        return "warc_stream"

    def schema(self) -> StructType:
        return warc_batch.WARC_SCHEMA

    def streamReader(self, schema: StructType) -> WarcStreamReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("warc_stream source requires a path")
        return WarcStreamReader(path)


def register(spark: SparkSession) -> None:
    register_data_source(spark, WarcStreamDataSource)


def stream_warc(spark: SparkSession, path: str):
    """Streaming WARC scan → streaming DataFrame (module docstring)."""
    register(spark)
    return spark.readStream.format("warc_stream").load(path)
