"""FASTX scan (SURVEY.md §2.1 S1/S2).

The reference registers a Polars IO-plugin scan returning a LazyFrame
(reference: src/polars_fastx/fastx_parsers.py:70-129). Here one planner
(``FastxReader``) and one record reader serve two entries:

- ``scan_fastx`` (and through it ``read_fastx``, ``fasta_stats`` and
  the CLI) plans in the caller's own process (``sources/splits.py``):
  it expands the paths, sniffs FASTA vs FASTQ from one record of the
  first file (FASTA → 2 string columns, FASTQ → +quality, mirroring
  fastx_parsers.py:87-93) or takes ``format=``, plans the splits, and
  reads each split in one Spark task. No Python planner process is
  started.
- ``spark.read.format("fastx")`` after :func:`register` is the
  engine-native ``DataSource``, for SQL and ``DataFrameReader`` users.
  Only this entry has **pushFilters**: simple comparison/string
  predicates on the parsed columns are applied inside the reader per
  record — the exact analog of the reference applying the pushed-down
  Polars predicate per batch (fastx_parsers.py:125-126). Unsupported
  filters are returned to Spark, which re-applies them. On
  ``scan_fastx`` Spark applies every filter above the scan.

**Splits**: one per file, and — the scale path the reference cannot do
— byte-range splits of large plain FASTA (and 4-line FASTQ, and BGZF)
files, so a single 100 GB file parses on hundreds of cores instead of
one. Default split target 128 MB (``spark.sql.files.maxPartitionBytes``
-like). Projection: Spark prunes columns above the scan; parse cost is
per-record anyway (same trade-off as the reference, SURVEY.md §4.1).

Also here: the pure-relational fallback parser (S5) the reference
author sketched in comments (fastx_parsers.py:227-263) — read lines,
window cum-sum over ``startswith('>')`` to assign record ids, groupBy
to reassemble — useful as a cross-check and as an all-JVM path.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StringType, StructField, StructType

from polars_fastx_spark.session import persist, register_data_source
from polars_fastx_spark.sources import parser
from polars_fastx_spark.sources.splits import (
    byte_ranges,
    check_split_bytes,
    scan_splits,
)

FASTX_EXTENSIONS = (
    ".fa", ".fasta", ".fna", ".ffn", ".faa", ".frn", ".fq", ".fastq",
)
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


def _expand_paths(path: str) -> list[str]:
    """file | glob | directory → sorted list of FASTX files."""
    if os.path.isdir(path):
        out = []
        for name in sorted(os.listdir(path)):
            base = name[:-3] if name.endswith(".gz") else name
            if base.endswith(FASTX_EXTENSIONS):
                out.append(os.path.join(path, name))
        if not out:
            raise FileNotFoundError(f"no FASTX files in directory {path}")
        return out
    matches = sorted(glob.glob(path))
    if not matches:
        raise FileNotFoundError(f"no files match {path}")
    return matches


@dataclass
class FastxPartition(InputPartition):
    path: str
    start: int
    end: int | None  # None → whole file (raw gzip / unsplittable FASTQ)
    prev_block: int | None = None  # BGZF ranges: preceding non-empty block


class FastxReader(DataSourceReader):
    def __init__(self, paths: list[str], is_fastq: bool, split_bytes: int):
        self._paths = paths
        self._is_fastq = is_fastq
        self._split_bytes = split_bytes
        self._predicates: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept simple predicates; they are applied per parsed record.

        Mirrors the reference's per-batch pushed-predicate application
        (reference: src/polars_fastx/fastx_parsers.py:97,125-126).
        """
        supported = (
            EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
            LessThanOrEqual, StringStartsWith, StringEndsWith,
            StringContains, IsNotNull,
        )
        for f in filters:
            if isinstance(f, supported) and len(f.attribute) == 1:
                self._predicates.append(f)
            else:
                yield f

    def partitions(self) -> Sequence[FastxPartition]:
        from polars_fastx_spark.sources import bgzf

        check_split_bytes(self._split_bytes)
        parts: list[FastxPartition] = []
        for p in self._paths:
            size = os.path.getsize(p)
            # FASTQ splits only under verified 4-line framing —
            # multi-line FASTQ can't resync safely (SURVEY.md §7.1)
            framing_ok = not self._is_fastq or parser.probe_four_line_fastq(p)
            if parser.is_gzip_file(p):
                # BGZF (bgzip) block framing → byte-range parallelism on
                # compressed corpora, the standard 100 TB genomics
                # layout; raw gzip stays one whole-file partition.
                if (
                    size > self._split_bytes
                    and framing_ok
                    and bgzf.is_bgzf_file(p)
                ):
                    idx = bgzf.block_index(p)
                    for s, e, prev in bgzf.split_ranges(
                        idx, self._split_bytes, size
                    ):
                        parts.append(FastxPartition(p, s, e, prev))
                else:
                    parts.append(FastxPartition(p, 0, None))
            elif size > self._split_bytes and framing_ok:
                for s, e in byte_ranges(size, self._split_bytes):
                    parts.append(FastxPartition(p, s, e))
            else:
                parts.append(FastxPartition(p, 0, None))
        return parts

    def _keep(self, row: tuple) -> bool:
        cols = {"header": row[0], "sequence": row[1]}
        if self._is_fastq:
            cols["quality"] = row[2]
        for f in self._predicates:
            v = cols.get(f.attribute[0])
            if isinstance(f, IsNotNull):
                if v is None:
                    return False
                continue
            if v is None:
                return False
            if isinstance(f, EqualTo) and not v == f.value:
                return False
            elif isinstance(f, GreaterThan) and not v > f.value:
                return False
            elif isinstance(f, GreaterThanOrEqual) and not v >= f.value:
                return False
            elif isinstance(f, LessThan) and not v < f.value:
                return False
            elif isinstance(f, LessThanOrEqual) and not v <= f.value:
                return False
            elif isinstance(f, StringStartsWith) and not v.startswith(f.value):
                return False
            elif isinstance(f, StringEndsWith) and not v.endswith(f.value):
                return False
            elif isinstance(f, StringContains) and f.value not in v:
                return False
        return True

    def read(self, partition: FastxPartition) -> Iterator[tuple]:
        if partition.start == 0:
            # Executor-side fail-fast for mixed directories: the schema
            # was sniffed from the FIRST file only; a directory mixing
            # FASTA and FASTQ would otherwise hit a confusing framing
            # error mid-parse (or silently drop quality). One-record
            # sniff per file, distributed — no driver cost. Empty files
            # (e.g. empty writer parts) have nothing to validate.
            with parser.open_maybe_gzip(partition.path) as f:
                first = next((ln.strip()[:1] for ln in f if ln.strip()), None)
            if first is None:
                return iter(())
            if first not in (b">", b"@"):
                raise ValueError(
                    f"{partition.path}: not FASTA/FASTQ (first record "
                    f"starts with {first!r}, expected '>' or '@')"
                )
            actual_fastq = first == b"@"
            if actual_fastq != self._is_fastq:
                want = "FASTQ" if self._is_fastq else "FASTA"
                got = "FASTQ" if actual_fastq else "FASTA"
                raise ValueError(
                    f"{partition.path}: sniffed {got} but this scan's schema "
                    f"is {want} (from the first file or format=...) — "
                    "mixed FASTA/FASTQ directories need separate scans"
                )
        rows = parser.parse_file(
            partition.path, self._is_fastq, partition.start, partition.end,
            partition.prev_block,
        )
        if self._predicates:
            return (r for r in rows if self._keep(r))
        return rows


class FastxDataSource(DataSource):
    """``spark.read.format("fastx").load(path)``.

    Options:
      - ``path``: file, glob, or directory (required).
      - ``format``: force ``fasta``/``fastq`` instead of content sniff.
      - ``split_bytes``: byte-range split target for plain FASTA
        (default 128 MB).
    """

    @classmethod
    def name(cls) -> str:
        return "fastx"

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("fastx source requires a path")
        return _expand_paths(path)

    def schema(self) -> StructType:
        return _fastx_schema(_is_fastq(self._paths(), self.options.get("format")))

    def reader(self, schema: StructType) -> FastxReader:
        paths = self._paths()
        split = int(self.options.get("split_bytes", DEFAULT_SPLIT_BYTES))
        return FastxReader(paths, "quality" in schema.fieldNames(), split)


def _is_fastq(paths: list[str], format: str | None) -> bool:
    """``format`` (fasta/fastq) if given, else a one-record sniff of the
    first file."""
    if format:
        return format.lower() == "fastq"
    return parser.sniff_is_fastq(paths[0])


def _fastx_schema(is_fastq: bool) -> StructType:
    fields = [
        StructField("header", StringType(), True),
        StructField("sequence", StringType(), True),
    ]
    if is_fastq:
        fields.append(StructField("quality", StringType(), True))
    return StructType(fields)


def register(spark: SparkSession) -> None:
    """Idempotently register the fastx data source on this session, for
    ``spark.read.format("fastx")``; :func:`scan_fastx` does not need it."""
    register_data_source(spark, FastxDataSource)


def scan_fastx(
    spark: SparkSession,
    path: str,
    format: str | None = None,
    split_bytes: int | None = None,
) -> DataFrame:
    """Lazy FASTX scan → DataFrame (the reference's ``scan_fastx`` intent;
    its ``__init__`` imports the symbol that never existed — SURVEY.md §0.1).

    Paths, format and splits are resolved here, in the caller's process
    (see the module docstring); the records are read when an action runs.
    """
    paths = _expand_paths(path)
    is_fastq = _is_fastq(paths, format)
    split = DEFAULT_SPLIT_BYTES if split_bytes is None else split_bytes
    splits = FastxReader(paths, is_fastq, split).partitions()
    # each task gets its split as row data: its reader needs no paths
    return scan_splits(
        spark, splits, FastxReader([], is_fastq, split),
        _fastx_schema(is_fastq), FastxDataSource,
    )


def read_fastx(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Eager twin (reference: src/polars_fastx/fastx_parsers.py:132-134):
    scan + materialize (cache + count forces the read). The cache is
    released with an enclosing ``session.cache_scope``; outside one it
    stays until the caller releases it."""
    df = persist(scan_fastx(spark, path, **kwargs))
    df.count()
    return df


def parse_fasta_relational(spark: SparkSession, path: str) -> DataFrame:
    """S5 — the author-sketched pure-relational FASTA parser
    (reference: src/polars_fastx/fastx_parsers.py:227-263), Spark-first.

    read lines → running sum of ``startswith('>')`` per file (ordered by
    intra-file position from ``monotonically_increasing_id`` — stable
    because the text source assigns ids in file/offset order within a
    partition and we window per file) → groupBy block → first line is
    the header, rest concatenate into the sequence.

    All-JVM (no Python workers at all); one shuffle (the groupBy). The
    window is partitioned per file so no global sort is required
    (SURVEY.md §7 hard part #2).
    """
    from pyspark.sql import Window

    lines = (
        spark.read.text(path)
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_block_start").alias("blk"),
            F.monotonically_increasing_id().alias("mono"),
            F.regexp_replace("value", "\r$", "").alias("line"),
        )
        # (blk, mono) is a total intra-file order: mono ids are ordered
        # within a split, blk orders the splits of one file.
        .withColumn("pos", F.struct("blk", "mono"))
    )
    w = Window.partitionBy("file").orderBy("pos")
    blocks = lines.withColumn(
        "block",
        F.sum(F.when(F.col("line").startswith(">"), 1).otherwise(0)).over(w),
    ).filter(F.col("block") > 0)
    recs = F.array_sort(F.collect_list(F.struct("pos", "line")))
    return (
        blocks.groupBy("file", "block")
        .agg(
            F.element_at(recs, 1)["line"].alias("header_line"),
            F.array_join(
                F.transform(
                    F.filter(recs, lambda s: ~s["line"].startswith(">")),
                    lambda s: s["line"],
                ),
                "",
            ).alias("sequence"),
        )
        .select(
            F.expr("substring(header_line, 2)").alias("header"),
            F.col("sequence"),
        )
    )
