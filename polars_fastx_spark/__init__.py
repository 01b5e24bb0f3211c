"""polars_fastx_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``apcamargo/polars-fastx``.

The reference is a Polars IO plugin + ``seq`` expression namespace
(reference: src/polars_fastx/fastx_parsers.py). This package re-expresses
those capabilities Spark-first:

- :mod:`polars_fastx_spark.session` — tuned SparkSession builder.
- :mod:`polars_fastx_spark.sources` — FASTX scan (Python Data Source API)
  plus a pure-relational fallback parser; TSV/parquet sinks.
- :mod:`polars_fastx_spark.functions` — the ``seq`` function namespace
  (gc_content, n_count, length, codon_usage, generate_hash, kmer
  frequencies) as pure ``Column`` expressions (JVM-side; no Python UDF on
  the hot path).
- :mod:`polars_fastx_spark.operators` — composed operators Spark lacks
  natively (as-of join) and the LLM-data-pipeline surface (dedup,
  similarity search, text analysis, multimodal columns).
- :mod:`polars_fastx_spark.streaming` — event-time windowing helpers and
  Structured Streaming wiring.
- :mod:`polars_fastx_spark.pipeline` — the ``fasta_stats`` end-to-end
  pipeline (reference: src/polars_fastx/fastx_parsers.py:137-223).
"""

# first, before anything imports pyspark: in the package's worker daemon
# this swaps Spark's pyspark.zip for the matching installed pyspark, and in
# every Spark Python worker it stops each call re-reading the zips on the
# path (see _zipcache)
import polars_fastx_spark._zipcache  # noqa: F401
from polars_fastx_spark.session import get_spark, stop_spark
from polars_fastx_spark.functions import seq
from polars_fastx_spark.sources.fastx import scan_fastx, read_fastx
from polars_fastx_spark.sources.warc import scan_warc
from polars_fastx_spark.pipeline import crawl_to_corpus, fasta_stats
from polars_fastx_spark.operators.diffing import (
    apply_diff,
    invert_diff,
    snapshot_diff,
    snapshot_diff_summary,
)

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "stop_spark",
    "seq",
    "scan_fastx",
    "read_fastx",
    "scan_warc",
    "fasta_stats",
    "crawl_to_corpus",
    "snapshot_diff",
    "snapshot_diff_summary",
    "apply_diff",
    "invert_diff",
    "__version__",
]
