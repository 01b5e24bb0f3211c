"""The benchmark's workloads: inputs, operations and output checks.

Each workload builds its inputs from the seed (outside every timing),
registers them with a session (timed as part of set-up), runs an
ordered list of operations per pass, and checks each operation's output
after the pass against an answer computed without Spark.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
from collections import Counter
from types import SimpleNamespace

import corpus
import tables

CATALOG_QUERIES = (
    # the bench.py headline suite: sub-second queries at the job floor
    "q_agg_tpch1", "j_inner_3way", "w_rank_topk", "o_topk",
    "g_count_distinct", "f_json_extract", "l_exact_dedup", "l_cosine_topk",
    # operator-heavy LLM-data queries: LSH banded self-joins, SimHash
    # banding, an applyInPandas Arrow crossing
    "l_minhash_lsh", "l_simhash_neardup", "t_ewma",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
CONTIG_FIELDS = "header,length,gc_content,n_count,hash,codon_usage,kmer_freq"


def _freqs(tokens: list[str]) -> dict[str, float]:
    kept = [t for t in tokens if "N" not in t]
    counts = Counter(kept)
    return {k: v / len(kept) for k, v in counts.items()}


def _seq_maps(seq: str, k: int = 3) -> tuple[dict, dict]:
    """Expected ``codon_usage`` and ``kmer_freq`` of one sequence."""
    up = seq.upper()
    codons = [up[i:i + 3] for i in range(0, len(up) - 2, 3)]
    kmers = [up[i:i + k] for i in range(len(up) - k + 1)]
    return _freqs(codons), _freqs(kmers)


def _read_fasta(path: str) -> dict[str, str]:
    """header → sequence, for the benchmark's own (well-formed) FASTA."""
    out, header, chunks = {}, None, []
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line.startswith(">"):
                if header is not None:
                    out[header] = "".join(chunks)
                header, chunks = line[1:], []
            else:
                chunks.append(line)
    if header is not None:
        out[header] = "".join(chunks)
    return out


class ContigWorkload:
    """``fasta_stats`` over a generated contig assembly, one call per
    pass, with the default fields (codon and 3-mer maps included)."""

    name = "fastx_contigs"
    layer = "pipeline"  # the layer of the one call a pass makes
    # the work is in the Python workers, so warm passes are flat from the
    # first; a floor on their count keeps the median from depending on
    # how many passes fit the time budget
    min_warm = 3

    def prepare(self, seed: int, cache: str, work: str) -> None:
        root = corpus.build("contigs", seed, cache)
        truth = corpus.read_truth(os.path.join(root, "truth.tsv"))
        self.bases = sum(t[0] for t in truth.values())
        self.input = os.path.join(root, "data", "assembly.fasta")
        self.min_length = corpus.CONTIG_MIN_LENGTH
        self.expected = {h: t for h, t in truth.items() if t[0] >= self.min_length}
        self.maps = {
            h: _seq_maps(s) for h, s in _read_fasta(self.input).items()
            if h in self.expected
        }
        self.out = os.path.join(work, "out", self.name)

    def register(self, spark) -> None:
        from polars_fastx_spark.sources.fastx import register, scan_fastx

        register(spark)
        scan_fastx(spark, self.input)  # path expansion + schema sniff

    def operations(self, spark) -> list[tuple[str, object]]:
        from polars_fastx_spark.pipeline import fasta_stats

        def run():
            fasta_stats(spark, self.input, self.out, min_length=self.min_length,
                        fields=CONTIG_FIELDS)
            return self.out

        return [("fasta_stats", run)]

    def check(self, name: str, out: str) -> list[str]:
        """Read the TSV back and compare every row with the ground truth."""
        problems: list[str] = []
        seen: set[str] = set()
        for part in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(part, newline="") as fh:
                for row in csv.DictReader(fh, delimiter="\t", quotechar='"'):
                    problems += self._check_row(row, seen)
                    if len(problems) > 5:
                        return problems
        missing = len(self.expected) - len(seen)
        if missing:
            problems.append(f"{missing} expected records missing from {out}")
        return problems

    def _check_row(self, row: dict, seen: set[str]) -> list[str]:
        h = row["header"]
        want = self.expected.get(h)
        if want is None or h in seen:
            return [f"unexpected or repeated record {h!r}"]
        seen.add(h)
        length, gc, n, md5 = want
        got_gc = round(float(row["gc_content"]) * length) if length else 0
        if (int(row["length"]), got_gc, int(row["n_count"]), row["hash"]) != (
            length, gc, n, md5
        ):
            return [f"{h!r}: got {row}, want {want}"]
        for col, exp in zip(("codon_usage", "kmer_freq"), self.maps[h]):
            got = json.loads(row[col])
            if got.keys() != exp.keys() or any(abs(got[k] - exp[k]) > 1e-12 for k in exp):
                return [f"{h!r}: {col} differs from the expected frequencies"]
        return []

    def layer_probe(self, spark, tracer, n_cores: int) -> dict[str, float]:
        """Run the pipeline one layer at a time, each to a noop sink."""
        from polars_fastx_spark.pipeline import fasta_stats_frame
        from polars_fastx_spark.sources.fastx import scan_fastx
        from polars_fastx_spark.sources.sinks import write_tsv

        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        with tracer.span("scan_fastx", "sources", "probe") as s:
            scan = scan_fastx(spark, self.input).persist()
            noop(scan)
        with tracer.span("fasta_stats_frame", "seq", "probe") as q:
            stats = fasta_stats_frame(scan, self.min_length, fields=CONTIG_FIELDS).persist()
            noop(stats)
        kept = stats.count()
        out = self.out + "-probe"
        with tracer.span("write_tsv", "sinks", "probe") as w:
            write_tsv(stats, out)
        stats.unpersist()
        scan.unpersist()
        tracer.collect()
        parts = glob.glob(os.path.join(out, "part-*"))
        sc, qc = s["counters"], q["counters"]
        scan_s = s["end"] - s["start"]
        return {
            "sources.scan_s": scan_s,
            "sources.partitions": sc["tasks"],
            "sources.records": sc["input_records"],
            "sources.task_s": sc["task_s"],
            "sources.arrow_mb": sc["arrow_mb"],
            "sources.idle_core_frac": 1 - sc["task_s"] / (scan_s * n_cores),
            "seq.stats_s": q["end"] - q["start"],
            "seq.task_s": qc["task_s"],
            "seq.gc_s": qc["gc_s"],
            "seq.kept_frac": kept / max(sc["input_records"], 1),
            "sinks.write_s": w["end"] - w["start"],
            "sinks.bytes_written": sum(os.path.getsize(p) for p in parts),
            "sinks.files_written": len(parts),
        }


class CatalogWorkload:
    """Catalog queries over generated tables, each run as ``.collect()``."""

    # the JIT keeps compiling through the first warm passes (the JVM's
    # CPU time per pass falls from ~19 s to ~11 s over three of them);
    # the median of five sits past the steepest part of that
    min_warm = 5

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name = name
        self.queries = queries
        self.layer = "catalog"
        self.bases = 0

    def prepare(self, seed: int, cache: str, work: str) -> None:
        from polars_fastx_spark.catalog import QUERIES
        from tests.oracle_utils import duck_connect

        self.dir = tables.build(seed, cache)
        self.specs = {q: QUERIES[q] for q in self.queries}
        con = duck_connect(self.dir)
        try:
            self.oracle = {q: con.execute(s.oracle).df() for q, s in self.specs.items()}
        finally:
            con.close()
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)

    def register(self, spark) -> None:
        """Resolve every table's parquet relation, which the catalog
        memoizes per session, as a warehouse metastore would."""
        from polars_fastx_spark import catalog

        for t in TABLES:
            catalog._t(spark, self.dir, t)

    def operations(self, spark) -> list[tuple[str, object]]:
        def op(q):
            def run():
                df = self.specs[q].fn(spark, self.dir)
                return df.columns, df.collect()
            return run

        return [(q, op(q)) for q in self.order]

    def check(self, name: str, result) -> list[str]:
        import pandas as pd
        from tests.oracle_utils import compare

        columns, rows = result
        pdf = pd.DataFrame([tuple(r) for r in rows], columns=columns)
        # compare() takes a Spark frame and calls toPandas(); hand it the
        # rows this pass already collected instead of running it again
        return compare(SimpleNamespace(toPandas=lambda: pdf), self.oracle[name])


WORKLOADS = {
    "fastx_contigs": ContigWorkload,
    "catalog": lambda: CatalogWorkload("catalog", CATALOG_QUERIES),
}
