"""Seeded FASTX corpora with per-record ground truth.

Two corpora:

- ``reads``: gzip FASTQ, 150 bp reads spread evenly over ``READ_FILES``
  files, the way a sequencer delivers a run in chunks. About 1% of the
  bases are N, and some quality strings start with ``@`` or ``+`` (legal
  phred characters that a line-framed parser would mistake for record
  starts). No workload runs it yet; ``test_corpus.py`` uses it to check
  the FASTQ parse against the ground truth.
- ``contigs``: the ``fastx_contigs`` workload's input, one multi-line
  FASTA assembly, wrapped at 70 columns,
  with N gaps and soft-masked (lowercase) runs. Contig lengths are a
  fixed ladder: the seed changes the bases, the order and the gap and
  mask positions, never the lengths, so the cost of a pass (which grows
  faster than contig length in the ``seq`` maps) does not depend on the
  seed.

The ground truth is what ``fasta_stats`` must report for each record:
length, the count of uppercase G and C (``gc_content`` is
case-sensitive), the count of uppercase N, and the md5 of the sequence.
It is written next to the corpus as ``truth.tsv``.

Usage: ``python3 perfbench/corpus.py --seed 1 --kind reads --out DIR``
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import io
import os
import shutil

import numpy as np

READ_FILES = 8
READS_PER_FILE = 12_000
READ_LEN = 150
# Contigs below CONTIG_MIN_LENGTH are dropped by the workload's
# min_length filter; the rest are kept (seq.kept_frac = 8/12).
CONTIG_LENGTHS = (
    700, 900, 1_200, 1_600,
    2_000, 3_000, 4_000, 6_000, 8_000, 12_000, 16_000, 24_000,
)
CONTIG_MIN_LENGTH = 2_000
WRAP = 70

_BASES = np.frombuffer(b"ACGT", dtype=np.uint8)


def truth_row(header: str, seq: str) -> tuple[str, int, int, int, str]:
    """(header, length, uppercase G+C, uppercase N, md5) of one record."""
    return (
        header,
        len(seq),
        seq.count("G") + seq.count("C"),
        seq.count("N"),
        hashlib.md5(seq.encode()).hexdigest(),
    )


def _gzip_bytes(data: bytes) -> bytes:
    """gzip with a fixed header (no name, mtime 0): same input, same
    bytes. Level 1 keeps generation fast; it does not change the parse."""
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0,
                       compresslevel=1) as gz:
        gz.write(data)
    return buf.getvalue()


def make_reads(seed: int, out: str, files: int = READ_FILES,
               reads_per_file: int = READS_PER_FILE) -> list[tuple]:
    rng = np.random.default_rng([seed, 1])
    truth = []
    for f in range(files):
        n = reads_per_file
        seqs = _BASES[rng.integers(0, 4, size=(n, READ_LEN))]
        # ~1% N: a sparse sprinkle plus a few reads with an N run
        seqs[rng.random((n, READ_LEN)) < 0.008] = ord("N")
        runs = rng.choice(n, size=n // 100, replace=False)
        for r in runs:
            s = int(rng.integers(0, READ_LEN - 10))
            seqs[r, s:s + 10] = ord("N")
        quals = rng.integers(33, 75, size=(n, READ_LEN), dtype=np.uint8)
        tricky = rng.choice(n, size=n // 25, replace=False)
        quals[tricky[: len(tricky) // 2], 0] = ord("@")
        quals[tricky[len(tricky) // 2:], 0] = ord("+")
        records = []
        for i in range(n):
            header = f"run{seed}:lane{f + 1}:read{i} 1:N:0:{i % 97}"
            seq = seqs[i].tobytes()
            records.append(b"@%s\n%s\n+\n%s\n" % (header.encode(), seq, quals[i].tobytes()))
            truth.append(truth_row(header, seq.decode()))
        path = os.path.join(out, f"chunk{f:02d}.fastq.gz")
        with open(path, "wb") as fh:
            fh.write(_gzip_bytes(b"".join(records)))
    return truth


def make_contigs(seed: int, out: str) -> list[tuple]:
    rng = np.random.default_rng([seed, 2])
    order = rng.permutation(len(CONTIG_LENGTHS))
    truth = []
    with open(os.path.join(out, "assembly.fasta"), "w") as fh:
        for k, idx in enumerate(order):
            length = CONTIG_LENGTHS[idx]
            seq = _BASES[rng.integers(0, 4, size=length)]
            # GC-skewed halves so gc_content differs between contigs
            half = length // 2
            gc_bias = rng.random(half) < 0.15
            seq[:half][gc_bias] = _BASES[rng.integers(1, 3, size=int(gc_bias.sum()))]
            for _ in range(max(1, length // 4_000)):  # scaffold N gaps
                s = int(rng.integers(0, length - 100))
                seq[s:s + int(rng.integers(20, 100))] = ord("N")
            for _ in range(max(1, length // 2_000)):  # soft-masked repeats
                s = int(rng.integers(0, length - 300))
                e = s + int(rng.integers(50, 300))
                seq[s:e] = seq[s:e] | 0x20  # ACGTN -> acgtn
            text = seq.tobytes().decode()
            header = f"contig_{k + 1} len={length} seed={seed}"
            fh.write(f">{header}\n")
            for i in range(0, length, WRAP):
                fh.write(text[i:i + WRAP] + "\n")
            truth.append(truth_row(header, text))
    return truth


MAKERS = {"reads": make_reads, "contigs": make_contigs}


def write_truth(path: str, truth: list[tuple]) -> None:
    with open(path, "w") as fh:
        fh.write("header\tlength\tgc\tn\tmd5\n")
        for row in truth:
            fh.write("\t".join(map(str, row)) + "\n")


def read_truth(path: str) -> dict[str, tuple[int, int, int, str]]:
    """header → (length, gc, n, md5)."""
    out = {}
    with open(path) as fh:
        next(fh)
        for line in fh:
            h, length, gc, n, md5 = line.rstrip("\n").split("\t")
            out[h] = (int(length), int(gc), int(n), md5)
    return out


def build(kind: str, seed: int, cache_root: str) -> str:
    """Build (or reuse) the corpus for ``seed``; return its directory.

    The directory holds the corpus under ``data/`` and ``truth.tsv``;
    a ``done`` marker, written last, makes a half-written cache miss.
    """
    out = os.path.join(cache_root, f"{kind}-seed{seed}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "data"))
    truth = MAKERS[kind](seed, os.path.join(out, "data"))
    write_truth(os.path.join(out, "truth.tsv"), truth)
    open(os.path.join(out, "done"), "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--kind", choices=sorted(MAKERS), required=True)
    ap.add_argument("--out", required=True, help="cache directory")
    args = ap.parse_args()
    print(build(args.kind, args.seed, args.out))


if __name__ == "__main__":
    main()
