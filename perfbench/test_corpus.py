"""Tests for the seeded input generators: the FASTX corpora and the
catalog tables (no Spark).

    python3 -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import corpus  # noqa: E402
import tables  # noqa: E402
from polars_fastx_spark.sources import parser  # noqa: E402


def _small_reads(seed: int, out: Path) -> list[tuple]:
    out.mkdir()
    return corpus.make_reads(seed, str(out), files=2, reads_per_file=300)


def _contigs(seed: int, out: Path) -> list[tuple]:
    out.mkdir()
    return corpus.make_contigs(seed, str(out))


def _same_files(a: Path, b: Path) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(a / n, b / n, shallow=False) for n in names
    )


def test_same_seed_gives_identical_bytes(tmp_path):
    for make in (_small_reads, _contigs):
        a, b, c = (tmp_path / f"{make.__name__}{i}" for i in range(3))
        assert make(7, a) == make(7, b)
        assert _same_files(a, b)
        make(8, c)
        assert not _same_files(a, c)


def test_parser_reproduces_ground_truth(tmp_path):
    for make, fastq in ((_small_reads, True), (_contigs, False)):
        out = tmp_path / make.__name__
        truth = make(3, out)
        parsed = [
            corpus.truth_row(rec[0], rec[1])
            for name in sorted(os.listdir(out))
            for rec in parser.parse_file(str(out / name), fastq)
        ]
        assert parsed == truth


def test_reads_have_the_hard_cases(tmp_path):
    """N bases, and quality strings that start with '@' or '+'."""
    out = tmp_path / "r"
    truth = _small_reads(5, out)
    assert sum(t[3] for t in truth) > 0
    firsts = {
        rec[2][0]
        for name in os.listdir(out)
        for rec in parser.parse_file(str(out / name), True)
    }
    assert {"@", "+"} <= firsts


def test_contig_lengths_do_not_depend_on_the_seed(tmp_path):
    a = _contigs(1, tmp_path / "a")
    b = _contigs(2, tmp_path / "b")
    assert sorted(t[1] for t in a) == sorted(t[1] for t in b) == sorted(
        corpus.CONTIG_LENGTHS
    )
    text = (tmp_path / "a" / "assembly.fasta").read_text()
    assert "n" in text and "N" in text  # soft-masked runs and N gaps


# Shape features that vary with the seed, and how far a generated table
# may sit from the measured test tables: relative, or absolute (abs).
# Every other feature must match exactly.
SHAPE_TOLERANCE = {
    "words_mean": 0.05, "shingle_jaccard_median": 0.05, "en_frac": 0.15,
    "near_dup_doc_frac": 0.35, "shingle_jaccard_ge_0.5_pairs": 0.35,
    "per_user_min": 0.25, "per_user_median": 0.05, "per_user_max": 0.2,
    "lines_per_order_mean": 0.05, "extendedprice_median": 0.03,
}
SHAPE_ABS_TOLERANCE = {
    "words_max": 1, "exact_dup_frac": 0.01, "corr_quantity_price": 0.05,
    "same_minus_other_label_cosine": 0.01,
}


def test_catalog_tables_follow_the_measured_shape(tmp_path):
    design = json.loads((HERE / "design.json").read_text())
    want = design["catalog_shape"]["sf0.01"]
    for seed in (11, 12):
        got = tables.shape(tables.build(seed, str(tmp_path)))
        assert got.keys() == want.keys()
        for table, features in want.items():
            for k, w in features.items():
                g = got[table][k]
                if k in SHAPE_TOLERANCE:
                    assert abs(g - w) <= SHAPE_TOLERANCE[k] * abs(w), (seed, table, k, g, w)
                else:
                    assert abs(g - w) <= SHAPE_ABS_TOLERANCE.get(k, 0), (seed, table, k, g, w)


def test_catalog_tables_same_seed_same_bytes(tmp_path):
    a = Path(tables.build(4, str(tmp_path / "a")))
    b = Path(tables.build(4, str(tmp_path / "b")))
    assert _same_files(a, b)
