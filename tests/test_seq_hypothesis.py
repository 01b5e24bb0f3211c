"""Hypothesis differential tests (SURVEY.md §5.4): the pure-Column seq
functions vs an independent pure-Python transliteration of the
reference (reference: src/polars_fastx/fastx_parsers.py:16-67), over
arbitrary generated strings — not just DNA alphabets — so unicode,
embedded whitespace, and pathological repeats are all exercised.

One Spark job per example batch (lists of strings drawn together)
keeps runtime sane; shrinking still isolates a single failing string.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polars_fastx_spark.functions import seq as sq

# DNA-ish plus unicode and specials: multibyte chars pin char-vs-byte
# semantics (length/translate/substring count characters, md5 hashes
# UTF-8 bytes), and ß, ﬁ, ŉ grow when uppercased (SS, FI, ʼN).
ALPHABET = "ACGTNacgtn \t€ñ😀GCßﬁŉ"
#: rows drawn from here are all ASCII, and take the seq maps'
#: ``translate`` uppercase instead of ``upper``
ASCII_ALPHABET = "ACGTNacgtn"

# every batch mixes rows on both sides of the maps' ASCII test: at least
# one pure-ASCII row and at least one holding a non-ASCII character
_non_ascii = st.builds(
    lambda head, ch, tail: head + ch + tail,
    st.text(alphabet=ALPHABET, max_size=20),
    st.sampled_from([ch for ch in ALPHABET if not ch.isascii()]),
    st.text(alphabet=ALPHABET, max_size=20),
)
texts = st.builds(
    lambda odd, rows, ascii_rows: [odd, *rows, *ascii_rows],
    _non_ascii,
    st.lists(st.text(alphabet=ALPHABET, max_size=40), max_size=14),
    st.lists(st.text(alphabet=ASCII_ALPHABET, max_size=40),
             min_size=1, max_size=15),
)


def py_gc(s: str) -> float | None:
    return (s.count("G") + s.count("C")) / len(s) if s else None


def py_codons(s: str) -> dict[str, float]:
    counts: dict[str, int] = {}
    for i in range(0, len(s) - 2, 3):
        c = s[i : i + 3].upper()
        if "N" not in c:
            counts[c] = counts.get(c, 0) + 1
    total = sum(counts.values())
    return {k: v / total for k, v in counts.items()} if total else {}


def py_kmers(s: str, k: int) -> dict[str, float]:
    if len(s) < k:
        return {}
    counts: dict[str, int] = {}
    for i in range(len(s) - k + 1):
        m = s[i : i + k].upper()
        if "N" not in m:
            counts[m] = counts.get(m, 0) + 1
    total = sum(counts.values())
    return {k_: v / total for k_, v in counts.items()} if total else {}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts)
def test_seq_functions_match_python_reference(spark, batch):
    df = spark.createDataFrame([(s,) for s in batch], "sequence string")
    rows = df.select(
        "sequence",
        sq.length("sequence").alias("len"),
        sq.gc_content("sequence").alias("gc"),
        sq.n_count("sequence").alias("n"),
        sq.generate_hash("sequence").alias("h"),
        sq.codon_usage("sequence").alias("codons"),
        sq.kmer_frequencies("sequence", 3).alias("kmers"),
    ).collect()
    # row order isn't guaranteed; compare as multiset keyed by sequence
    by_seq: dict[str, list] = {}
    for r in rows:
        by_seq.setdefault(r["sequence"], []).append(r)
    for s in batch:
        r = by_seq[s].pop()
        assert r["len"] == len(s), s
        if s:
            assert math.isclose(r["gc"], py_gc(s), abs_tol=1e-12), s
        else:
            assert r["gc"] is None
        assert r["n"] == s.count("N"), s
        assert r["h"] == hashlib.md5(s.encode()).hexdigest(), s
        for got, want in ((r["codons"], py_codons(s)), (r["kmers"], py_kmers(s, 3))):
            assert set(got) == set(want), s
            for k in want:
                assert math.isclose(got[k], want[k], abs_tol=1e-12), (s, k)
