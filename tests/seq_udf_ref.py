"""pandas_udf transliteration of the reference's per-row Python.

These are **test oracles only** (SURVEY.md §5.3): independent
implementations of K2-K6 lifted from the reference's pure-Python bodies
(reference: src/polars_fastx/fastx_parsers.py:16-67) and wrapped as
Arrow-batched pandas UDFs. Pipelines use
:mod:`polars_fastx_spark.functions.seq` (JVM-side SQL expressions);
these exist so tests can assert the SQL path computes byte-identical
results to the reference semantics.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, MapType, StringType


def _codons_dict(s: str | None) -> dict[str, float] | None:
    # reference fastx_parsers.py:32-39
    if s is None:
        return None
    codons: dict[str, int] = defaultdict(int)
    for i in range(0, len(s) - 2, 3):
        codon = s[i : i + 3].upper()
        if "N" not in codon:
            codons[codon] += 1
    total = sum(codons.values())
    return {k: v / total for k, v in codons.items()} if total > 0 else {}


def _kmers_dict(s: str | None, k: int) -> dict[str, float] | None:
    # reference fastx_parsers.py:54-63
    if s is None:
        return None
    if not s or len(s) < k:
        return {}
    kmers: dict[str, int] = defaultdict(int)
    for i in range(len(s) - k + 1):
        km = s[i : i + k].upper()
        if "N" not in km:
            kmers[km] += 1
    total = sum(kmers.values())
    return {k2: v / total for k2, v in kmers.items()} if total > 0 else {}


@F.pandas_udf(DoubleType())
def gc_content_ref(s: pd.Series) -> pd.Series:
    # reference fastx_parsers.py:16-20 (count_matches('G')+count_matches('C'))/len
    def one(x):
        if x is None:
            return None
        if len(x) == 0:
            return None  # 0/0 — pure-SQL path yields null
        return (x.count("G") + x.count("C")) / len(x)

    return s.map(one)


@F.pandas_udf(LongType())
def n_count_ref(s: pd.Series) -> pd.Series:
    # reference fastx_parsers.py:22-24
    return s.map(lambda x: None if x is None else x.count("N"))


@F.pandas_udf(StringType())
def generate_hash_ref(s: pd.Series) -> pd.Series:
    # reference fastx_parsers.py:47-48 (full 32-char digest)
    return s.map(
        lambda x: None if x is None else hashlib.md5(x.encode()).hexdigest()[:32]
    )


@F.pandas_udf(MapType(StringType(), DoubleType()))
def codon_usage_ref(s: pd.Series) -> pd.Series:
    return s.map(_codons_dict)


def kmer_frequencies_ref(k: int = 3):
    @F.pandas_udf(MapType(StringType(), DoubleType()))
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: _kmers_dict(x, k))

    return _udf


@F.pandas_udf(StringType())
def reverse_complement_ref(s: pd.Series) -> pd.Series:
    """Arrow twin of seq.reverse_complement — per-row str.translate +
    slice-reverse, the shape a Python-first implementation would take."""
    table = str.maketrans(
        "ACGTacgtRYKMrykmBVDHbvdh", "TGCAtgcaYRMKyrmkVBHDvbhd"
    )
    return s.map(
        lambda x: x.translate(table)[::-1] if x is not None else None
    )
