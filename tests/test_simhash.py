"""operators.dedup simhash: python-reference differential + semantics.

The md5 family's catalog oracle brute-forces the SAME bit formula in
SQL, so an error shared by both engines would pass it (the BPE lesson)
— this file pins the signatures against an independent plain-Python
implementation and the Charikar-semantics properties."""

from __future__ import annotations

import hashlib
import random
import re

import pytest
from pyspark.sql import functions as F

from polars_fastx_spark.operators import dedup


def _ref_simhash_md5(text: str) -> list[int]:
    tokens = re.split(r"\s+", text.strip())
    counts = [0] * 64
    for t in tokens:
        v = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        for i in range(64):
            bit = (v >> (63 - i)) & 1
            counts[i] += 1 if bit else -1
    return [1 if c > 0 else 0 for c in counts]


def test_simhash_md5_matches_python_reference(spark):
    rng = random.Random(20260815)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "☃", "123", "a-b"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20)))
        for _ in range(60)
    ] + ["single", "  padded   whitespace  runs ",
         "tab\tseparated \t\t runs\nand  lines"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id", dedup.simhash("text", family="md5").alias("sig")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_simhash_md5(t), (i, t)


def test_simhash_locality_and_separation(spark):
    """Charikar semantics: a one-token edit moves few bits; disjoint
    vocabularies land near the 32-bit expectation."""
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "changed", 1)
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string"
    )
    sigs = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id", dedup.simhash("text", family="md5").alias("sig")
        ).collect()
    }

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert ham(sigs[0], sigs[1]) <= 10
    assert 18 <= ham(sigs[0], sigs[2]) <= 46


@pytest.mark.parametrize("family", ["md5", "xxhash64"])
def test_simhash_banding_equals_bruteforce(spark, family):
    """Pigeonhole banding is EXACT: candidate pairs at hamming <= d
    equal brute-force all-pairs hamming, for both hash families."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(12)) for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    d = 3
    got = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_duplicates(
            df, "doc_id", "text", max_distance=d, family=family
        ).collect()
    }
    sigs = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id", dedup.simhash("text", family=family).alias("sig")
        ).collect()
    }
    want = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and sum(x != y for x, y in zip(sigs[a], sigs[b])) <= d
    }
    assert got == want
