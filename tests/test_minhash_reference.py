"""MinHash signature differential against a plain-Python reference.

The md5 and perm_md5 families' oracles replay the same formulas in SQL,
so a defect shared by both engines passes the hash gate (the BPE merge
lesson) — this pins the signatures against an independent Python
implementation, and the Jaccard-estimation semantics against true set
similarity."""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F

from polars_fastx_spark.operators import dedup

P = (1 << 31) - 1


def _shingles(text: str, k: int = 5) -> list[str]:
    seen, out = set(), []
    for i in range(max(0, len(text) - k + 1)):
        s = text[i : i + k]
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _ref_md5_sig(text: str, n: int = 16) -> list:
    sh = _shingles(text)
    if not sh:
        return [None] * n
    return [
        min(hashlib.md5(f"{s}:{x}".encode()).hexdigest() for x in sh)
        for s in range(n)
    ]


def _ref_perm_md5_sig(text: str, n: int = 16) -> list:
    sh = _shingles(text)
    consts = dedup._perm_constants(n)
    if not sh:
        return [None] * n
    base = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % P for x in sh]
    return [min((a * h + b) % P for h in base) for a, b in consts]


def _texts():
    rng = random.Random(20260815)
    alpha = "abcdefg ☃é"
    out = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        for _ in range(50)
    ]
    out += ["", "abc", "abcd", "abcde", "aaaaaaaaaa",
            "tab\tseparated \t\t runs\nand  lines"]
    return out


def test_minhash_md5_signatures_match_python_reference(spark):
    texts = _texts()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id",
            dedup.minhash_signature(
                dedup.char_shingles("text", 5), 16, "md5"
            ).alias("sig"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_md5_sig(t), (i, t)


def test_minhash_perm_md5_signatures_match_python_reference(spark):
    texts = _texts()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id",
            dedup.minhash_signature(
                dedup.char_shingles("text", 5), 16, "perm_md5"
            ).alias("sig"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_perm_md5_sig(t), (i, t)


def test_minhash_estimates_jaccard(spark):
    """Semantics, not formula: across 64 hashes, signature agreement
    rate approximates true shingle-set Jaccard within ~2 standard
    errors for planted similar/dissimilar pairs."""
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a.replace("lazy", "later")       # high overlap
    c = "entirely different content with zero shared shingles here!!"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    n = 64
    sigs = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id",
            dedup.minhash_signature(
                dedup.char_shingles("text", 5), n, "perm"
            ).alias("sig"),
        ).collect()
    }

    def jac(x, y):
        sx, sy = set(_shingles(x)), set(_shingles(y))
        return len(sx & sy) / len(sx | sy)

    for i, j, x, y in ((0, 1, a, b), (0, 2, a, c)):
        est = sum(p == q for p, q in zip(sigs[i], sigs[j])) / n
        true = jac(x, y)
        se = (true * (1 - true) / n) ** 0.5
        assert abs(est - true) <= max(2.5 * se, 0.08), (i, j, est, true)
