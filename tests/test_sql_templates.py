"""Pins for the expressions built from Spark SQL text.

SQL text has literal traps the Python Column API hides: ``0.5`` is a
DECIMAL, an integer literal is INT unless cast, string literals unescape
backslashes. Each rewritten function must keep the exact value and the
``dataType`` of the Column tree it replaced, on a named column (the
template reads the column directly) and on a computed Column (the
template reads a let-bound lambda variable).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from polars_fastx_spark import catalog
from polars_fastx_spark.functions import seq as sq
from polars_fastx_spark.operators import dedup

HALF_CENTS = [0.005, -0.005, 1.115, -1.115, 2.675, -2.675, 1234.565,
              -1234.565, 99999.995, -99999.995]


def test_fp_half_cents_are_exact_bigints(spark):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(HALF_CENTS)],
                               "i int, x double")
    out = df.select("i", F.expr(catalog._fp("x")).alias("fp"))
    assert out.schema["fp"].dataType.simpleString() == "bigint"
    got = [r.fp for r in out.orderBy("i").collect()]
    assert got == [5000, -5000, 1115000, -1115000, 2675000, -2675000,
                   1234565000, -1234565000, 99999995000, -99999995000]


def test_money_aggregates_keep_double_and_half_up(spark):
    df = spark.createDataFrame([(x,) for x in (0.005, 0.005, 1.115)],
                               "x double")
    out = df.agg(catalog._dsum("x").alias("s"), catalog._davg("x").alias("a"),
                 catalog._dsum("x * (1 - x)", 4).alias("e"))
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "double", "double", "double"]
    r = out.first()
    assert r.s == 1.13  # 1.125 rounds half-up in decimal space
    assert r.a == 0.375
    # 0.004975 + 0.004975 + (1.115 * -0.115 = -0.128225) = -0.118275
    assert r.e == -0.1183


SEQ_TYPES = {
    "length": "bigint",
    "gc_content": "double",
    "n_count": "bigint",
    "generate_hash": "string",
    "codon_usage": "map<string,double>",
    "kmer_frequencies": "map<string,double>",
}


@pytest.mark.parametrize("computed", [False, True])
def test_seq_types(spark, computed):
    df = spark.createDataFrame([("ACGTN",), (None,)], "s string")
    c = F.concat(F.col("s"), F.lit("")) if computed else "s"
    out = df.select(*[getattr(sq, name)(c).alias(name) for name in SEQ_TYPES])
    assert {f.name: f.dataType.simpleString() for f in out.schema.fields} == SEQ_TYPES
    assert out.first()["generate_hash"] == hashlib.md5(b"ACGTN").hexdigest()


DEDUP_TYPES = {
    "shingles": "array<string>",
    "md5": "array<string>",
    "xxhash64": "array<bigint>",
    "perm": "array<bigint>",
    "perm_md5": "array<bigint>",
    "simhash_md5": "array<int>",
    "simhash_xxhash64": "array<int>",
}


@pytest.mark.parametrize("computed", [False, True])
def test_dedup_types(spark, computed):
    df = spark.createDataFrame([(1, "the quick brown fox"), (2, None)],
                               "doc_id long, text string")
    text = F.concat(F.col("text"), F.lit("")) if computed else "text"
    sh = dedup.char_shingles(text, 5)
    out = df.select(
        sh.alias("shingles"),
        *[dedup.minhash_signature(sh, 8, fam).alias(fam)
          for fam in ("md5", "xxhash64", "perm", "perm_md5")],
        dedup.simhash(text, family="md5").alias("simhash_md5"),
        dedup.simhash(text, family="xxhash64").alias("simhash_xxhash64"),
    )
    assert {f.name: f.dataType.simpleString() for f in out.schema.fields} == DEDUP_TYPES
    rows = out.collect()
    assert rows[1]["simhash_md5"] is None and len(rows[0]["simhash_md5"]) == 64


def test_band_table_schemas(spark):
    df = spark.createDataFrame([(1, "the quick brown fox"), (2, "abc")],
                               "doc_id long, text string")
    bands = dedup.minhash_band_table(df, "doc_id", "text", 5, 16, 4)
    assert bands.schema.simpleString() == (
        "struct<__id:bigint,band:int,band_key:string>")
    assert bands.count() == 4  # "abc" has no 5-shingle and is not banded
    sig = df.select(F.col("doc_id").alias("__id"),
                    dedup.simhash("text", family="md5").alias("__sig"))
    chunks = dedup.hamming_band_table(sig, 3)
    assert chunks.schema.simpleString() == (
        "struct<__id:bigint,__sig:array<int>,chunk:int,chunk_val:string>")
    assert sorted(len(r.chunk_val) for r in chunks.collect()) == [16] * 8
