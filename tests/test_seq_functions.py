"""K1-K7 semantics: golden file, UDF cross-check, properties (SURVEY.md §5.3-5.4)."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXTURES

from polars_fastx_spark.functions import seq as sq
from tests import seq_udf_ref as ref


@pytest.fixture(scope="module")
def golden():
    return json.loads((FIXTURES / "golden_stats.json").read_text())


@pytest.fixture(scope="module")
def seq_df(spark, golden):
    return spark.createDataFrame(
        [(g["seq_id"], g["sequence"]) for g in golden], "seq_id long, sequence string"
    ).cache()


def _collect_stats(seq_df):
    rows = seq_df.select(
        "seq_id",
        sq.length("sequence").alias("length"),
        sq.gc_content("sequence").alias("gc_content"),
        sq.n_count("sequence").alias("n_count"),
        sq.generate_hash("sequence").alias("hash"),
        sq.codon_usage("sequence").alias("codon_usage"),
        sq.kmer_frequencies("sequence", 3).alias("kmer_freq"),
    ).collect()
    return {r["seq_id"]: r for r in rows}


def _canon_map(m: dict | None) -> str:
    return json.dumps(
        {k: round(v, 9) for k, v in sorted((m or {}).items())},
        separators=(",", ":"),
    )


def test_against_golden(seq_df, golden):
    got = _collect_stats(seq_df)
    for g in golden:
        r = got[g["seq_id"]]
        assert r["length"] == g["length"], g
        if g["gc_content"] is None:
            assert r["gc_content"] is None
        else:
            assert math.isclose(r["gc_content"], g["gc_content"], abs_tol=1e-9)
        assert r["n_count"] == g["n_count"]
        assert r["hash"] == g["hash"]
        assert _canon_map(r["codon_usage"]) == g["codon_usage_json"], g["sequence"]
        assert _canon_map(r["kmer_freq"]) == g["kmer_freq_json"], g["sequence"]


def test_pure_sql_matches_reference_udf(seq_df):
    """The JVM-side path must equal the reference-transliterated pandas UDF."""
    df = seq_df.select(
        "seq_id",
        sq.gc_content("sequence").alias("gc_sql"),
        ref.gc_content_ref("sequence").alias("gc_udf"),
        sq.n_count("sequence").alias("n_sql"),
        ref.n_count_ref("sequence").alias("n_udf"),
        sq.generate_hash("sequence").alias("h_sql"),
        ref.generate_hash_ref("sequence").alias("h_udf"),
        sq.codon_usage("sequence").alias("c_sql"),
        ref.codon_usage_ref("sequence").alias("c_udf"),
        sq.kmer_frequencies("sequence", 4).alias("k_sql"),
        ref.kmer_frequencies_ref(4)("sequence").alias("k_udf"),
    )
    for r in df.collect():
        if r["gc_udf"] is None:
            assert r["gc_sql"] is None
        else:
            assert math.isclose(r["gc_sql"], r["gc_udf"], abs_tol=1e-12)
        assert r["n_sql"] == r["n_udf"]
        assert r["h_sql"] == r["h_udf"]
        assert _canon_map(r["c_sql"]) == _canon_map(r["c_udf"])
        assert _canon_map(r["k_sql"]) == _canon_map(r["k_udf"])


def test_hash_length_truncation(spark):
    df = spark.createDataFrame([("ACGT",)], "sequence string")
    r = df.select(
        sq.generate_hash("sequence", 8).alias("h8"),
        sq.generate_hash("sequence", 32).alias("h32"),
    ).first()
    assert len(r["h8"]) == 8
    assert r["h32"].startswith(r["h8"])  # prefix-stable (SURVEY.md §5.4)


def test_properties_random(spark):
    """Property invariants over random ACGTNacgtn sequences (SURVEY.md §5.4)."""
    import random

    rng = random.Random(7)
    seqs = [
        "".join(rng.choice("ACGTNacgtn") for _ in range(rng.randint(0, 60)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(s,) for s in seqs], "sequence string")
    rows = df.select(
        "sequence",
        sq.gc_content("sequence").alias("gc"),
        sq.codon_usage("sequence").alias("codons"),
        sq.kmer_frequencies("sequence", 3).alias("kmers"),
    ).collect()
    for r in rows:
        s = r["sequence"]
        if s:
            assert 0.0 <= r["gc"] <= 1.0
        else:
            assert r["gc"] is None
        for m in (r["codons"], r["kmers"]):
            if m:
                assert math.isclose(sum(m.values()), 1.0, abs_tol=1e-9)
            assert all("N" not in k for k in m)
            assert all(k == k.upper() for k in m)


def test_count_matches_multichar(spark):
    df = spark.createDataFrame([("abcabcabc",)], "s string")
    assert df.select(sq.count_matches("s", "abc").alias("c")).first()["c"] == 3
    assert df.select(sq.count_matches("s", "b").alias("c")).first()["c"] == 3


def test_quality_metrics(spark):
    """Phred quality metrics hand-checked: '!'=Q0, '5'=Q20, 'I'=Q40."""
    df = spark.createDataFrame(
        [("!!II",), ("5555",), ("",), (None,)], "q string"
    )
    rows = df.select(
        "q",
        sq.mean_quality("q").alias("mq"),
        sq.q_at_least_fraction("q", 20).alias("q20"),
        sq.q_at_least_fraction("q", 30).alias("q30"),
    ).collect()
    by_q = {r["q"]: r for r in rows}
    assert by_q["!!II"]["mq"] == 20.0  # (0+0+40+40)/4
    assert by_q["!!II"]["q20"] == 0.5 and by_q["!!II"]["q30"] == 0.5
    assert by_q["5555"]["mq"] == 20.0 and by_q["5555"]["q20"] == 1.0
    assert by_q["5555"]["q30"] == 0.0
    assert by_q[""]["mq"] is None and by_q[""]["q20"] is None
    assert by_q[None]["mq"] is None


def test_per_cycle_quality_matches_hand_computation(spark):
    from polars_fastx_spark.functions.seq import per_cycle_quality

    # reads of uneven length; phred+33: 'I'=40, '#'=2, '5'=20
    df = spark.createDataFrame(
        [("II#",), ("5I",)], "quality string"
    )
    rows = {r.cycle: (r.n, r.mean_q, r.min_q, r.max_q)
            for r in per_cycle_quality(df).collect()}
    assert rows == {
        1: (2, 30.0, 20, 40),   # 40, 20
        2: (2, 40.0, 40, 40),   # 40, 40
        3: (1, 2.0, 2, 2),      # short read stops contributing
    }


def test_map_as_sorted_json_canonicalizes(spark):
    """§4.4.7 helper: sorted keys + fixed-scale values — identical text
    for maps built in any order."""
    from polars_fastx_spark.functions.seq import map_as_sorted_json

    df = spark.createDataFrame([(1,)], "id int").select(
        map_as_sorted_json(
            F.map_from_arrays(
                F.array(F.lit("b"), F.lit("a")),
                F.array(F.lit(0.5), F.lit(0.25)),
            ),
            scale=2,
        ).alias("j")
    )
    assert df.collect()[0]["j"] == '{"a":0.25,"b":0.50}'


def test_reverse_complement_basic(spark):
    from polars_fastx_spark.functions.seq import reverse_complement, transcribe
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("ACGTN",), ("acgt",), ("GATTACA",)], "s string"
    )
    got = [r["rc"] for r in df.select(
        reverse_complement("s").alias("rc")).collect()]
    assert got == ["NACGT", "acgt", "TGTAATC"]
    rna = [r["u"] for r in df.select(transcribe("s").alias("u")).collect()]
    assert rna == ["ACGUN", "acgu", "GAUUACA"]


def test_reverse_complement_involution(spark):
    # revcomp(revcomp(x)) == x for pure unambiguous DNA
    from polars_fastx_spark.functions.seq import reverse_complement
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("ACGTTGCAacgt",)], "s string")
    rr = df.select(
        reverse_complement(reverse_complement("s")).alias("rr"), "s"
    ).collect()[0]
    assert rr["rr"] == rr["s"]


def test_reverse_complement_matches_udf_twin(spark):
    from pyspark.sql import functions as F
    from tests import seq_udf_ref as ref
    from polars_fastx_spark.functions.seq import reverse_complement

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mismatches = (
        d.select(
            reverse_complement("text").alias("a"),
            ref.reverse_complement_ref("text").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mismatches == 0


def test_translate_protein_known_cases(spark):
    from polars_fastx_spark.functions.seq import translate_protein

    df = spark.createDataFrame(
        [("ATGGCCTAA",),   # M A *
         ("atgtggtga",),   # case-insensitive: M W *
         ("ATGNNNAAA",),   # ambiguity codon -> X
         ("AC",), ("",)],  # too short -> empty
        "s string",
    )
    got = [r["p"] for r in df.select(
        translate_protein("s").alias("p")).collect()]
    assert got == ["MA*", "MW*", "MXK", "", ""]


def test_longest_orf_hand_cases(spark):
    from polars_fastx_spark.functions.seq import longest_orf

    df = spark.createDataFrame(
        [("ATGAAATAA",),       # 9 nt, frame 0
         ("xATGAAATAAx",),     # shifted frame, still 9
         ("TTACATTTTCAT",),    # only on the reverse complement: 12
         ("ATGAAA",),          # no stop -> not an ORF
         ("ACGTACGT",), ("",)],
        "s string",
    )
    got = [r["o"] for r in df.select(longest_orf("s").alias("o")).collect()]
    assert got == [9, 9, 12, 0, 0, 0]


def test_longest_orf_picks_longest_across_frames(spark):
    from polars_fastx_spark.functions.seq import longest_orf

    # frame 0 has a 9-nt ORF; frame 1 hides a 15-nt ORF overlapping it
    s = "ATGAAATAA" + "x" + "ATGAAAAAAAAATAG"
    df = spark.createDataFrame([(s,)], "s string")
    assert df.select(longest_orf("s").alias("o")).collect()[0]["o"] == 15


def test_gc_skew_hand_cases(spark):
    from polars_fastx_spark.functions.seq import gc_skew

    df = spark.createDataFrame(
        [("GGGC",), ("GC",), ("AT",), ("gc",)], "s string"
    )
    got = [r["k"] for r in df.select(gc_skew("s").alias("k")).collect()]
    assert got[0] == pytest.approx(0.5)   # (3-1)/4
    assert got[1] == pytest.approx(0.0)
    assert got[2] is None                 # no G or C -> null, not 0/0
    assert got[3] is None                 # case-sensitive like gc_content


def test_n50_catalog_query_hand_check(spark):
    # N50 definition check against the catalog query's own machinery:
    # lengths 10,10,30,50 -> total 100, desc cumsum 50,80,90,100;
    # half-total 50 reached at the first row -> N50 = 50
    from polars_fastx_spark.catalog import QUERIES
    import tempfile, os

    td = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, "A" * n) for i, n in enumerate((10, 10, 30, 50))],
        "doc_id long, text string",
    ).write.parquet(os.path.join(td, "documents.parquet"))
    row = QUERIES["k_n50"].fn(spark, td).collect()[0]
    assert (row["n_seqs"], row["total_bp"], row["n50"]) == (4, 100, 50)


def test_translate_and_orf_propagate_null(spark):
    """NULL sequence -> NULL protein / NULL orf length, matching
    Spark/Polars null semantics (not ''/0)."""
    from polars_fastx_spark.functions.seq import longest_orf, translate_protein

    df = spark.createDataFrame([(None,), ("ATGTAA",), ("",)], "s string")
    rows = df.select(
        translate_protein("s").alias("p"), longest_orf("s").alias("o")
    ).collect()
    got = [(r["p"], r["o"]) for r in rows]
    assert got[0] == (None, None)
    assert got[1] == ("M*", 6)
    assert got[2] == ("", 0)


#: rows whose code points and case mapping trip position arithmetic:
#: null, shorter than k, lowercase with N, embedded newline, ASCII with
#: one non-ASCII character, characters that grow when uppercased
#: (ß -> SS, ﬁ -> FI) and non-BMP emoji (two UTF-16 units, one code
#: point). The all-ASCII rows are uppercased by ``translate``, the
#: others by ``upper``.
CODE_POINT_ROWS = [None, "", "A", "AC", "acgtnNACGTacgn", "AC\nGT\nNAC",
                   "ACGTacgtNé", "straße straße", "ßßßß", "ﬁﬁﬁacg", "😀ACG😀T"]


def test_codon_kmer_code_point_parity(spark):
    """codon_usage and kmer_frequencies (k = 1..4) equal the Python
    reference exactly, code point for code point, on both sides of the
    ASCII test; null gives the empty map. The k-mer regex must consume
    one code point per match: the bare zero-width lookahead steps into
    the emoji's surrogate pair and emits extra k-mers, which the last
    assertion pins."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CODE_POINT_ROWS)], "i int, s string"
    )
    ks = (1, 2, 3, 4)
    bare = F.expr(sq._freq_map_sql(sq._tokens_sql("s", "(?s)(?=(.{3}))")))
    rows = df.select(
        "i",
        sq.codon_usage("s").alias("codons"),
        *[sq.kmer_frequencies("s", k).alias(f"k{k}") for k in ks],
        bare.alias("bare3"),
    ).orderBy("i").collect()
    for s, r in zip(CODE_POINT_ROWS, rows):
        assert r["codons"] == (ref._codons_dict(s) or {}), repr(s)
        for k in ks:
            assert r[f"k{k}"] == (ref._kmers_dict(s, k) or {}), (repr(s), k)
    emoji = rows[CODE_POINT_ROWS.index("😀ACG😀T")]
    assert emoji["bare3"] != ref._kmers_dict("😀ACG😀T", 3)
    assert any(key.startswith("?") for key in emoji["bare3"])


def test_kmer_frequencies_rejects_k_below_one():
    with pytest.raises(ValueError, match="k must be >= 1"):
        sq.kmer_frequencies("s", 0)


def _py_translate(s: str | None) -> str | None:
    """Frame-0 translation of ``s.upper()``, 'X' for any codon outside
    the table."""
    if s is None:
        return None
    u = s.upper()
    return "".join(sq.CODON_TABLE.get(u[i:i + 3], "X")
                   for i in range(0, len(u) - 2, 3))


def _py_longest_orf(s: str | None) -> int | None:
    import re

    if s is None:
        return None
    up = s.upper()
    rc = up.translate(str.maketrans(*sq._COMPLEMENT))[::-1]
    prots = [_py_translate(strand[f:]) for strand in (up, rc) for f in range(3)]
    return 3 * max([len(m) for p in prots for m in re.findall(sq._ORF_PATTERN, p)],
                   default=0)


def test_translate_and_orf_code_point_parity(spark):
    """translate_protein and longest_orf uppercase through the same
    ASCII-first helper as the maps, and equal Python twins on the same
    rows."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CODE_POINT_ROWS)], "i int, s string"
    )
    rows = df.select(
        "i",
        sq.translate_protein("s").alias("protein"),
        sq.longest_orf("s").alias("orf"),
    ).orderBy("i").collect()
    for s, r in zip(CODE_POINT_ROWS, rows):
        assert r["protein"] == _py_translate(s), repr(s)
        assert r["orf"] == _py_longest_orf(s), repr(s)


_FASTA_STATS_SNIPPET = """
from polars_fastx_spark.pipeline import fasta_stats
fasta_stats(spark, {fasta!r}, {out!r})
"""

#: soft-masked lowercase and N runs, as an assembly has them
_ASCII_RECORDS = [">ctg1\nACGTACGTnnnnNNNNNNacgtacgtaATGAAATAA\n",
                  ">ctg2 soft-masked\nacgtacgtacgtNNNNACGTTTTAGGGCCC\n"]


@pytest.mark.parametrize("extra, initialized", [
    ("", False),
    (">odd\nACGßTAGGC\n", True),
])
def test_fasta_stats_on_ascii_skips_the_icu_case_mapper(
    tmp_path, extra, initialized
):
    """A fresh session's ``fasta_stats`` over an all-ASCII FASTA never
    initializes ``CollationAwareUTF8String``: its class initializer,
    which ICU ``upper`` runs first, costs a JVM ~1.7 s. One non-ASCII
    record still takes ``upper``, and initializes it."""
    from tests.conftest import jvm_initialized_classes

    fasta = tmp_path / "in.fasta"
    fasta.write_text("".join(_ASCII_RECORDS) + extra)
    snippet = _FASTA_STATS_SNIPPET.format(fasta=str(fasta), out=str(tmp_path / "out"))
    classes = jvm_initialized_classes(snippet, tmp_path)
    assert "org/apache/spark/unsafe/types/UTF8String" in classes
    assert list((tmp_path / "out").glob("*.csv"))
    assert (
        "org/apache/spark/sql/catalyst/util/CollationAwareUTF8String" in classes
    ) is initialized
