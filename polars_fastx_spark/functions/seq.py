"""The ``seq`` namespace — sequence-analysis functions, Spark-first.

Mirrors the reference's Polars expression namespace
(reference: src/polars_fastx/fastx_parsers.py:11-67). Everything runs
JVM-side; no Python UDF is on the hot path. The reference implements
codon_usage, generate_hash and kmer frequencies as per-row Python
callbacks (``map_elements`` at fastx_parsers.py:41,50,65-67), which
re-enter Python per record; here the same semantics compile to Catalyst
higher-order functions over arrays/maps, so they scale with executor
parallelism.

The stats expressions (length, gc_content, n_count, generate_hash,
codon_usage, kmer_frequencies), translate_protein and longest_orf are
each ONE Spark SQL text template (the ``*_sql`` functions), handed to
the JVM in one parse through
:func:`~polars_fastx_spark.functions.exprs.let_sql`. Polars builds its
expressions in-process for free; here every ``Column`` node built
through the Python API is 5-7 py4j round trips, and the node-by-node
trees cost ~1,500 round trips and 0.22 s per ``fasta_stats_frame`` build
(finalizer deletes included) — more driver time than the executor spent
on the warm pass. From the templates it is 15 round trips and 0.06 s.
``pipeline.fasta_stats_frame`` renders the same templates straight into
one ``filter`` and one ``selectExpr``.

Exact semantics preserved (SURVEY.md §2.8):

- ``gc_content`` is **case-sensitive** ('G' + 'C' literal counts,
  fastx_parsers.py:19) with char length as the denominator (including
  N's); empty sequence → null (Polars yields NaN from 0/0; we document
  null — the ANSI-safe choice).
- ``n_count`` counts literal uppercase 'N' only (fastx_parsers.py:24).
- ``codon_usage``: non-overlapping 3-mers from frame 0
  (``range(0, len-2, 3)``, fastx_parsers.py:34), uppercased; codons
  containing 'N' skipped; relative frequencies over kept codons; empty
  map when nothing kept.
- ``kmer_frequencies``: overlapping k-mers (fastx_parsers.py:58),
  uppercased, 'N'-containing skipped, relative frequencies, empty map
  when ``len < k``.
- Both maps take their tokens from one regex pass per row (O(len)),
  each token uppercased on its own like the reference's
  ``seq[i:i+k].upper()``; positions are code points, as in Python.
- ASCII rows skip Spark's ``upper``. The first ``upper`` in a JVM runs
  ICU's case mapper (``spark.sql.icu.caseMappings.enabled``, on by
  default), which initializes ``CollationAwareUTF8String``; that class
  initializer fills ``codepointOneToManyTitleCaseLookupTable`` from all
  1,114,112 code points, ~1.7 s, which was most of a one-shot
  ``fasta_stats`` task. A row whose code points are all ASCII
  (``octet_length = length``) is uppercased by ``translate`` instead,
  which is exact there; any other row keeps ``upper``, exact where an
  uppercase expands (``ß`` → ``SS``). The ICU conf stays on: off, the
  non-ASCII rows would depend on the JVM's default locale.
  :func:`_ascii_upper_sql` makes the choice for every ``seq`` function
  that uppercases.
- ``generate_hash``: md5 hexdigest of UTF-8 bytes truncated to the first
  ``length`` hex chars (fastx_parsers.py:47-48).

The ragged per-row dicts the reference shoehorns into ``pl.Struct``
(fastx_parsers.py:41,66) are modeled as ``MapType(string, double)`` —
Spark structs need fixed fields, maps are the faithful representation
(SURVEY.md §1.2).

A ``pandas_udf`` transliteration of the reference's Python lives in
``tests/seq_udf_ref.py`` purely as a cross-check twin for tests
(SURVEY.md §5.3).
"""

from __future__ import annotations

import string
from collections.abc import Callable
from functools import partial

from pyspark.sql import Column
from pyspark.sql import functions as F

from polars_fastx_spark.functions.exprs import let_sql, sql_str


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def length_sql(s: str) -> str:
    """SQL text of :func:`length` over the SQL text ``s``."""
    return f"CAST(length({s}) AS BIGINT)"


def length(c: Column | str) -> Column:
    """Sequence character length (reference fastx_parsers.py:26-28)."""
    return let_sql(c, length_sql)


def count_matches(c: Column | str, literal: str) -> Column:
    """Count non-overlapping occurrences of a 1-char literal (K7).

    Implemented as length delta under ``translate`` — stays in codegen,
    no regex engine.
    """
    if len(literal) != 1:
        # general literal: regexp-based count with the literal quoted
        import re

        return F.regexp_count(_col(c), F.lit(re.escape(literal))).cast("bigint")
    col = _col(c)
    return (F.length(col) - F.length(F.translate(col, literal, ""))).cast("bigint")


def gc_content_sql(s: str) -> str:
    """SQL text of :func:`gc_content` over the SQL text ``s``."""
    return (
        f"(length({s}) - length(translate({s}, 'GC', ''))) "
        f"/ nullif(length({s}), 0)"
    )


def gc_content(c: Column | str) -> Column:
    """(count('G') + count('C')) / char_length, case-sensitive (K2).

    Empty sequence → null (guarded division; ANSI mode would otherwise
    raise on 0/0).
    """
    return let_sql(c, gc_content_sql)


def n_count_sql(s: str) -> str:
    """SQL text of :func:`n_count` over the SQL text ``s``."""
    return f"CAST(length({s}) - length(translate({s}, 'N', '')) AS BIGINT)"


def n_count(c: Column | str) -> Column:
    """Count of literal uppercase 'N' (K3)."""
    return let_sql(c, n_count_sql)


def generate_hash_sql(s: str, hash_length: int = 32) -> str:
    """SQL text of :func:`generate_hash` over the SQL text ``s``."""
    return f"substring(md5(encode({s}, 'UTF-8')), 1, {int(hash_length)})"


def generate_hash(c: Column | str, hash_length: int = 32) -> Column:
    """md5 hexdigest truncated to ``hash_length`` hex chars (K4).

    Pure built-in (``md5`` over UTF-8 bytes) — the reference does this
    per-row in Python (fastx_parsers.py:47-50).
    """
    return let_sql(c, partial(generate_hash_sql, hash_length=hash_length))


def _let_sql(value: str, var: str, body: str) -> str:
    """SQL text of ``let var = value in body``: ``value`` evaluates
    once per row however often ``body`` reads ``var`` (see
    :mod:`~polars_fastx_spark.functions.exprs`)."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _freq_map_sql(tokens: str) -> str:
    """tokens array<string> → map<token, relative_frequency>.

    Run-length counting over a sorted copy: O(n log n) per row and ~4n
    lambda evaluations, n = number of tokens (higher-order functions
    are interpreted, not codegen'd, so per-element cost matters — a
    naive count-each-distinct scheme is O(n·d) and collapses on
    high-cardinality token sets like text k-mers). The sort is
    ``sort_array`` (a native comparator), not ``array_sort``, whose
    comparator is an interpreted lambda; the tokens are null-free after
    the 'N' filter, so both give the same order. Row-local and
    shuffle-free, so it parallelizes embarrassingly at any scale; keys
    come out sorted, giving deterministic to_json renderings.

    Run-length over the sorted array ``__srt`` in O(n): the run starts
    ``__st`` (positions whose token differs from the one before), zipped
    with the next run's start, give one (token, run length / total)
    entry per distinct token. The boundary test is a CASE, not an OR, so
    ``element_at(__srt, 0)`` is never evaluated.

    CRITICAL let-bindings: higher-order lambdas re-evaluate their input
    EXPRESSION per element, so ``element_at`` over the sort expression
    inside a lambda would re-sort the array n times (O(n² log n),
    measured ~0.2 s/row). Lambda VARIABLES are bound values, so the
    sorted array is bound once through a single-element ``transform``
    and the inner ``element_at`` calls against it are O(1). The run
    starts are bound the same way: they are read three times (slice,
    size, zip_with), which inlined would be three O(n) boundary filters
    per row. (A fold-based alternative avoids the binding but copies its
    accumulator array per element — O(n·d) — measured 2.4x slower on
    4-mers at sf0.1.)
    """
    runs = _let_sql(
        "filter(sequence(1, size(__srt)), "
        "__i -> CASE WHEN __i = 1 THEN true "
        "ELSE element_at(__srt, __i) != element_at(__srt, __i - 1) END)",
        "__st",
        "map_from_entries(zip_with(__st, "
        "concat(slice(__st, 2, greatest(size(__st) - 1, 0)), array(size(__srt) + 1)), "
        "(__s, __e) -> named_struct('key', element_at(__srt, __s), "
        "'value', (__e - __s) / size(__srt))))",
    )
    empty = (
        "map_from_arrays(CAST(array() AS ARRAY<STRING>), "
        "CAST(array() AS ARRAY<DOUBLE>))"
    )
    return _let_sql(
        f"sort_array(filter({tokens}, __x -> NOT contains(__x, 'N')))", "__srt",
        f"CASE WHEN size(__srt) > 0 THEN {runs} ELSE {empty} END",
    )


def _ascii_upper_sql(s: str, ascii_body: Callable[[str], str], other: str) -> str:
    """``ascii_body(t)``, ``t`` the SQL text of ``s`` uppercased by
    ``translate``, on a row whose code points are all ASCII (its byte
    and code-point lengths are equal); ``other`` on any other row, null
    included. ``s`` must be an identifier or a lambda variable: the
    template reads it several times.

    Every place the ``seq`` namespace uppercases goes through here, so
    they all make the same choice; the module docstring says why ASCII
    rows skip ``upper``.
    """
    upper = (
        f"translate({s}, {sql_str(string.ascii_lowercase)}, "
        f"{sql_str(string.ascii_uppercase)})"
    )
    return (
        f"CASE WHEN octet_length({s}) = length({s}) "
        f"THEN {ascii_body(upper)} ELSE {other} END"
    )


def _upper_sql(s: str) -> str:
    """SQL text of ``upper(s)``, ICU-free on all-ASCII rows (see
    :func:`_ascii_upper_sql`)."""
    return _ascii_upper_sql(s, lambda t: t, f"upper({s})")


def _tokens_sql(s: str, pattern: str) -> str:
    """Every group-1 capture of ``pattern`` in one left-to-right regex
    pass, each token uppercased on its own.

    One pass is O(len) per row. The per-position alternative,
    ``substring(col, i, k)`` for every start ``i``, is O(len²): Spark
    strings are UTF-8, so each substring walks the bytes from the start
    of the string to reach code point ``i``. Uppercasing per token, not
    the whole string first, matches the reference's
    ``seq[i:i+k].upper()``: a character that grows when uppercased
    (``ß`` → ``SS``) would otherwise shift every later token.

    An all-ASCII row is the exception: no ASCII character grows, so its
    tokens come from one pass over the string uppercased once by
    ``translate``, and it never calls ``upper``. Spark's first ``upper``
    in a JVM initializes ``CollationAwareUTF8String``, whose class
    initializer fills ``codepointOneToManyTitleCaseLookupTable`` from
    all 1,114,112 code points: ~1.7 s, most of a one-shot
    ``fasta_stats`` task. Other rows keep the per-token ``upper``, and
    ``spark.sql.icu.caseMappings.enabled`` stays on: off, their case
    mapping would follow the JVM's default locale.
    """
    pat = sql_str(pattern)
    return _ascii_upper_sql(
        s,
        lambda t: f"regexp_extract_all({t}, {pat}, 1)",
        f"transform(regexp_extract_all({s}, {pat}, 1), __u -> upper(__u))",
    )


def codon_usage_sql(s: str) -> str:
    """SQL text of :func:`codon_usage` over the SQL text ``s``."""
    return _freq_map_sql(_tokens_sql(s, "(?s)(.{3})"))


def codon_usage(c: Column | str) -> Column:
    """Relative frequencies of non-overlapping frame-0 codons (K5).

    map<string,double>; uppercased; codons containing 'N' skipped; empty
    map when the sequence holds no complete codon (null input included).
    The codons are the ``floor(len/3)`` matches of ``(?s)(.{3})`` — one
    regex pass, O(len) per row; see :func:`_tokens_sql` for why one
    substring per codon was O(len²).
    """
    return let_sql(c, codon_usage_sql)


def kmer_frequencies_sql(s: str, k: int = 3) -> str:
    """SQL text of :func:`kmer_frequencies` over the SQL text ``s``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _freq_map_sql(_tokens_sql(s, f"(?s)(?=(.{{{int(k)}}}))."))


def kmer_frequencies(c: Column | str, k: int = 3) -> Column:
    """Relative frequencies of overlapping k-mers (K6).

    map<string,double>; uppercased; k-mers containing 'N' skipped; empty
    map when ``len(seq) < k`` (null input included). Each match of
    ``(?s)(?=(.{k})).`` captures the k-mer at one start in a lookahead
    and then consumes exactly one code point, so one regex pass yields
    all ``len - k + 1`` k-mers in O(len) per row (len·k character steps
    for the fixed k); see :func:`_tokens_sql` for why one substring per
    start was O(len²). The consumed ``.`` keeps starts on code points: a
    bare zero-width ``(?=(.{k}))`` makes the matcher step one UTF-16
    unit after each match, which lands inside the surrogate pair of a
    non-BMP character (e.g. an emoji) and emits extra k-mers beginning
    with a lone surrogate.
    """
    return let_sql(c, partial(kmer_frequencies_sql, k=k))


#: ``translate`` pairs of :func:`reverse_complement`
_COMPLEMENT = ("ACGTacgtRYKMrykmBVDHbvdh", "TGCAtgcaYRMKyrmkVBHDvbhd")
#: an open reading frame in protein space: start, no stop, stop
_ORF_PATTERN = r"M[^*]*\*"


def reverse_complement(c: Column | str) -> Column:
    """Reverse complement of a DNA sequence — the strand flip every
    FASTX pipeline needs (the reference's seq namespace lacks it; a
    needletail-backed engine gets it from Rust, here it is two codegen
    string ops): ``translate`` swaps complement pairs (case-preserving,
    IUPAC ambiguity codes included; characters outside the alphabet —
    e.g. N, gaps — map to themselves where undefined pairs exist) and
    ``reverse`` flips the order.
    """
    fwd, rev = _COMPLEMENT
    return F.reverse(F.translate(_col(c), fwd, rev))


def transcribe(c: Column | str) -> Column:
    """DNA → RNA transcription of the coding strand (T→U, case kept)."""
    return F.translate(_col(c), "Tt", "Uu")


#: standard genetic code (NCBI table 1), codon -> amino acid, '*' = stop
CODON_TABLE: dict[str, str] = {"AAA": "K", "AAC": "N", "AAG": "K", "AAT": "N", "ACA": "T", "ACC": "T", "ACG": "T", "ACT": "T", "AGA": "R", "AGC": "S", "AGG": "R", "AGT": "S", "ATA": "I", "ATC": "I", "ATG": "M", "ATT": "I", "CAA": "Q", "CAC": "H", "CAG": "Q", "CAT": "H", "CCA": "P", "CCC": "P", "CCG": "P", "CCT": "P", "CGA": "R", "CGC": "R", "CGG": "R", "CGT": "R", "CTA": "L", "CTC": "L", "CTG": "L", "CTT": "L", "GAA": "E", "GAC": "D", "GAG": "E", "GAT": "D", "GCA": "A", "GCC": "A", "GCG": "A", "GCT": "A", "GGA": "G", "GGC": "G", "GGG": "G", "GGT": "G", "GTA": "V", "GTC": "V", "GTG": "V", "GTT": "V", "TAA": "*", "TAC": "Y", "TAG": "*", "TAT": "Y", "TCA": "S", "TCC": "S", "TCG": "S", "TCT": "S", "TGA": "*", "TGC": "C", "TGG": "W", "TGT": "C", "TTA": "L", "TTC": "F", "TTG": "L", "TTT": "F"}


#: amino acids by base-4 codon value (A=0, C=1, G=2, T=3), then the 'X'
#: of every codon with a base outside ACGT, as one SQL array literal
_AA_BY_INDEX_SQL = "array({})".format(", ".join(
    [sql_str(CODON_TABLE[b1 + b2 + b3])
     for b1 in "ACGT" for b2 in "ACGT" for b3 in "ACGT"] + ["'X'"]
))


def _base4_sql(ch: str) -> str:
    # a base outside ACGT (null included) maps to a sentinel that puts
    # any codon holding it past 63, not to null: a null index reaching
    # element_at inside a lambda hits a codegen NullPointerException
    return (
        f"CASE {ch} WHEN 'A' THEN 0 WHEN 'C' THEN 1 WHEN 'G' THEN 2 "
        f"WHEN 'T' THEN 3 ELSE 1000 END"
    )


def translate_protein_sql(s: str) -> str:
    """SQL text of :func:`translate_protein` over the identifier or
    lambda variable ``s``."""
    idx = " + ".join(
        f"{_base4_sql(f'element_at(__ch, __i * 3 + {j})')} * {w}"
        for j, w in ((1, 16), (2, 4), (3, 1))
    )
    n_codons = "CAST(floor(length(__s) / 3) AS INT)"
    protein = (
        f"CASE WHEN {n_codons} >= 1 THEN array_join(transform("
        f"sequence(0, {n_codons} - 1), "
        f"__i -> element_at({_AA_BY_INDEX_SQL}, least({idx}, 64) + 1)), '') "
        f"ELSE '' END"
    )
    chars = _let_sql("split(__s, '')", "__ch", protein)
    return _let_sql(
        _upper_sql(s), "__s",
        f"CASE WHEN __s IS NULL THEN CAST(NULL AS STRING) ELSE {chars} END",
    )


def translate_protein(c: Column | str) -> Column:
    """Frame-0 protein translation under the standard genetic code:
    non-overlapping uppercase codons index a 65-element array literal
    by base-4 codon value (O(1) ``element_at`` — JVM codegen, no UDF);
    codons containing N/other ambiguity translate to 'X'; stops render
    '*' and translation does NOT halt at them (whole-frame translation
    — the caller slices ORFs first if stop-terminated products are
    wanted). Trailing 1-2 leftover bases are ignored, like
    :func:`codon_usage`. NULL in → NULL out; '' for a non-null input
    shorter than one codon.

    The uppercased input and its char array are let-bound: read inside
    the per-codon lambda, either would be re-evaluated once per codon,
    O(len²) per row for a computed input such as :func:`longest_orf`'s
    frames. Chars come from a split-once array, not
    ``substring(s, i*3+1, 3)``: a UTF-8 substring walks the bytes up to
    its offset (the cost :func:`_tokens_sql` avoids). Every codon with
    a base outside ACGT lands past index 63, and ``least(…, 64)`` sends
    it to the trailing 'X'.
    """
    return let_sql(c, translate_protein_sql)


def longest_orf_sql(s: str) -> str:
    """SQL text of :func:`longest_orf` over the identifier or lambda
    variable ``s``."""
    fwd, rev = _COMPLEMENT

    def frame_max(v: str, f: int) -> str:
        frame = _let_sql(
            f"substring({v}, {f}, length({v}) - {f} + 1)", "__fr",
            translate_protein_sql("__fr"),
        )
        return (
            f"coalesce(array_max(transform(regexp_extract_all({frame}, "
            f"{sql_str(_ORF_PATTERN)}, 0), __m -> length(__m))), 0)"
        )

    best = "greatest({})".format(", ".join(
        [frame_max("__up", f) for f in (1, 2, 3)]
        + [frame_max("__rc", f) for f in (1, 2, 3)]
    ))
    strands = _let_sql(
        _upper_sql(s), "__up",
        _let_sql(
            f"reverse(translate(__up, {sql_str(fwd)}, {sql_str(rev)}))",
            "__rc", best,
        ),
    )
    # NULL in -> NULL out; 0 means "no ORF", not "no sequence"
    return (
        f"CASE WHEN {s} IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE CAST({strands} * 3 AS BIGINT) END"
    )


def longest_orf(c: Column | str) -> Column:
    """Length (in nucleotides, incl. the stop codon) of the longest
    open reading frame across all 6 frames (3 forward + 3 on the
    reverse complement); 0 when no complete ATG→stop ORF exists.

    Found in PROTEIN space: each frame translates via
    :func:`translate_protein` and ORFs are ``M[^*]*\\*`` matches — the
    regex cannot cross a stop, so within a frame every maximal ORF is
    found (an in-frame ATG inside another ORF shares its stop and is
    never longer), and frames are scanned independently so no
    cross-frame overlap is missed. Codons with ambiguity translate to
    'X' which [^*] happily spans — an ORF may contain unknown residues
    but start/stop must be certain. Pure codegen: 6 translate calls +
    6 regexp scans, zero shuffles. The uppercased sequence and its
    reverse complement are each let-bound once per row.
    """
    return let_sql(c, longest_orf_sql)


def gc_skew(c: Column | str) -> Column:
    """GC skew (G − C)/(G + C) — the strand-asymmetry signal used to
    locate replication origins; null when the sequence has no G or C
    (division guarded with nullif, ANSI-safe). Case-sensitive like
    :func:`gc_content` (reference parity: fastx_parsers.py:31-38
    counts uppercase only)."""
    col = _col(c)
    g = count_matches(col, "G")
    cc = count_matches(col, "C")
    return (g - cc) / F.nullif((g + cc).cast("double"), F.lit(0.0))


def map_as_sorted_json(m: Column | str, scale: int = 9) -> Column:
    """Canonical JSON rendering of a map<string,double> with sorted keys.

    Oracle-parity helper (SURVEY.md §4.4.7): ragged maps are compared as
    sorted-key JSON with values rounded to ``scale`` decimals.
    """
    col = _col(m)
    keys = F.array_sort(F.map_keys(col))
    parts = F.transform(
        keys,
        lambda k: F.concat(
            F.lit('"'), k, F.lit('":'),
            F.format_string(f"%.{scale}f", F.element_at(col, k)),
        ),
    )
    return F.concat(F.lit("{"), F.array_join(parts, ","), F.lit("}"))


def mean_quality(q: Column | str, offset: int = 33) -> Column:
    """Mean phred score of a FASTQ quality string (phred+33 default).

    Pure Column fold over ASCII codes — null for empty/null quality.
    (Quality analysis is the half of the FASTQ schema the reference
    parses but never computes on; reference fastx_parsers.py:91.)
    """
    col = _col(q)
    chars = F.filter(F.split(col, ""), lambda ch: ch != "")
    total = F.aggregate(
        F.transform(chars, lambda ch: F.ascii(ch) - offset),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total / F.nullif(F.length(col), F.lit(0))


def q_at_least_fraction(q: Column | str, threshold: int = 20,
                        offset: int = 33) -> Column:
    """Fraction of bases with phred quality ≥ ``threshold`` (Q20/Q30
    metrics). Null for empty/null quality."""
    col = _col(q)
    chars = F.filter(F.split(col, ""), lambda ch: ch != "")
    hits = F.size(
        F.filter(chars, lambda ch: (F.ascii(ch) - offset) >= threshold)
    )
    return hits / F.nullif(F.length(col), F.lit(0))


class SeqAccessor:
    """Fluent accessor mirroring Polars' ``pl.col("sequence").seq.*``.

    >>> from polars_fastx_spark.functions.seq import seq
    >>> df.select(seq("sequence").gc_content().alias("gc"))
    """

    def __init__(self, c: Column | str):
        self._c = c

    def length(self) -> Column:
        return length(self._c)

    def gc_content(self) -> Column:
        return gc_content(self._c)

    def n_count(self) -> Column:
        return n_count(self._c)

    def generate_hash(self, hash_length: int = 32) -> Column:
        return generate_hash(self._c, hash_length)

    def codon_usage(self) -> Column:
        return codon_usage(self._c)

    def reverse_complement(self) -> Column:
        return reverse_complement(self._c)

    def transcribe(self) -> Column:
        return transcribe(self._c)

    def translate_protein(self) -> Column:
        return translate_protein(self._c)

    def longest_orf(self) -> Column:
        return longest_orf(self._c)

    def gc_skew(self) -> Column:
        return gc_skew(self._c)

    def calculate_kmer_frequencies(self, k: int = 3) -> Column:
        return kmer_frequencies(self._c, k)

    def mean_quality(self, offset: int = 33) -> Column:
        return mean_quality(self._c, offset)

    def q_at_least_fraction(self, threshold: int = 20, offset: int = 33) -> Column:
        return q_at_least_fraction(self._c, threshold, offset)


def seq(c: Column | str) -> SeqAccessor:
    return SeqAccessor(c)


def per_cycle_quality(df, quality_col: str = "quality", offset: int = 33):
    """FastQC-style per-cycle quality: mean/min/max phred score at each
    read position across all reads — the plot that catches cycle-end
    chemistry decay. posexplode over the quality string's bytes, then
    one aggregation keyed on position: reads of any length mix freely
    (short reads simply stop contributing), and the shuffle key is the
    position, so parallelism is the read length — combine with a
    sampled input at very large scale. Returns
    (cycle 1-based, n, mean_q, min_q, max_q).
    """
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    ex = df.select(
        F.posexplode(
            F.transform(
                F.split(q, ""), lambda ch: F.ascii(ch) - offset
            )
        ).alias("pos", "phred")
    ).filter(F.col("phred").isNotNull())
    return (
        ex.groupBy((F.col("pos") + 1).alias("cycle"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("phred"), 4).alias("mean_q"),
            F.min("phred").alias("min_q"),
            F.max("phred").alias("max_q"),
        )
        .orderBy(F.col("cycle").asc_nulls_first())
    )
