"""Relational BPE merge-rule training (tokenizer-training primitive).

Byte-Pair Encoding (Sennrich et al., ACL 2016) learns a tokenizer by
repeatedly merging the most frequent adjacent symbol pair. The
distributed-scale trick — the same one every production tokenizer
trainer uses — is that after the first aggregation NOTHING iterates
over the corpus: rounds run over the (word, count) VOCABULARY table,
which is bounded (~millions of rows at 100 TB) regardless of corpus
size. Here each round is pure DataFrame algebra:

1. pair counts: per vocab word, adjacent symbol pairs weighted by the
   word's corpus frequency — explode + groupBy with map-side combine,
   the shuffle moves ≤ |pair vocabulary| rows;
2. argmax pair by (count DESC, lhs ASC, rhs ASC) — a bounded 1-row
   collect (the kmeans/pq_train centroid-collect pattern), broadcast
   as plan literals into
3. the merge: leftmost-greedy non-overlapping pair fusion over the
   SYMBOL ARRAY via a sequential ``F.aggregate`` fold carrying
   (emitted, pending) — an honest one-pass symbol scan.

The merge must scan SYMBOLS, not a delimiter-joined string: a literal
string replace of ``"lhs rhs"`` matches across a symbol boundary when
``rhs`` is a proper prefix of the following symbol ("c cc" + merge
(c, c) would corrupt the "cc" token), and boundary-anchored patterns
consume the shared delimiter and mis-pair runs ("a a a a a a" pairs
(1,2),(4,5) instead of greedy (1,2),(3,4),(5,6)). Caught by the
randomized differential against a plain-Python reference in
tests/test_bpe.py.

The DuckDB oracle replays the same semantics set-wise (no fold
needed): match sites conflict only in equal-symbol runs, where greedy
selects alternating sites — islands of consecutive site positions +
row-number parity (see catalog._bpe_oracle_sql).

Reference parity: the reference has no text-pipeline surface; this is
north-star extension surface per /root/repo/BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from polars_fastx_spark.session import cache_scope, persist


def word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, cnt) vocabulary: the ONE corpus-wide pass.
    Whitespace tokenization matching the text tier's convention."""
    w = F.explode(
        F.split(F.trim(F.col(text_col)), r"\s+")
    ).alias("word")
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(w)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _adjacent_pairs(syms):
    """Adjacent (lhs, rhs) symbol pairs of one symbol array."""
    n = F.size(syms)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("lhs"),
                F.element_at(syms, i + 2).alias("rhs"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))


def _merge_pair(syms, lhs: str, rhs: str):
    """Leftmost-greedy non-overlapping merge of (lhs, rhs) in one
    symbol array — a sequential fold carrying (out, pending): pending
    holds the last unmerged symbol; seeing ``rhs`` while pending is
    ``lhs`` emits the fused token and clears pending (so a freshly
    fused token can never re-match as its own left half, and runs pair
    (1,2), (3,4), ... exactly like a scan)."""
    fused = F.lit(lhs + rhs)
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("p"),
    )

    def step(acc, s):
        flush = F.when(
            acc["p"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["p"])))
        return F.when(
            acc["p"].eqNullSafe(F.lit(lhs)) & (s == F.lit(rhs)),
            F.struct(
                F.concat(acc["out"], F.array(fused)).alias("out"),
                F.lit(None).cast("string").alias("p"),
            ),
        ).otherwise(F.struct(flush.alias("out"), s.alias("p")))

    def finish(acc):
        return F.when(acc["p"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["p"]))
        )

    return F.aggregate(syms, zero, step, finish)


#: output schema of bpe_train — pair_count long to match SUM's type
_RULES_SCHEMA = "round int, lhs string, rhs string, pair_count long"


def _train(docs: DataFrame, text_col: str, num_merges: int):
    """Run the training rounds; returns (rules, final_state) where
    ``rules`` is a driver-side list of (round, lhs, rhs, pair_count)
    and ``final_state`` (word, syms, cnt) has ALL learned merges
    applied — it IS the BPE encoding of the vocabulary under the rules.

    Each round's argmax is a bounded 1-ROW collect (the same
    documented pattern as kmeans/pq_train's k-row centroid collects):
    with the winning pair driver-side, the merge compiles to a literal
    fold — no join, no per-round persist, and the plan stays SHALLOW
    (measured: the chained-lazy-frame formulation spent more driver
    time in Catalyst analysis + cache lookup than in the data, 24 s vs
    6 s for 6 rounds at sf0.1). Only the vocabulary frame is
    persisted; re-evaluating ≤ num_merges folds over it is trivial."""
    if num_merges < 1:
        raise ValueError("BPE training needs num_merges >= 1")
    vocab = word_counts(docs, text_col)
    state = persist(
        vocab.select(
            "word",
            F.expr("regexp_extract_all(word, '.', 0)").alias("syms"),
            "cnt",
        )
    )

    rules = []
    for r in range(1, num_merges + 1):
        pairs = state.select(
            F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt"
        )
        top = (
            pairs.groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(),
                F.col("lhs").asc(),
                F.col("rhs").asc(),
            )
            .limit(1)
            .first()  # bounded: exactly one winning pair per round
        )
        if top is None:
            # every word fully merged — no pairs left anywhere: the
            # rule list just stops, the state passes through unchanged
            break
        rules.append((r, top["lhs"], top["rhs"], int(top["pair_count"])))
        state = state.select(
            "word",
            _merge_pair(F.col("syms"), top["lhs"], top["rhs"]).alias("syms"),
            "cnt",
        )
    return rules, state


def bpe_train(
    docs: DataFrame, text_col: str, num_merges: int
) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules over a document corpus.

    Returns (round, lhs, rhs, pair_count): the rule learned each round
    with the corpus-weighted frequency that won it, ties broken by
    (lhs, rhs) ascending so training is fully deterministic.
    """
    with cache_scope():  # the vocabulary state dies with the rules
        rules, _ = _train(docs, text_col, num_merges)
    return docs.sparkSession.createDataFrame(rules, _RULES_SCHEMA)


def bpe_apply(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    rules: list[tuple],
) -> DataFrame:
    """Inference-time encoding of (possibly unseen) documents under
    learned merge rules: whitespace words → character symbols → each
    rule's greedy fold applied IN ROUND ORDER → tokens re-assembled in
    document order. ``rules`` is ``bpe_train`` output collected (or
    the list form ``_train`` returns): tuples whose [-3:-1] or [0:2]
    carry (lhs, rhs) — both ``(round, lhs, rhs, cnt)`` rows and bare
    ``(lhs, rhs)`` pairs work.

    Returns (id, tokens array<string>) with EVERY input document
    present: empty / whitespace-only / null-text docs encode to
    ``tokens = []`` rather than vanishing from the output (the
    zero-row restore pattern of ``unigram_logprob_score`` — a
    downstream inner join on the encoded corpus must not silently
    lose docs). One map pass over the corpus: the per-word folds
    chain as expressions (no joins beyond the left re-attach of the
    id spine, no shuffle beyond the final per-document re-assembly).
    Unknown characters simply survive as single-character tokens —
    BPE's natural OOV behavior.
    """
    pairs = []
    for r in rules:
        t = tuple(r)
        pairs.append((t[1], t[2]) if len(t) >= 3 else (t[0], t[1]))
    words = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")
    syms = F.expr("regexp_extract_all(word, '.', 0)")
    for lhs, rhs in pairs:
        syms = _merge_pair(syms, lhs, rhs)
    toks = words.select("id", "pos", syms.alias("syms"))
    encoded = (
        toks.groupBy("id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "syms"))
                ).getField("syms")
            ).alias("tokens")
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(encoded, "id", "left")
        .select(
            "id",
            F.coalesce(
                F.col("tokens"), F.array().cast("array<string>")
            ).alias("tokens"),
        )
    )


def bpe_token_counts(
    docs: DataFrame, text_col: str, num_merges: int
) -> DataFrame:
    """The encode side: corpus token vocabulary AFTER the learned
    merges — each vocabulary word's final symbol state exploded back to
    tokens, weighted by corpus word frequency. Returns (token, n).
    (Encoding unseen text at inference time is the same fold over its
    character array, applying the learned rules in round order.)"""
    _, state = _train(docs, text_col, num_merges)
    return (
        state.select(F.explode(F.col("syms")).alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
    )
