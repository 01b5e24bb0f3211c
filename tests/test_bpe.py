"""operators.bpe: relational BPE merge training + encode.

Hand-computed micro-corpora pin the greedy semantics (leftmost
non-overlapping merge, count-then-lhs-then-rhs tiebreak); the catalog
oracle pins engine parity at three scales."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_fastx_spark.operators import bpe


def _docs(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_bpe_hand_computed_merges(spark):
    # 'aaab' x3: round 1 (a,a)x6 -> 'aa a b'; round 2 tie between
    # (aa,a) and (a,b) at 3 -> lhs 'a' < 'aa' wins; round 3 (aa,ab)
    d = _docs(spark, ["aaab aaab", "aaab"])
    got = [
        (r["round"], r.lhs, r.rhs, r.pair_count)
        for r in bpe.bpe_train(d, "text", 3).orderBy("round").collect()
    ]
    assert got == [(1, "a", "a", 6), (2, "a", "b", 3), (3, "aa", "ab", 3)]


def test_bpe_train_releases_its_vocabulary_state(spark, persistent_rdd_ids):
    # the rules are collected to the driver, so nothing of the training
    # state may stay cached once bpe_train returns
    d = _docs(spark, ["aaab aaab", "aaab"])
    before = persistent_rdd_ids()
    assert bpe.bpe_train(d, "text", 2).count() == 2
    assert not persistent_rdd_ids() - before


def test_bpe_merge_is_leftmost_greedy_nonoverlapping(spark):
    # 'aaaa': pair (a,a) counts 3 per word but merges to TWO tokens
    # ('aa aa'), never the overlapping three
    d = _docs(spark, ["aaaa", "aaaa"])
    rules = bpe.bpe_train(d, "text", 2).orderBy("round").collect()
    assert (rules[0].lhs, rules[0].rhs, rules[0].pair_count) == ("a", "a", 6)
    assert (rules[1].lhs, rules[1].rhs, rules[1].pair_count) == ("aa", "aa", 2)
    toks = {
        r.token: r.n for r in bpe.bpe_token_counts(d, "text", 1).collect()
    }
    assert toks == {"aa": 4}


def test_bpe_token_counts_conserve_characters(spark):
    """Merging never creates or drops characters: sum(n * len(token))
    must equal the corpus character count (whitespace excluded) at
    every merge depth."""
    d = _docs(spark, ["the cat sat", "the cat", "a cat sat on the mat"])
    total_chars = d.agg(
        F.sum(F.length(F.regexp_replace("text", r"\s+", "")))
    ).collect()[0][0]
    for k in (1, 3, 5):
        toks = bpe.bpe_token_counts(d, "text", k)
        got = toks.agg(
            F.sum(F.length("token") * F.col("n"))
        ).collect()[0][0]
        assert got == total_chars, k


def test_bpe_encode_matches_train_rules_replayed(spark):
    """Applying bpe_train's rules manually (chained greedy merge folds
    in round order) over the vocabulary must reproduce
    bpe_token_counts — train and encode cannot drift."""
    d = _docs(spark, ["banana band", "banana", "ban ban banana"])
    k = 4
    rules = bpe.bpe_train(d, "text", k).orderBy("round").collect()
    state = bpe.word_counts(d, "text").select(
        F.expr("regexp_extract_all(word, '.', 0)").alias("syms"),
        "cnt",
    )
    for r in rules:
        state = state.select(
            bpe._merge_pair(F.col("syms"), r.lhs, r.rhs).alias("syms"),
            "cnt",
        )
    manual = {
        (r.token, r.n)
        for r in state.select(
            F.explode(F.col("syms")).alias("token"), "cnt"
        )
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    }
    got = {
        (r.token, r.n)
        for r in bpe.bpe_token_counts(d, "text", k).collect()
    }
    assert got == manual


def test_bpe_rejects_bad_num_merges(spark):
    d = _docs(spark, ["ab"])
    with pytest.raises(ValueError):
        bpe.bpe_train(d, "text", 0)
    with pytest.raises(ValueError):
        bpe.bpe_token_counts(d, "text", -1)


def test_word_counts_skips_nulls_and_empties(spark):
    d = spark.createDataFrame(
        [("a a  b",), (None,), ("   ",), ("b",)], "text string"
    )
    got = {r.word: r.cnt for r in bpe.word_counts(d, "text").collect()}
    assert got == {"a": 2, "b": 2}


def test_bpe_survives_pair_exhaustion(spark):
    """Once every word is fully merged, later rounds have no pairs:
    the rule list just stops, and the vocabulary must pass through
    UNCHANGED (an empty argmax cross-joined in would erase it)."""
    d = _docs(spark, ["ab", "ab ab"])
    rules = bpe.bpe_train(d, "text", 4).collect()
    assert [(r["round"], r.lhs, r.rhs) for r in rules] == [(1, "a", "b")]
    toks = {r.token: r.n for r in bpe.bpe_token_counts(d, "text", 4).collect()}
    assert toks == {"ab": 3}


def test_bpe_random_corpora_match_python_reference(spark):
    """Randomized differential: full training runs over adversarial
    small corpora (tiny alphabets force deep merge chains and ties;
    unicode; repeated words) must match a plain-Python greedy BPE
    reference rule-for-rule and token-for-token."""
    import random

    rng = random.Random(20260815)

    def ref_bpe(texts, k):
        from collections import Counter

        words = Counter()
        for t in texts:
            for w in t.split():
                if w:
                    words[w] += 1
        state = {w: list(w) for w in words}
        rules = []
        for _ in range(k):
            pairs = Counter()
            for w, syms in state.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += words[w]
            if not pairs:
                break
            (lhs, rhs), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            rules.append((lhs, rhs, cnt))
            for w, syms in state.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == lhs
                        and syms[i + 1] == rhs
                    ):
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                state[w] = out
        toks = {}
        for w, syms in state.items():
            for s in syms:
                toks[s] = toks.get(s, 0) + words[w]
        return rules, toks

    for trial in range(4):
        alpha = ["a", "b", "c"] if trial < 2 else ["x", "y", "☃", "é"]
        texts = [
            " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(15)
        ]
        k = rng.randint(2, 7)
        d = _docs(spark, texts)
        want_rules, want_toks = ref_bpe(texts, k)
        got_rules = [
            (r.lhs, r.rhs, r.pair_count)
            for r in bpe.bpe_train(d, "text", k).orderBy("round").collect()
        ]
        assert got_rules == want_rules, (trial, k)
        got_toks = {
            r.token: r.n for r in bpe.bpe_token_counts(d, "text", k).collect()
        }
        assert got_toks == want_toks, (trial, k)


def test_bpe_apply_encodes_unseen_text(spark):
    """Inference path: rules learned on one corpus encode NEW documents
    — known merges apply in round order, unknown characters pass
    through as single-char tokens, token order follows the document."""
    train = _docs(spark, ["banana band banana", "ban ban"])
    rules = [
        (r["round"], r.lhs, r.rhs, r.pair_count)
        for r in bpe.bpe_train(train, "text", 3).orderBy("round").collect()
    ]

    def ref_encode(text, pairs):
        out = []
        for w in text.split():
            syms = list(w)
            for lhs, rhs in pairs:
                nxt, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == lhs
                        and syms[i + 1] == rhs
                    ):
                        nxt.append(lhs + rhs)
                        i += 2
                    else:
                        nxt.append(syms[i])
                        i += 1
                syms = nxt
            out.extend(syms)
        return out

    pairs = [(r[1], r[2]) for r in rules]
    unseen = [
        (0, "bandana banana"),
        (1, "zebra ban"),
        (2, "qqq"),
    ]
    new = spark.createDataFrame(unseen, "doc_id long, text string")
    got = {
        r.id: list(r.tokens)
        for r in bpe.bpe_apply(new, "doc_id", "text", rules).collect()
    }
    for i, text in unseen:
        assert got[i] == ref_encode(text, pairs), (i, text)


def test_bpe_apply_keeps_empty_docs_as_empty_token_arrays(spark):
    """Empty / whitespace-only / null-text documents must appear in the
    output with tokens=[] — not vanish (a downstream inner join on the
    encoded corpus would silently lose them). Same zero-row restore
    contract as unigram_logprob_score."""
    train = _docs(spark, ["banana band banana"])
    rules = [
        (r["round"], r.lhs, r.rhs, r.pair_count)
        for r in bpe.bpe_train(train, "text", 2).orderBy("round").collect()
    ]
    new = spark.createDataFrame(
        [(0, "ban"), (1, ""), (2, "   "), (3, None), (4, "\t\n")],
        "doc_id long, text string",
    )
    got = {
        r.id: list(r.tokens)
        for r in bpe.bpe_apply(new, "doc_id", "text", rules).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[0]  # real text still encodes
    for i in (1, 2, 3, 4):
        assert got[i] == [], i


def test_bpe_apply_matches_token_counts_on_training_corpus(spark):
    """Encoding the training corpus with its own rules must reproduce
    bpe_token_counts exactly (apply == train-state explode)."""
    from pyspark.sql import functions as F

    texts = ["banana band", "banana", "ban ban banana"]
    d = _docs(spark, [(t) for t in texts])
    k = 4
    rules = [
        (r["round"], r.lhs, r.rhs, r.pair_count)
        for r in bpe.bpe_train(d, "text", k).orderBy("round").collect()
    ]
    ids = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    applied = (
        bpe.bpe_apply(ids, "doc_id", "text", rules)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .count()
    )
    got = {r.token: r["count"] for r in applied.collect()}
    want = {
        r.token: r.n for r in bpe.bpe_token_counts(d, "text", k).collect()
    }
    assert got == want
