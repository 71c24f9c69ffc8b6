"""Gopher-style repetition signals + paragraph-level corpus dedup
(textstats.repetition_stats / dedup.dedup_paragraphs) at line granularity —
the catalog queries exercise token granularity over the single-line
documents table; these cover the multi-line semantics."""

from __future__ import annotations

from llm_document_parser_spark.operators.dedup import dedup_paragraphs
from llm_document_parser_spark.operators.textstats import repetition_stats


def test_repetition_stats_lines(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta\nalpha beta\ngamma delta"),
            (2, "one two three"),
            (3, "x\n\n  \nx\ny"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}

    r1 = rows[1]
    assert r1["n_units"] == 3
    assert r1["dup_unit_frac"] == 0.333333  # 1 - 2 distinct / 3 lines
    # 'alpha beta' (10 chars) appears twice → 20 of 31 unit chars duplicated
    assert r1["dup_unit_char_frac"] == 0.645161
    assert r1["top_bigram"] == "alpha beta"
    assert r1["top_bigram_count"] == 2
    # 2 * len('alpha beta') / len(text) = 20/33
    assert r1["top_bigram_char_frac"] == 0.606061

    r2 = rows[2]
    assert r2["n_units"] == 1
    assert r2["dup_unit_frac"] == 0.0
    assert r2["dup_unit_char_frac"] == 0.0
    # all bigrams tie at 1; lexicographically first wins deterministically
    assert r2["top_bigram"] == "one two"

    r3 = rows[3]
    # blank/whitespace-only lines dropped: units are x, x, y
    assert r3["n_units"] == 3
    assert r3["dup_unit_frac"] == 0.333333
    assert r3["dup_unit_char_frac"] == 0.666667


def test_repetition_stats_degenerate(spark):
    docs = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])
    r = repetition_stats(docs).collect()[0]
    assert r["n_units"] == 1
    assert r["top_bigram"] == ""  # <2 tokens → no bigram
    assert r["top_bigram_count"] == 0
    assert r["top_bigram_char_frac"] == 0.0


def test_dedup_paragraphs_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "intro\ncommon footer\nbody one"),
            (2, "body two\ncommon footer"),
            (3, "common footer"),
            (4, ""),
            (5, "dup\ndup\nunique"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}

    # first occurrences all survive, original order preserved
    assert rows[1]["deduped_text"] == "intro\ncommon footer\nbody one"
    assert rows[1]["n_kept"] == 3
    # 'common footer' first occurred in doc 1 → removed downstream
    assert rows[2]["deduped_text"] == "body two"
    assert rows[2]["n_kept"] == 1
    assert rows[3]["deduped_text"] == ""
    assert rows[3]["n_kept"] == 0
    assert rows[4]["deduped_text"] == ""
    # within-document repeats collapse to the first position too
    assert rows[5]["deduped_text"] == "dup\nunique"
    assert rows[5]["n_kept"] == 2


# ---------------------------------------------------------------------------
# Zipf fit
# ---------------------------------------------------------------------------


def test_zipf_fit_exact_small_corpus(spark):
    import math

    from llm_document_parser_spark.operators.textstats import zipf_fit

    # freq(the)=4, freq(cat)=2, freq(sat)=1 → perfect data for checking
    # against a NumPy-free closed-form OLS on (ln r, ln n)
    df = spark.createDataFrame(
        [("the cat the cat the sat the!",)], "text string"
    )
    r = zipf_fit(df).first()
    assert r["n_types"] == 3 and r["n_tokens"] == 7
    xs = [math.log(i) for i in (1, 2, 3)]
    ys = [math.log(n) for n in (4, 2, 1)]
    mx, my = sum(xs) / 3, sum(ys) / 3
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    sxx = sum((x - mx) ** 2 for x in xs)
    syy = sum((y - my) ** 2 for y in ys)
    assert r["zipf_slope"] == round(sxy / sxx, 6)
    assert r["zipf_intercept"] == round(my - sxy / sxx * mx, 6)
    assert r["zipf_r2"] == round(sxy * sxy / (sxx * syy), 6)
    assert r["top_coverage"] == 1.0


def test_zipf_fit_top_n_bounds_window(spark):
    from llm_document_parser_spark.operators.textstats import ZIPF_TOP_N, zipf_fit

    singles = " ".join(f"t{i}" for i in range(ZIPF_TOP_N))
    df = spark.createDataFrame([("a a a b b",), (singles,)], "text string")
    r = zipf_fit(df).first()
    n_tokens = 5 + ZIPF_TOP_N
    assert r["n_types"] == 2 + ZIPF_TOP_N and r["n_tokens"] == n_tokens
    # the top types are a(3), b(2) and all but two singles
    assert r["top_coverage"] == round((n_tokens - 2) / n_tokens, 6)


# ---------------------------------------------------------------------------
# vocab / OOV accounting
# ---------------------------------------------------------------------------


def test_oov_rate_hand_values(spark):
    from llm_document_parser_spark.operators.textstats import (
        build_vocab,
        oov_rate_by_group,
    )

    docs = spark.createDataFrame(
        [
            (0, "web", "the cat the dog"),  # all in-vocab (top-3)
            (1, "web", "the zebra quux"),  # 2/3 OOV
            (2, "books", "cat dog unseen"),  # 1/3 OOV
        ],
        "doc_id long, source string, text string",
    )
    vocab = build_vocab(docs, k=3)  # the(3), cat(2), dog(2)
    assert sorted(r["tok"] for r in vocab.collect()) == ["cat", "dog", "the"]
    got = {
        r["source"]: r
        for r in oov_rate_by_group(docs, vocab).collect()
    }
    web = got["web"]
    assert (web["n_docs"], web["n_tokens"], web["n_oov"]) == (2, 7, 2)
    assert web["oov_rate"] == round(2 / 7, 6)
    assert web["max_doc_oov_rate"] == round(2 / 3, 6)
    books = got["books"]
    assert books["oov_rate"] == round(1 / 3, 6)


def test_oov_vocab_join_is_broadcast(spark):
    from llm_document_parser_spark.operators.textstats import (
        build_vocab,
        oov_rate_by_group,
    )

    docs = spark.createDataFrame(
        [(0, "s", "a b c")], "doc_id long, source string, text string"
    )
    plan = (
        oov_rate_by_group(docs, build_vocab(docs, k=2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # corpus tokens never shuffle for membership
