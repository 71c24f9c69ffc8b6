"""Unigram LM scoring: hand-computed values, OOV tokens, and the
broadcast (map-side scoring) plan shape.
Cross-engine value parity on the corpus lives in the ``doc_unigram_logprob``
catalog oracle."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from llm_document_parser_spark.operators.lm import (
    score_unigram_logprob,
    train_unigram_lm,
)
from plan_nodes import class_name, node_classes, plan_nodes


def _corpus(spark):
    rows = [("d1", "a a b"), ("d2", "a c")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_train_and_score_hand_values(spark):
    # counts: a=3, b=1, c=1, total=5
    df = _corpus(spark)
    lm = train_unigram_lm(df, "text")
    got = {r["token"]: r["logp"] for r in lm.collect()}
    assert got["a"] == math.log(3 / 5)
    assert got["b"] == math.log(1 / 5)
    scored = {
        r["doc_id"]: r
        for r in score_unigram_logprob(df, lm, "doc_id", "text").collect()
    }
    assert scored["d1"]["n_tokens"] == 3
    want_d1 = round(-(2 * math.log(3 / 5) + math.log(1 / 5)) / 3, 6)
    assert scored["d1"]["avg_neg_logp"] == want_d1
    want_d2 = round(-(math.log(3 / 5) + math.log(1 / 5)) / 2, 6)
    assert scored["d2"]["avg_neg_logp"] == want_d2


def test_oov_floor(spark):
    df = _corpus(spark)
    lm = train_unigram_lm(df.filter(F.col("doc_id") == "d1"), "text")  # no 'c'
    scored = {
        r["doc_id"]: r
        for r in score_unigram_logprob(df, lm, "doc_id", "text").collect()
    }
    # d2 = [a, c]; c is OOV: no floor score, it drops via the inner join
    assert scored["d2"]["n_tokens"] == 1
    assert scored["d2"]["avg_neg_logp"] == round(-math.log(2 / 3), 6)


def test_scoring_is_broadcast(spark):
    df = _corpus(spark)
    lm = train_unigram_lm(df, "text")
    nodes = node_classes(score_unigram_logprob(df, lm, "doc_id", "text"))
    assert "BroadcastHashJoinExec" in nodes, nodes


# ---------------------------------------------------------------------------
# bigram LM + interpolated scoring + CCNet buckets (round 5)
# ---------------------------------------------------------------------------

from llm_document_parser_spark.operators.lm import (  # noqa: E402
    perplexity_buckets,
    score_interpolated_logprob,
    train_bigram_lm,
)


def test_bigram_hand_values(spark):
    # corpus pairs: d1: (a,a),(a,b); d2: (a,c)
    # c(a,·)=3 → p(a|a)=1/3, p(b|a)=1/3, p(c|a)=1/3
    df = _corpus(spark)
    lm = train_bigram_lm(df, "text")
    got = {(r["w1"], r["w2"]): r["logp"] for r in lm.collect()}
    assert got == {
        ("a", "a"): math.log(1 / 3),
        ("a", "b"): math.log(1 / 3),
        ("a", "c"): math.log(1 / 3),
    }


def test_interpolated_score_hand_values(spark):
    df = _corpus(spark)
    big = train_bigram_lm(df, "text")
    uni = train_unigram_lm(df, "text")
    got = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logp"])
        for r in score_interpolated_logprob(df, big, uni, lam=0.5).collect()
    }
    # unigram probs: a=3/5, b=1/5, c=1/5; every pair p(w2|w1)=1/3
    def nlp(pu):
        return -math.log(0.5 * (1 / 3) + 0.5 * pu)

    d1 = round((nlp(3 / 5) + nlp(1 / 5)) / 2, 6)
    d2 = round(nlp(1 / 5), 6)
    assert got == {"d1": (2, d1), "d2": (1, d2)}


def test_interpolated_oov_falls_to_floor(spark):
    train = _corpus(spark)
    big = train_bigram_lm(train, "text")
    uni = train_unigram_lm(train, "text")
    unseen = spark.createDataFrame([("dx", "q r")], ["doc_id", "text"])
    row = score_interpolated_logprob(
        unseen, big, uni, lam=0.5, floor_p=1e-9
    ).first()
    # pair (q,r): no bigram, no unigram → p = 0.5 * 1e-9
    assert row["avg_neg_logp"] == round(-math.log(0.5 * 1e-9), 6)


def test_short_docs_produce_no_pairs(spark):
    df = spark.createDataFrame(
        [("one", "solo"), ("two", "a b")], ["doc_id", "text"]
    )
    big = train_bigram_lm(df, "text")
    uni = train_unigram_lm(df, "text")
    ids = {
        r["doc_id"] for r in score_interpolated_logprob(df, big, uni).collect()
    }
    assert ids == {"two"}


def test_perplexity_buckets_tercile_labels(spark):
    scores = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 10)], "doc_id long, avg_neg_logp double"
    )
    docs = spark.createDataFrame(
        [(i, "en") for i in range(1, 10)], "doc_id long, lang string"
    )
    got = {
        r["doc_id"]: (r["ppl_tile"], r["ppl_bucket"])
        for r in perplexity_buckets(scores, docs).collect()
    }
    assert got == {
        1: (1, "head"), 2: (1, "head"), 3: (1, "head"),
        4: (2, "middle"), 5: (2, "middle"), 6: (2, "middle"),
        7: (3, "tail"), 8: (3, "tail"), 9: (3, "tail"),
    }


def test_buckets_partition_per_language(spark):
    scores = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 9.0)],
        "doc_id long, avg_neg_logp double",
    )
    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "en"), (4, "fr")],
        "doc_id long, lang string",
    )
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scores, docs).collect()
    }
    # fr has a single doc: its own tercile 1 → head, regardless of score
    assert got[4] == "head"
    assert got[1] == "head" and got[2] == "middle" and got[3] == "tail"


def test_interpolated_scoring_is_map_side(spark):
    """Both MODEL joins on the scoring path must be broadcast (the corpus
    pairs never shuffle); the training subtree below the broadcast
    exchanges may legitimately shuffle/sort-merge on w1."""
    df = _corpus(spark)
    plan = score_interpolated_logprob(
        df, train_bigram_lm(df, "text"), train_unigram_lm(df, "text")
    )
    joins = [class_name(n) for n in plan_nodes(plan)].count("BroadcastHashJoinExec")
    assert joins == 2
    # the scoring side above the broadcast builds is shuffle-free: its only
    # exchange is the final per-doc agg's own
    scoring = [class_name(n) for n in plan_nodes(plan, stop="BroadcastExchangeExec")]
    assert scoring.count("ShuffleExchangeExec") == 1, scoring
