"""Mongo $text grammar (search.phrase_search / parse_text_query): pure-
Python replay parity, phrase contiguity, negation, stopword-stripped
phrase matching, multi-phrase AND, and the index-then-verify plan shape."""

from __future__ import annotations

import re

from llm_document_parser_spark.operators.search import (
    STOPWORDS,
    parse_text_query,
    phrase_search,
)
from plan_nodes import has_expression, node_classes


def _toks(s: str) -> list[str]:
    return [
        t
        for t in re.split(r"[^a-z0-9]+", s.lower())
        if t and t not in STOPWORDS
    ]


def _replay(corpus: dict[str, str], query: str) -> dict[str, tuple]:
    loose, phrases, negated = parse_text_query(query)
    out = {}
    for d, text in corpus.items():
        tk = _toks(text)
        if any(t in tk for t in negated):
            continue
        occs = []
        for p in phrases:
            occs.append(
                sum(
                    1
                    for i in range(len(tk) - len(p) + 1)
                    if tk[i : i + len(p)] == p
                )
            )
        if phrases and not all(o > 0 for o in occs):
            continue
        loose_score = sum(tk.count(t) for t in loose)
        if not phrases and loose_score == 0:
            continue
        score = sum(o * len(p) for o, p in zip(occs, phrases)) + loose_score
        out[d] = (score, sum(occs))
    return out


CORPUS = {
    "d1": "the quick brown fox jumps over the lazy dog",
    "d2": "brown fox tales and other quick stories about a fox",
    "d3": "quick quick quick but never the two words together brown",
    "d4": "a quick brown fox quick brown fox twice in here",
    "d5": "quick brown fox but also vector poison word",
}


def _run(spark, corpus, query, **kw):
    df = spark.createDataFrame(
        list(corpus.items()), ["url", "extracted_text"]
    )
    return {
        r["doc_id"]: (r["score"], r["n_phrase_hits"])
        for r in phrase_search(df, query, **kw).collect()
    }


def test_parse_text_query_grammar():
    loose, phrases, negated = parse_text_query(
        '"quick brown" fox -vector "lazy dog" -the'
    )
    assert phrases == [["quick", "brown"], ["lazy", "dog"]]
    assert loose == ["fox"]
    assert negated == ["vector"]  # "-the" is a stopword: dropped entirely


def test_replay_parity_phrase_loose_negation(spark):
    q = '"quick brown" fox -vector'
    got = _run(spark, CORPUS, q)
    assert got == _replay(CORPUS, q)
    # d3 has all terms but never contiguously; d5 holds the negated term
    assert "d3" not in got and "d5" not in got
    assert got["d4"][1] == 2  # two phrase occurrences counted


def test_phrase_matches_across_stripped_stopwords(spark):
    # analyzer drops "the": "over the lazy" collapses to [..., over, lazy]
    # so the phrase "over lazy" matches d1 (documented analyzer semantics)
    got = _run(spark, CORPUS, '"over lazy"')
    assert set(got) == {"d1"}


def test_multi_phrase_is_and(spark):
    got = _run(spark, CORPUS, '"quick brown" "lazy dog"')
    assert set(got) == {"d1"}


def test_loose_only_is_or_scored_by_tf(spark):
    q = "lazy stories"
    got = _run(spark, CORPUS, q)
    assert got == _replay(CORPUS, q)
    assert set(got) == {"d1", "d2"}


def test_negation_only_returns_nothing(spark):
    assert _run(spark, CORPUS, "-fox") == {}


def test_limit_orders_by_score_then_id(spark):
    df = spark.createDataFrame(
        list(CORPUS.items()), ["url", "extracted_text"]
    )
    rows = phrase_search(df, '"brown fox"').limit(2).collect()
    exp = sorted(
        _replay(CORPUS, '"brown fox"').items(),
        key=lambda kv: (-kv[1][0], kv[0]),
    )
    assert [r["doc_id"] for r in rows] == [d for d, _ in exp[:2]]


def test_plan_is_index_then_verify_no_cartesian(spark):
    df = spark.createDataFrame(
        list(CORPUS.items()), ["url", "extracted_text"]
    )
    classes = node_classes(phrase_search(df, '"quick brown" fox -vector'))
    assert "CartesianProductExec" not in classes
    assert "BroadcastNestedLoopJoinExec" not in classes


def test_verify_stage_reads_materialized_tokens(spark):
    """The contiguity predicate embeds the whole tokenizer + phrase-scan
    expression DAG; if Catalyst pushes it below the candidate join onto
    the corpus scan, every document pays the tokenizer (4x, no CSE under
    HOF lambdas) on the scan task. phrase_search materializes the
    candidates' token arrays first, so the executed plan must carry NO
    tokenizer at all — the verify stage reads stored arrays."""
    df = spark.createDataFrame(
        list(CORPUS.items()), ["url", "extracted_text"]
    )
    res = phrase_search(df, '"quick brown" fox -vector')
    assert not has_expression(res, "StringSplit", child_cls="Lower")
    assert "RDDScanExec" in node_classes(res)
