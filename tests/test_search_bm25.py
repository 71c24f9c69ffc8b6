"""Okapi BM25 ranked retrieval (search.bm25_scores): pure-Python replay
parity, top-k ordering, length-normalization and idf direction checks,
degenerate inputs, and the broadcast-shape plan invariant."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from llm_document_parser_spark.operators.search import STOPWORDS, bm25_scores
from plan_nodes import node_classes


def _replay(
    corpus: dict[str, str], query: str, k1: float = 1.2, b: float = 0.75
) -> dict[str, tuple[float, int]]:
    """Literal restatement of the Robertson/Walker formula with Lucene's
    non-negative idf, over the same analyzer (lowercase [a-z0-9]+ minus
    stopwords)."""

    def toks(s: str) -> list[str]:
        return [
            t
            for t in re.split(r"[^a-z0-9]+", s.lower())
            if t and t not in STOPWORDS
        ]

    docs = {d: toks(t) for d, t in corpus.items()}
    dl = {d: len(tk) for d, tk in docs.items()}
    n_total = len(docs)
    avgdl = sum(dl.values()) / n_total
    terms = list(dict.fromkeys(toks(query)))
    out: dict[str, tuple[float, int]] = {}
    for d, tk in docs.items():
        score, matched = 0.0, 0
        for term in terms:
            tf = tk.count(term)
            if tf == 0:
                continue
            dfreq = sum(1 for t2 in docs.values() if term in t2)
            idf = math.log(1 + (n_total - dfreq + 0.5) / (dfreq + 0.5))
            score += (
                idf
                * (tf * (k1 + 1))
                / (tf + k1 * (1 - b + b * dl[d] / avgdl))
            )
            matched += 1
        if matched:
            out[d] = (round(score, 6), matched)
    return out


CORPUS = {
    "d1": "spark shuffle spark join spark agg",
    "d2": "spark streaming watermark state and late data handling",
    "d3": "hash join broadcast hash join shuffle hash join",
    "d4": "completely unrelated words about gardening and weather",
    "d5": "spark",  # shortest doc: length normalization rewards it
}


def _run(spark, corpus, query, **kw):
    df = spark.createDataFrame(
        list(corpus.items()), ["url", "extracted_text"]
    )
    return {
        r["doc_id"]: (r["bm25"], r["n_terms_matched"])
        for r in bm25_scores(df, query, **kw).collect()
    }


def test_replay_parity(spark):
    q = "spark hash shuffle"
    assert _run(spark, CORPUS, q) == _replay(CORPUS, q)


def test_topk_ordering_pinned(spark):
    # d3 matches hash(4x)+join is stopless... compute expected order from
    # the replay and assert the operator's top-2 equals it
    q = "spark hash shuffle"
    exp = sorted(
        _replay(CORPUS, q).items(), key=lambda kv: (-kv[1][0], kv[0])
    )
    df = spark.createDataFrame(
        list(CORPUS.items()), ["url", "extracted_text"]
    )
    got = [r["doc_id"] for r in bm25_scores(df, q, k=2).collect()]
    assert got == [d for d, _ in exp[:2]]


def test_length_normalization_rewards_short_doc(spark):
    # same tf=1 for "spark": the 1-token doc d5 must outscore the 8-token d2
    got = _run(spark, CORPUS, "spark")
    assert got["d5"][0] > got["d2"][0]


def test_rarer_term_weighs_more(spark):
    # "watermark" appears in 1 doc, "spark" in 3 — for equal tf and equal
    # doc length the rare term's contribution must be larger
    corpus = {
        "a": "spark alpha beta",
        "b": "watermark alpha beta",
        "c": "spark gamma delta",
        "d": "spark epsilon zeta",
    }
    got = _run(spark, corpus, "spark watermark")
    assert got["b"][0] > got["a"][0]


def test_no_match_and_stopword_only_query(spark):
    assert _run(spark, CORPUS, "zzzznothing") == {}
    assert _run(spark, CORPUS, "the and of") == {}


def test_plan_broadcasts_corpus_stats_and_dfreq(spark):
    df = spark.createDataFrame(
        list(CORPUS.items()), ["url", "extracted_text"]
    )
    nodes = node_classes(bm25_scores(df, "spark hash"))
    # the 1-row corpus aggregate and per-term dfreq join broadcast; the
    # only non-broadcast joins key on doc_id/token (no cartesian blowup)
    assert {"BroadcastNestedLoopJoinExec", "BroadcastExchangeExec"} & nodes
    assert "CartesianProductExec" not in nodes
