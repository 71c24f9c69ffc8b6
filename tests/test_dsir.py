"""DSIR importance weighting/resampling (operators/dsir.py): weights must
match a from-scratch pure-Python reference exactly (same smoothing, same
union vocab), the Gumbel-top-k selection must match the brute-force
computation of the same deterministic keys, and the scoring join must be
broadcast (the corpus never shuffles on Zipf-skewed tokens)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pyspark.sql.functions as F
import pytest

from llm_document_parser_spark.operators import dsir
from plan_nodes import node_classes

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "stock market prices rose sharply today"),
    (2, "the dog ran in the park"),
    (3, "market analysts expect prices to fall"),
    (4, "a cat and a dog met in the park"),
    (5, "quarterly earnings beat market expectations"),
    (6, "the bird flew over the park"),
]
TARGET_IDS = {1, 3, 5}  # the finance "domain"


def _py_weights(k=1.0):
    """Pure-Python reference: add-k smoothed unigram log-ratio sums."""
    toks = {i: t.lower().split(" ") for i, t in DOCS}
    raw = Counter(w for ws in toks.values() for w in ws if w)
    tgt = Counter(w for i, ws in toks.items() if i in TARGET_IDS for w in ws if w)
    vocab = set(raw) | set(tgt)
    t_raw, t_tgt, v = sum(raw.values()), sum(tgt.values()), len(vocab)
    ratio = {
        w: math.log((tgt[w] + k) / (t_tgt + k * v))
        - math.log((raw[w] + k) / (t_raw + k * v))
        for w in vocab
    }
    return {
        i: (len([w for w in ws if w]), sum(ratio[w] for w in ws if w))
        for i, ws in toks.items()
    }


def _py_u(doc_id, digits=6):
    h = hashlib.md5(str(doc_id).encode()).hexdigest()
    u = 16.0 ** -(digits + 1)
    for i in range(digits):
        u += "0123456789abcdef".index(h[i]) * 16.0 ** -(i + 1)
    return u


def _frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    target = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
    return docs, target


def test_importance_weights_match_python_reference(spark):
    docs, target = _frames(spark)
    got = {
        r["doc_id"]: (r["n_tokens"], r["logw"])
        for r in dsir.importance_weights(docs, target).collect()
    }
    want = _py_weights()
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], f"n_tokens doc {i}"
        assert got[i][1] == pytest.approx(want[i][1], rel=1e-12), f"logw doc {i}"
    # direction sanity: finance docs score more target-like than pet docs
    assert min(got[i][1] / got[i][0] for i in TARGET_IDS) > max(
        got[i][1] / got[i][0] for i in (0, 2, 6)
    )


def test_resample_matches_bruteforce_gumbel_topk(spark):
    docs, target = _frames(spark)
    weighted = dsir.importance_weights(docs, target)
    got = [
        (r["doc_id"], r["sample_key"])
        for r in dsir.importance_resample(weighted, 3).collect()
    ]
    want_keys = {
        i: w - math.log(-math.log(_py_u(i)))
        for i, (_, w) in _py_weights().items()
    }
    want = sorted(want_keys.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gk), (_, wk) in zip(got, want):
        assert gk == pytest.approx(wk, rel=1e-12)


def test_gumbel_keys_deterministic_across_runs(spark):
    docs, target = _frames(spark)
    w = dsir.importance_weights(docs, target)
    a = {r["doc_id"]: r["sample_key"] for r in dsir.importance_resample(w, 7).collect()}
    b = {r["doc_id"]: r["sample_key"] for r in dsir.importance_resample(w, 7).collect()}
    assert a == b and len(a) == 7


def test_scoring_join_is_broadcast_and_topk_has_no_global_sort(spark):
    docs, target = _frames(spark)
    weighted = dsir.importance_weights(docs, target)
    # ratio table ships, corpus stays put
    assert "BroadcastHashJoinExec" in node_classes(weighted)
    sample = dsir.importance_resample(weighted, 3)
    # top-k, not a global Sort
    assert "TakeOrderedAndProjectExec" in node_classes(sample)
