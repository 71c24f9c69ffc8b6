"""Distributed-GD logistic regression tests (ml/lr_dataflow.py).

Parity is checked against an independent dense NumPy implementation of
the documented algebra (hashed-unigram rates, zero init, full-batch
mean-gradient steps) — md5 bucketing reproduced with hashlib, not the
Spark expression. Plus training invariants: log-loss decreases on a
separable corpus, the fitted model orders the classes, and the degenerate cases
(0 iterations, empty-token docs) behave as documented.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.ml.lr_dataflow import (
    hashed_token_features,
    lr_fit_dataflow,
)

N_BUCKETS = 8
DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", 1.0),
    (1, "the cat sat on the mat with the hat", 1.0),
    (2, "a stitch in time saves nine every time", 1.0),
    (3, "zzz qqq xxx zzz qqq vvv www qqq", 0.0),
    (4, "qqq www vvv zzz xxx qqq zzz www", 0.0),
    (5, "vvv zzz www qqq xxx vvv zzz", 0.0),
    (6, "", 0.0),  # zero tokens -> dropped from features
]


def np_bucket(token: str) -> int:
    return int(hashlib.md5(token.encode()).hexdigest()[:2], 16) % N_BUCKETS


def np_features():
    rows = []
    for did, text, y in DOCS:
        toks = [t for t in text.lower().split(" ") if t]
        if not toks:
            continue
        f = np.zeros(N_BUCKETS)
        for t in toks:
            f[np_bucket(t)] += 1.0
        rows.append((did, y, f / len(toks)))
    return rows


def np_fit(iters: int, lr: float):
    rows = np_features()
    X = np.array([f for _, _, f in rows])
    y = np.array([lab for _, lab, _ in rows])
    w = np.zeros(N_BUCKETS)
    b = 0.0
    losses = []
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        losses.append(-np.mean(y * np.log(p) + (1 - y) * np.log(1 - p)))
        w -= lr * ((p - y) @ X) / len(y)
        b -= lr * np.mean(p - y)
    return w, b, losses


@pytest.fixture(scope="module")
def feats(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, lab double")
    return hashed_token_features(
        df, label_col=F.col("lab"), n_buckets=N_BUCKETS
    )


def test_feature_parity(spark, feats):
    got = {r["doc_id"]: (r["y"], r["f"]) for r in feats.collect()}
    want = {did: (y, f) for did, y, f in np_features()}
    assert set(got) == set(want)  # the empty doc is gone
    for did, (y, f) in want.items():
        assert got[did][0] == y
        assert np.allclose(got[did][1], f, atol=1e-15), did


@pytest.mark.parametrize("iters,lr", [(0, 1.0), (1, 1.0), (3, 1.0), (5, 0.3)])
def test_numpy_parity(spark, feats, iters, lr):
    w, b = lr_fit_dataflow(feats, n_buckets=N_BUCKETS, iterations=iters, lr=lr)
    w_np, b_np, _ = np_fit(iters, lr)
    assert np.allclose(w, w_np, atol=1e-12)
    assert b == pytest.approx(b_np, abs=1e-12)


def test_loss_decreases_and_scores_separate(spark, feats):
    _, _, losses = np_fit(6, 1.0)
    assert all(b < a for a, b in zip(losses, losses[1:]))
    w, b = lr_fit_dataflow(feats, n_buckets=N_BUCKETS, iterations=6, lr=1.0)
    scored = {
        did: 1.0 / (1.0 + math.exp(-(b + float(np.dot(f, w)))))
        for did, _, f in np_features()
    }
    pos = [scored[d] for d in (0, 1, 2)]
    neg = [scored[d] for d in (3, 4, 5)]
    assert min(pos) > max(neg)
    assert all(0.0 < p < 1.0 for p in scored.values())


def test_zero_iterations_is_zero_model(spark, feats):
    w, b = lr_fit_dataflow(feats, n_buckets=N_BUCKETS, iterations=0)
    assert w == [0.0] * N_BUCKETS and b == 0.0


def test_zero_iterations_runs_no_job(spark, feats, jobs_in_group):
    """The input is checkpointed only when there is a loop to feed."""
    jobs = jobs_in_group(
        "lr-zero-iterations",
        lambda: lr_fit_dataflow(feats, n_buckets=N_BUCKETS, iterations=0),
    )
    assert jobs == 0


def test_feature_parity_wide_buckets_unicode(spark):
    """Focused regression for the char-histogram featurization (round 6):
    per-bucket counts come from one bucket-CHAR per token plus codegen
    string replaces, so parity must hold beyond the A-P range of
    n_buckets=16 and for non-ASCII tokens (multi-byte chars must not
    skew the length-difference counting)."""
    nb = 64
    docs = [
        (0, "café naïve café über zürich 東京 東京 tokyo", 1.0),
        (1, "a b c d e f g h i j k l m n o p q r s t u v w x y z", 0.0),
        (2, "mixed 東京 case MiXeD £price €uro", 1.0),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lab double")
    got = {
        r["doc_id"]: (r["n_tokens"], list(r["f"]))
        for r in hashed_token_features(
            df, label_col=F.col("lab"), n_buckets=nb
        ).collect()
    }
    for did, text, _ in docs:
        toks = [t for t in text.lower().split(" ") if t]
        f = np.zeros(nb)
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % nb
            f[b] += 1.0
        f /= len(toks)
        assert got[did][0] == len(toks), did
        assert np.allclose(got[did][1], f, atol=1e-15), did
