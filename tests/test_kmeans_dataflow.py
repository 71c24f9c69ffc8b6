"""Lloyd-dataflow k-means tests (ml/kmeans_dataflow.py).

Parity against an independent NumPy Lloyd implementation of the
documented semantics (explicit seed init, round-9 argmin with
lowest-cell ties, empty cells keep their centroid), plus: 0 iterations
returns the seeds verbatim, an engineered empty cell survives, and
assignment recovers planted clusters.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from llm_document_parser_spark.ml.kmeans_dataflow import kmeans_lloyd, nearest_cell


def np_lloyd(X, init_ids, iters):
    cents = X[list(init_ids)].astype(float).copy()
    for _ in range(iters):
        d = np.round(
            ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 9
        )
        assign = d.argmin(axis=1)  # argmin takes the lowest index on ties
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _df(spark, X):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def blobs():
    rng = np.random.RandomState(11)
    return np.vstack(
        [
            rng.randn(20, 5) * 0.2 + center
            for center in ([3, 0, 0, 0, 0], [0, 3, 0, 0, 0], [0, 0, 3, 0, 0])
        ]
    )


@pytest.mark.parametrize("iters", [0, 1, 3])
def test_numpy_parity(spark, blobs, iters):
    init = [0, 20, 40]
    got = np.array(kmeans_lloyd(_df(spark, blobs), init, iterations=iters))
    want = np_lloyd(blobs, init, iters)
    assert np.allclose(got, want, atol=1e-12)
    if iters == 0:
        assert np.allclose(got, blobs[init], atol=0)


def test_recovers_planted_clusters(spark, blobs):
    cents = kmeans_lloyd(_df(spark, blobs), [0, 20, 40], iterations=3)
    assigned = _df(spark, blobs).select(
        "vec_id", nearest_cell(F.col("embedding"), cents).alias("cell")
    )
    got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    for i in range(60):
        assert got[i] == i // 20


def test_tie_break_and_empty_cell_keeps_centroid(spark):
    # seeds 0 and 1 are IDENTICAL vectors: every point equidistant to
    # both must take the LOWEST cell (the documented tie rule), so cell 1
    # captures nothing and must keep its seed centroid verbatim
    X = np.array([[0.0, 0.0], [0.0, 0.0], [5.0, 5.0], [5.1, 5.0]])
    cents = kmeans_lloyd(_df(spark, X), [0, 1, 2], iterations=2)
    assert np.allclose(cents[0], [0.0, 0.0])
    assert cents[1] == [0.0, 0.0]  # empty cell: seed retained exactly
    assert np.allclose(cents[2], X[2:].mean(axis=0))
    assert np.allclose(cents, np_lloyd(X, [0, 1, 2], 2), atol=1e-12)


def test_bad_init_raises(spark, blobs):
    with pytest.raises(ValueError, match="init ids not found"):
        kmeans_lloyd(_df(spark, blobs), [0, 999], iterations=1)
