"""int8 quantization tests (operators/quantize.py): NumPy round-trip
parity, clamp saturation, the zero-vector guard, and the fidelity bound
(max reconstruction error <= scale/2 per dimension by construction)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.operators.quantize import (
    dequantize,
    int8_scale,
    quantization_report,
    quantize_int8,
)


def np_quantize(v):
    v = np.asarray(v, dtype=np.float64)
    scale = np.abs(v).max() / 127.0
    if scale == 0:
        return np.zeros(len(v), dtype=int), 0.0
    q = np.clip(np.floor(v / scale + 0.5), -127, 127).astype(int)
    return q, scale


def _df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def test_roundtrip_parity_and_error_bound(spark):
    rng = np.random.RandomState(5)
    vecs = [rng.randn(16) * s for s in (1.0, 0.01, 100.0)]
    df = _df(spark, vecs)
    scale = int8_scale(F.col("embedding"))
    got = df.select(
        "vec_id",
        scale.alias("scale"),
        quantize_int8(F.col("embedding"), scale).alias("q"),
        dequantize(quantize_int8(F.col("embedding"), scale), scale).alias("vhat"),
    ).collect()
    for r in got:
        v = vecs[r["vec_id"]]
        q, s = np_quantize(v)
        assert r["scale"] == pytest.approx(s, rel=1e-15)
        assert list(r["q"]) == list(q)
        # floor(x+0.5) quantization error is at most scale/2 per dim
        # (the max-|v| dim hits 127 exactly, never clamped down)
        assert np.max(np.abs(np.array(r["vhat"]) - v)) <= s / 2 + 1e-12


def test_zero_vector_and_saturation(spark):
    df = _df(spark, [[0.0] * 4, [1.0, -1.0, 0.5, -0.25]])
    rep = {r["vec_id"]: r for r in quantization_report(df).collect()}
    z = rep[0]
    assert z["q_sum"] == 0 and z["q_l1"] == 0 and z["scale_r"] == 0.0
    assert z["mse_r"] == 0.0 and z["cos_r"] == 1.0
    s = rep[1]
    # max-|v| dims quantize to exactly +/-127
    q, _ = np_quantize([1.0, -1.0, 0.5, -0.25])
    assert list(q[:2]) == [127, -127]
    assert s["q_l1"] == int(np.abs(q).sum())
    assert s["cos_r"] > 0.999


def test_report_fidelity_on_random_vectors(spark):
    rng = np.random.RandomState(9)
    df = _df(spark, rng.randn(20, 64))
    rows = quantization_report(df).collect()
    assert len(rows) == 20
    # 64-dim gaussian vectors at int8: cosine fidelity is essentially 1
    assert all(r["cos_r"] >= 0.9999 for r in rows)
    assert all(0 < r["q_l1"] <= 127 * 64 for r in rows)


# ---------------------------------------------------------------------------
# product quantization (composition of kmeans_dataflow over subspaces)
# ---------------------------------------------------------------------------

def np_pq_train_encode(X, m, init_ids, iters):
    sub = X.shape[1] // m
    books, codes = [], []
    for j in range(m):
        S = X[:, j * sub:(j + 1) * sub]
        cents = S[list(init_ids)].astype(float).copy()
        for _ in range(iters):
            d = np.round(
                ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 9
            )
            a = d.argmin(axis=1)
            for c in range(len(cents)):
                mem = S[a == c]
                if len(mem):
                    cents[c] = mem.mean(axis=0)
        books.append(cents)
        d = np.round(((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 9)
        codes.append(d.argmin(axis=1))
    return books, np.stack(codes, axis=1)


def test_pq_roundtrip_parity(spark):
    from llm_document_parser_spark.operators.quantize import (
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(21)
    X = rng.randn(40, 8)
    df = _df(spark, X)
    books = pq_train(df, m=4, init_ids=[0, 1, 2], iterations=2)
    want_books, want_codes = np_pq_train_encode(X, 4, [0, 1, 2], 2)
    assert np.allclose(np.array(books), np.array(want_books), atol=1e-12)
    got_codes = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()
    }
    for i in range(40):
        assert got_codes[i] == list(want_codes[i]), i


def test_pq_dim_mismatch_raises(spark):
    from llm_document_parser_spark.operators.quantize import pq_train

    df = _df(spark, np.ones((5, 6)))
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=4, init_ids=[0, 1])


def test_pq_negative_iterations_raises(spark):
    from llm_document_parser_spark.operators.quantize import pq_train

    df = _df(spark, np.ones((5, 8)))
    with pytest.raises(ValueError, match="iterations must be >= 0"):
        pq_train(df, m=4, init_ids=[0, 1], iterations=-1)


@pytest.mark.parametrize("trainer", ["kmeans_lloyd", "pq_train"])
def test_zero_iterations_run_only_the_seed_lookup(spark, jobs_in_group, trainer):
    """With no Lloyd step to feed, the corpus is not checkpointed: the
    seed vectors' lookup is the only work."""
    from llm_document_parser_spark.ml.kmeans_dataflow import kmeans_lloyd
    from llm_document_parser_spark.operators.quantize import pq_train

    df = _df(spark, np.arange(40.0).reshape(5, 8)).repartition(2)
    train = {
        "kmeans_lloyd": lambda: kmeans_lloyd(df, [0, 1], iterations=0),
        "pq_train": lambda: pq_train(df, m=4, init_ids=[0, 1], iterations=0),
    }[trainer]
    seeds = jobs_in_group(
        f"{trainer}-seeds",
        lambda: df.filter(F.col("vec_id").isin([0, 1]))
        .select("vec_id", "embedding")
        .collect(),
    )
    assert jobs_in_group(f"{trainer}-zero-iterations", train) == seeds


def test_pq_adc_topk_parity_and_recall(spark):
    from llm_document_parser_spark.operators.quantize import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(33)
    base = rng.randn(30, 8)
    # plant near-twins: vector 30+i is a lightly-noised copy of vector i,
    # so exact top-1 for query i is KNOWN and ADC should retrieve it
    X = np.vstack([base, base + 0.05 * rng.randn(30, 8)])
    df = _df(spark, X)
    books = pq_train(df, m=4, init_ids=[0, 1, 2, 3], iterations=2)
    codes = pq_encode(df, books)
    q = _df(spark, X[:3])
    got = [
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in pq_adc_topk(q, codes, books, k=4).collect()
    ]
    # NumPy replay: ADC dist = sum over subspaces of ||q_j - book_j[code]||^2
    B, C = np_pq_train_encode(X, 4, [0, 1, 2, 3], 2)
    import itertools

    want = []
    for qi in range(3):
        ds = []
        for ni in range(60):
            if ni == qi:
                continue
            d = sum(
                float(((X[qi, 2 * j:2 * j + 2] - B[j][C[ni, j]]) ** 2).sum())
                for j in range(4)
            )
            ds.append((round(d, 6), ni))
        ds.sort()
        for rank, (d, ni) in enumerate(ds[:4], 1):
            want.append((qi, ni, rank, d))
    assert sorted(got) == sorted(
        (a, b, c, pytest.approx(d, abs=2e-6)) for a, b, c, d in want
    )
    # sanity: ADC top-4 should usually contain the true exact-L2 top-1
    hits = 0
    for qi in range(3):
        exact = min(
            (float(((X[qi] - X[ni]) ** 2).sum()), ni)
            for ni in range(60)
            if ni != qi
        )[1]
        if exact in [ni for (qq, ni, _, _) in want if qq == qi]:
            hits += 1
    assert hits >= 2


def test_ivf_adc_composition(spark):
    from llm_document_parser_spark.ml.kmeans_dataflow import (
        kmeans_lloyd,
        nearest_cell,
    )
    from llm_document_parser_spark.operators.quantize import (
        ivf_adc_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(41)
    # three well-separated blobs so coarse cells are meaningful
    blobs = np.vstack(
        [rng.randn(20, 8) * 0.3 + c for c in (np.r_[4, np.zeros(7)],
                                              np.r_[0, 4, np.zeros(6)],
                                              np.r_[0, 0, 4, np.zeros(5)])]
    )
    df = _df(spark, blobs)
    coarse = kmeans_lloyd(df, [0, 20, 40], iterations=2)
    books = pq_train(df, m=4, init_ids=[0, 1, 2], iterations=2)
    q = _df(spark, blobs[:2])  # queries live in blob 0
    got = [
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
        for r in ivf_adc_topk(q, df, coarse, books, k=5, n_probe=1).collect()
    ]
    # with n_probe=1 every neighbor must come from the query's own cell
    cell = nearest_cell(F.col("embedding"), coarse).alias("cell")
    cells = {r["vec_id"]: r["cell"] for r in df.select("vec_id", cell).collect()}
    for qid, nid, _, _ in got:
        assert cells[nid] == cells[qid], (qid, nid)
    # and the scored subset must agree with the brute ADC tier: the
    # brute ranking restricted to the query's cell is the IVF ranking
    brute = [
        (r["query_id"], r["neighbor_id"], r["adc_dist"])
        for r in pq_adc_topk(q, pq_encode(df, books), books, k=60).collect()
    ]
    for qid in (0, 1):
        in_cell = [
            (d, n) for (qq, n, d) in brute
            if qq == qid and cells[n] == cells[qid]
        ]
        in_cell.sort()
        want = [(qid, n, rank, d) for rank, (d, n) in enumerate(in_cell[:5], 1)]
        assert [g for g in got if g[0] == qid] == want, qid


def test_pq_train_one_pass_matches_per_subspace_lloyd(spark):
    """pq_train now trains all m subspaces in ONE dataflow per iteration
    (one corpus scan instead of m); the codebooks must stay bit-identical
    to the definitional form — an independent kmeans_lloyd run per sliced
    subspace."""
    from llm_document_parser_spark.ml.kmeans_dataflow import kmeans_lloyd
    from llm_document_parser_spark.operators.quantize import pq_train

    rng = np.random.RandomState(7)
    X = rng.randn(50, 8)
    df = _df(spark, X)
    init = [0, 1, 2]
    books = pq_train(df, m=2, init_ids=init, iterations=2)
    for j in range(2):
        sliced = df.select(
            "vec_id", F.slice("embedding", j * 4 + 1, 4).alias("embedding")
        )
        want = kmeans_lloyd(sliced, init, iterations=2)
        assert books[j] == want, j
