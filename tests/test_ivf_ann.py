"""IVF ANN: Lloyd k-means coarse quantizer + within-cell exact ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.ml.kmeans_dataflow import kmeans_lloyd
from llm_document_parser_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_ivf_finds_planted_duplicates(spark, corpus):
    # planted copies: identical vectors must share a cell and rank first
    copies = corpus.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding", "label"
    )
    full = corpus.unionByName(copies)
    cents = kmeans_lloyd(full, init_ids=list(range(0, 400, 50)))
    assert len(cents) == 8 and len(cents[0]) == 64
    out = ivf_topk(copies, full, cents, k=1, n_probe=1)
    rows = {r["query_id"]: r for r in out.collect()}
    for qid in range(9000, 9005):
        assert rows[qid]["neighbor_id"] == qid - 9000
        assert rows[qid]["score"] == 1.0


def test_ivf_full_probe_degrades_to_exact(spark, corpus):
    small = corpus.filter(F.col("vec_id") < 60)
    cents = kmeans_lloyd(small, init_ids=[0, 15, 30, 45])
    queries = small.filter(F.col("vec_id") < 3)
    ivf = ivf_topk(queries, small, cents, k=3, n_probe=4)  # probe ALL cells
    exact = cosine_topk(queries, small, k=3)
    got = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in ivf.collect())
    want = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in exact.collect())
    assert got == want


def test_banded_near_dup_matches_exact_on_planted_dups(spark):
    """At threshold 0.99 over the planted-copy base, the banded-LSH
    production path must find exactly the all-pairs verification tier's
    pairs (identical vectors agree in every band), with no cross product
    in the plan."""
    import contextlib
    import io

    from llm_document_parser_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["id_a"], r["id_b"], r["score"])
        for r in REGISTRY["embedding_near_dups"](spark, sf).collect()
    }
    banded_df = REGISTRY["embedding_near_dups_banded"](spark, sf)
    banded = {(r["id_a"], r["id_b"], r["score"]) for r in banded_df.collect()}
    assert banded == exact
    assert len(banded) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        banded_df.explain(mode="simple")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_banded_near_dup_recall_on_perturbed_vectors(spark):
    """Banded LSH on NON-identical near-dups: precision is 1.0 by
    construction (same exact-cosine threshold applied to candidates), and
    recall on ~0.95-0.99-cosine pairs must clear the 1-(1-s^r)^b analysis
    (s≈0.9-0.97 sign-agreement -> expected recall ≈ 0.85+ at r=4, b=2)."""
    import numpy as np

    from llm_document_parser_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_banded,
    )
    from llm_document_parser_spark.queries import _NEARDUP_BANDS

    rng = np.random.RandomState(42)
    base = rng.randn(60, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i < 30:  # plant a perturbed near-duplicate
            noise = rng.randn(64) * (0.08 + 0.04 * (i % 3))
            rows.append((1000 + i, [float(x) for x in v + noise]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_banded(
            df, threshold=0.95, plane_bands=_NEARDUP_BANDS
        ).collect()
    }
    assert len(exact) >= 20  # the planted pairs exist
    assert banded <= exact   # precision 1.0
    recall = len(banded) / len(exact)
    assert recall >= 0.7, f"recall {recall:.2f} ({len(banded)}/{len(exact)})"
