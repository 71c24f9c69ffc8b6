"""HITS tests (operators/links.hits_scores): independent dense NumPy
power-iteration parity (weighted adjacency, L1 normalization), the
hub-vs-authority structural property PageRank can't express, and
degenerate cases."""

from __future__ import annotations

import numpy as np
import pytest

from llm_document_parser_spark.operators.links import hits_scores
from plan_nodes import node_classes

EDGES = [
    # d1, d2 are directories linking to the two references r1, r2;
    # r1, r2 link nowhere; c links only to d1 (making it mildly hubby)
    ("d1", "r1", 2),
    ("d1", "r2", 1),
    ("d2", "r1", 1),
    ("d2", "r2", 3),
    ("c", "d1", 1),
]


def np_hits(edges, iters):
    hosts = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    w = np.zeros((n, n))
    for s, d, k in edges:
        w[idx[s], idx[d]] += k
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(iters):
        auth = w.T @ hub
        if auth.sum() > 0:
            auth = auth / auth.sum()
        hub = w @ auth
        if hub.sum() > 0:
            hub = hub / hub.sum()
    return hosts, hub, auth


def _spark_hits(spark, edges, iters):
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links long"
    )
    return {
        r["host"]: (r["hub"], r["auth"])
        for r in hits_scores(df, iterations=iters).collect()
    }


@pytest.mark.parametrize("iters", [0, 1, 3])
def test_numpy_parity(spark, iters):
    got = _spark_hits(spark, EDGES, iters)
    hosts, hub, auth = np_hits(EDGES, iters)
    assert set(got) == set(hosts)
    for h in hosts:
        assert got[h][0] == pytest.approx(hub[hosts.index(h)], abs=1e-12), h
        assert got[h][1] == pytest.approx(auth[hosts.index(h)], abs=1e-12), h


def test_hub_authority_separation(spark):
    got = _spark_hits(spark, EDGES, 3)
    # references have zero out-links -> zero hub; directories are the top
    # hubs; pure-source c has zero in-links -> zero authority
    assert got["r1"][0] == 0.0 and got["r2"][0] == 0.0
    assert got["c"][1] == 0.0
    hubs = {h: s[0] for h, s in got.items()}
    assert sorted(hubs, key=hubs.get, reverse=True)[:2] == ["d2", "d1"] or sorted(
        hubs, key=hubs.get, reverse=True
    )[:2] == ["d1", "d2"]
    # authorities are the linked references, above the directories
    assert min(got["r1"][1], got["r2"][1]) > max(got["d1"][1], got["d2"][1])


def test_empty_graph(spark):
    df = spark.createDataFrame(
        [], "src_host string, dst_host string, n_links long"
    )
    assert hits_scores(df, iterations=2).collect() == []


def test_derived_edges_materialized_once(spark):
    """hits_scores must cut the caller's edge derivation (typically a
    corpus aggregation) with an eager checkpoint: without the cut the
    unevaluated DAG doubles per iteration and the derivation re-runs
    inside every sub-plan. The returned plan must read the stored edge
    blocks (ExistingRDD), never the Range derivation."""
    from pyspark.sql import functions as F

    edges = (
        spark.range(500)
        .select(
            F.concat(F.lit("h"), F.pmod("id", 20).cast("string")).alias(
                "src_host"
            ),
            F.concat(
                F.lit("h"), F.pmod(F.col("id") * 7 + 3, 25).cast("string")
            ).alias("dst_host"),
            (F.pmod("id", 3) + 1).alias("n_links"),
        )
        .filter(F.col("src_host") != F.col("dst_host"))
    )
    res = hits_scores(edges, iterations=3)
    nodes = node_classes(res)
    assert "RDDScanExec" in nodes
    assert "RangeExec" not in nodes
    # and the fixpoint is still numpy-exact on the derived graph
    rows = edges.collect()
    hosts, hub, auth = np_hits(
        [(r["src_host"], r["dst_host"], r["n_links"]) for r in rows], 3
    )
    got = {r["host"]: (r["hub"], r["auth"]) for r in res.collect()}
    for h in hosts:
        assert got[h][0] == pytest.approx(hub[hosts.index(h)], abs=1e-12), h
        assert got[h][1] == pytest.approx(auth[hosts.index(h)], abs=1e-12), h
