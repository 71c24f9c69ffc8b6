"""Seed-based trust propagation over the host link graph (TrustRank).

Crawl curation needs a *host-level* quality prior before any page text is
parsed: start from a small hand-audited seed set of trusted hosts and
propagate trust along hyperlinks, so hosts linked from trusted
neighborhoods inherit credit and link-farm islands get none
(Gyöngyi, Garcia-Molina, Pedersen, "Combating Web Spam with TrustRank",
VLDB 2004). The reference repo has no graph tier at all — this extends
its document-quality surface (src/document_parser.py's per-document
classify step) with the corpus-level prior a 10^12-page crawl needs.

Semantics (mirrored EXACTLY by the unrolled-CTE DuckDB oracle in
queries._trustprop_oracle):

    nodes      = hosts on either side of an edge  ∪  seed hosts
    seed(v)    = seed score in [0,1] (0 for non-seeds)
    score_0(v) = seed(v)
    score_{i+1}(v) = (1-alpha) * seed(v)
                   + alpha * SUM over in-edges u->v of
                       score_i(u) * n_links(u,v) / out_weight(u)

Biased-restart propagation: every iteration re-injects (1-alpha) of the
seed mass at the seeds themselves, while alpha of each host's current
trust flows out along its weighted out-edges. Unlike PageRank there is no
uniform teleport and no dangling redistribution — trust reaching a host
with no out-links is simply absorbed (the TrustRank paper's choice:
dangling spam pages must not launder trust back into the graph).
Synchronous updates, fixed iteration budget (weekly batch crawl
practice), so the result is deterministic and oracle-checkable.

Scale shape (the 10^12-edge plan): per iteration exactly one
scores⋈edges equi-join on src_host and one groupBy dst_host — both
key-partitioned shuffles that AQE coalesces; the seed table is a
broadcast left join (seed sets are thousands of rows, not billions);
the loop is ``materialize.fixpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import fixpoint, storage_scope
from .links import _edge_table


def propagate_trust(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    alpha: float = 0.85,
) -> DataFrame:
    """Trust scores after ``iterations`` rounds of seeded propagation.

    ``edges``: (src_host, dst_host, n_links) — links.host_link_graph
    output. ``seeds``: (host, seed) with seed in [0,1]; hosts absent from
    ``seeds`` have seed 0. Returns (host, trust).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    with storage_scope():
        edges = _edge_table(edges)
        seeds = seeds.select("host", F.col("seed").cast("double").alias("seed"))
        out_w = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_weight"))
        nodes = (
            edges.select(F.col("src_host").alias("host"))
            .union(edges.select(F.col("dst_host").alias("host")))
            .union(seeds.select("host"))
            .distinct()
        )

        def step(state: DataFrame) -> DataFrame:
            contribs = (
                state.join(edges, state.host == edges.src_host)
                .select(
                    F.col("dst_host").alias("host"),
                    (F.col("score") * F.col("n_links") / F.col("out_weight")).alias("c"),
                )
                .groupBy("host")
                .agg(F.sum("c").alias("in_mass"))
            )
            return (
                state.select("host", "seed", "out_weight")
                .join(contribs, "host", "left")
                .select(
                    "host",
                    "seed",
                    "out_weight",
                    (
                        (1.0 - alpha) * F.col("seed")
                        + alpha * F.coalesce(F.col("in_mass"), F.lit(0.0))
                    ).alias("score"),
                )
            )

        # (host, seed, out_weight|null, score); score_0 = seed
        state = fixpoint(
            nodes.join(F.broadcast(seeds), "host", "left")
            .withColumn("seed", F.coalesce(F.col("seed"), F.lit(0.0)))
            .join(out_w, nodes.host == out_w.src_host, "left")
            .select("host", "seed", "out_weight", F.col("seed").alias("score")),
            step,
            iterations=iterations,
        )
    return state.select("host", F.col("score").alias("trust"))
