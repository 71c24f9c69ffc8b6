"""Lloyd's k-means as pure dataflow — deterministic, oracle-checkable,
with the model on the driver and the data never moving.

Spark ML's KMeans is fast, but its k-means|| init is seeded-random and
its iteration internals are unobservable, so nothing external can verify
the algebra. This module is the verifiable alternative (and a centroid
source for ivf_topk): INIT IS EXPLICIT (the caller names the vectors that seed
each cell — deterministic by construction, the same move as
dedup's fixed LSH geometry), and each Lloyd iteration is

    assign(v) = argmin over cells of round(||v - c||^2, 9)
                (ties -> lowest cell id)
    c'        = per-cell mean of assigned vectors
                (an EMPTY cell keeps its previous centroid)

The distance is rounded to 9 decimals BEFORE the argmin on both engines —
assignment is a discrete decision and must never depend on sub-round
float noise (the catalog's round-before-rank policy, applied to a
clustering step). queries._kmeans_oracle unrolls the identical algebra
as chained DuckDB CTEs over the unnested (vec_id, dim, val) relation —
the third iterative algorithm in the catalog verified end-to-end against
SQL, after PageRank and the GD logistic regression.

The Lloyd loop itself is operators/quantize.pq_train: k-means is product
quantization with one subspace, so kmeans_lloyd is pq_train(m=1) and
both share :func:`nearest_cell`, the one argmin expression that PQ
encoding and IVF search assign with too.

Scale shape: assignment compiles to one codegen expression over
broadcast centroid LITERALS (zero shuffle, zero Python); the update is
one groupBy(cell) whose partial aggregation emits at most k rows per
task, and only k x dim doubles ever reach the driver per iteration —
O(model), not O(data). At 10^9 vectors this is exactly MLlib's plan
minus the black box.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dist2(vec: Column, center: list[float]) -> Column:
    return F.round(
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(w)) for w in center]),
                lambda x, w: (x.cast("double") - w) * (x.cast("double") - w),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )


def cell_distances(vec: Column, centroids: list[list[float]]) -> Column:
    """ARRAY<STRUCT<dist, cell>>: the round-9 squared distance from
    ``vec`` to every centroid, with the centroid's id."""
    return F.array(
        *[
            F.struct(_dist2(vec, c).alias("dist"), F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )


def nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """The argmin-distance centroid id (ties -> lowest id)."""
    return F.array_min(cell_distances(vec, centroids))["cell"]


def kmeans_lloyd(
    corpus: DataFrame,
    init_ids: list[int],
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Centroids after ``iterations`` Lloyd steps from the explicitly
    seeded init (centroid i starts at the vector whose ``id_col`` equals
    ``init_ids[i]``). Returns k lists of doubles, ready for
    similarity.ivf_topk / _nearest_cells."""
    from ..operators.quantize import pq_train

    return pq_train(
        corpus, m=1, init_ids=init_ids, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
    )[0]
