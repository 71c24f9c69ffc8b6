"""Similarity search over embedding columns (array<float>).

Two tiers:

* ``cosine_topk``     — exact brute-force top-k (the baseline; join is a
                        broadcast of the query set, so it scales to any
                        corpus size with small query batches)
* ``lsh_cosine_topk`` — random-hyperplane-LSH-bucketed approximate variant
                        (the 100 TB path: candidates come from a bucket
                        equi-join instead of a cross product)
* ``embedding_near_dup_pairs`` — cosine-threshold near-duplicate pairs

All dot products run as ``zip_with``/``aggregate`` higher-order expressions
with explicit float→double casts applied per element *before* multiply, and
left-to-right fold order — bit-reproducible, so an ANSI-SQL oracle matches
after round(6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, rank, score).

    The query side is broadcast — the corpus never shuffles, so the plan is
    a single scan over the big side regardless of corpus size. Self-matches
    (same id) are excluded. Ties break on neighbor_id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "score",
        )
    )


def hyperplane_sketch(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign sketch: bit per plane (deterministic planes
    supplied by the caller, e.g. seeded numpy on the driver)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    out = F.lit(0)
    for i, b in enumerate(bits):
        out = out + b * (2**i)
    return out


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane-sign bucket; then
    exact cosine rank within candidates. At scale this replaces the
    broadcast-cross with a bucket equi-join."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_sketch(F.col(vec_col), planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        hyperplane_sketch(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "score",
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold — EXACT all-pairs,
    O(n²): a VERIFICATION tier for bounded inputs only (recall ground truth
    for the banded variant). The production path at scale is
    ``embedding_near_dup_pairs_banded`` below."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def embedding_near_dup_pairs_banded(
    df: DataFrame,
    threshold: float,
    plane_bands: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production embedding near-dup: banded hyperplane LSH (the MinHash-LSH
    OR-of-ANDs geometry applied to cosine sketches).

    Candidates must agree on ALL plane signs within at least one band;
    each band contributes a (band, bucket) equi-join — no cross product
    anywhere, so the plan survives 10^12 rows the same way
    minhash_near_dup_pairs does (operators/dedup.py). Exact cosine then
    filters candidates to ≥ threshold; a pair matching in several bands is
    deduped after the (cheap, post-filter) distinct.

    Recall: P[pair surfaces] = 1 - (1 - s^r)^b for sign-agreement rate s,
    r planes/band, b bands — identical copies (s=1) always surface, which is
    the near-dup contract; tune r/b for looser thresholds.
    """
    sketches = F.array(
        *[hyperplane_sketch(F.col(vec_col), band) for band in plane_bands]
    )
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.posexplode(sketches).alias("band", "bucket"),
    )
    a = keyed.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), "band", "bucket"
    )
    b = keyed.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer cells + within-cell exact rank
# ---------------------------------------------------------------------------


def _nearest_cells(vec: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """ARRAY<INT> of the n_probe nearest centroid ids (L2), as a pure
    column expression over broadcast centroid literals."""
    dists = [
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(w)) for w in c]),
                lambda x, w: (x.cast("double") - w) * (x.cast("double") - w),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for c in centroids
    ]
    scored = F.array(
        *[
            F.struct(d.alias("dist"), F.lit(i).alias("cell"))
            for i, d in enumerate(dists)
        ]
    )
    ranked = F.array_sort(scored)  # struct sort: by dist, then cell
    return F.transform(
        F.slice(ranked, 1, n_probe), lambda s: s["cell"]
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus rows live in their nearest cell; each query probes
    its n_probe nearest cells; exact cosine rank within the probed cells.

    Plan shape at scale: the corpus is bucketed ONCE by cell (a narrow
    column, no shuffle until the equi-join on cell id); queries explode to
    n_probe rows. Recall rises with n_probe; n_probe = n_cells degrades to
    brute force."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.try_element_at(_nearest_cells(F.col(vec_col), centroids, 1), F.lit(1)).alias(
            "cell"
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_nearest_cells(F.col(vec_col), centroids, n_probe)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "score",
        )
    )


def centroid_similarity(
    vec: Column, cell: Column, centroids: list[list[float]]
) -> Column:
    """DOUBLE: cosine(vec, centroids[cell]) as a pure expression — the
    centroid table is tiny and ships as an array-of-arrays literal."""
    table = F.array(
        *[F.array(*[F.lit(float(w)) for w in c]) for c in centroids]
    )
    return cosine(vec, F.try_element_at(table, cell + 1))


def semantic_dup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup candidate stage (Abbas et al. 2023, arXiv:2303.09540):
    embeddings bucket into their nearest centroid cell (the paper's
    k-means cluster) and only WITHIN-CELL pairs are scored — exact cosine,
    kept at ``score >= threshold``. Returns ``(id_a, id_b, cell, score)``
    with ``id_a < id_b``.

    Scale shape: one narrow cell assignment (broadcast centroid literals,
    no shuffle), then a self-equi-join on the cell id — the all-pairs
    blowup is bounded per cell (the paper's reason for clustering first);
    skewed cells are ordinary skewed join keys (AQE splits them, or raise
    the centroid count upstream so cells stay balanced).
    """
    c = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.try_element_at(
            _nearest_cells(F.col(vec_col), centroids, 1), F.lit(1)
        ).alias("cell"),
    )
    a = c.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "cell"
    )
    b = c.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "cell"
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "cell", "score")
    )


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full SemDeDup decision: within-cell cosine pairs → connected
    components → per-group survivor. The paper keeps the group member with
    the LOWEST cosine similarity to its cluster centroid (the most
    "atypical" copy — keeping it preserves diversity; arXiv:2303.09540 §3),
    id tie-break. Returns every corpus row as
    ``(id, cell, centroid_sim, cluster, keep_id, keep)`` — singletons keep
    themselves, ``cluster`` is the group's min id (its own id when unique).

    Composition of three existing scale-shaped pieces: cell equi-join
    pairs (above) → ``dedup.connected_components`` (iterative min-label,
    O(1) executor storage) → ``dedup.cluster_representatives`` (one
    cluster-keyed window) with score = −centroid_sim so keep-best-score
    implements keep-least-typical.
    """
    from .dedup import cluster_representatives, connected_components

    pairs = semantic_dup_pairs(
        corpus, centroids, threshold, id_col=id_col, vec_col=vec_col
    )
    comp = connected_components(pairs, "id_a", "id_b")
    celled = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        F.try_element_at(
            _nearest_cells(F.col(vec_col), centroids, 1), F.lit(1)
        ).alias("cell"),
    )
    scored = celled.select(
        "id",
        "cell",
        F.round(
            centroid_similarity(F.col("_v"), F.col("cell"), centroids), 6
        ).alias("centroid_sim"),
    ).join(comp, "id", "left")
    clustered = scored.select(
        "id",
        "cell",
        "centroid_sim",
        F.coalesce("component", "id").alias("cluster"),
        (-F.col("centroid_sim")).alias("_neg_sim"),
    )
    reps = cluster_representatives(
        clustered,
        id_col="id",
        cluster_col="cluster",
        score_col="_neg_sim",
    )
    return (
        clustered.select("id", "cell", "centroid_sim")
        .join(reps.select("id", "cluster", "keep_id", "keep"), "id")
    )


def mine_contrastive_pairs(
    members: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    max_members: int = 4,
    neg_buckets: int = 16,
    salt: str = "cp",
) -> DataFrame:
    """Anchor/positive/negative training triplets from near-dup clusters —
    the standard recipe for contrastive embedding training on web data
    (near-dups are free positives; everything else is a negative).

    * positives: intra-cluster pairs among each cluster's ``max_members``
      hash-ranked representatives — the cap makes a 10^6-member
      boilerplate megacluster contribute O(max_members²) pairs, not 10^12
      (the quadratic guard every cluster consumer here uses),
    * negatives: each anchor deterministically probes ONE md5 bucket of
      the membership table and takes its hash-minimal different-cluster
      doc — an equi-join on the bucket key, never a cross join; anchors
      whose bucket holds only same-cluster docs get a null negative
      (re-salt to re-draw).

    Deterministic end-to-end (hashes, not RNG): same inputs + salt → same
    triplets, so the DuckDB oracle replays it exactly and epoch re-draws
    are just salt changes."""
    idc = F.col(id_col).cast("string")
    ranked = members.select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("cluster"),
        F.row_number()
        .over(
            Window.partitionBy(cluster_col).orderBy(
                F.md5(F.concat(F.lit(salt), idc)), F.col(id_col)
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= max_members)
    a = ranked.select(
        F.col("id").alias("anchor_id"), "cluster", F.col("rnk").alias("ra")
    )
    b = ranked.select(
        F.col("id").alias("positive_id"), "cluster", F.col("rnk").alias("rb")
    )
    pos = a.join(b, "cluster").where(F.col("ra") < F.col("rb")).select(
        "anchor_id", "positive_id", F.col("cluster").alias("cluster_id")
    )
    bucket_of = lambda prefix, c: (  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(F.lit(prefix), c)), 1, 4), 16, 10)
        .cast("long")
        % neg_buckets
    )
    cands = members.select(
        F.col(id_col).alias("cand_id"),
        F.col(cluster_col).alias("cand_cluster"),
        bucket_of(salt + "b", F.col(id_col).cast("string")).alias("bucket"),
        F.concat(
            F.md5(F.concat(F.lit(salt + "o"), F.col(id_col).cast("string"))),
            F.lit("#"),
            F.col(id_col).cast("string"),
        ).alias("ord_key"),
    )
    probed = pos.withColumn(
        "pbucket", bucket_of(salt + "a", F.col("anchor_id").cast("string"))
    )
    # cluster inequality lives in the JOIN condition, not a post-filter:
    # a left join keeps an all-same-cluster bucket probe as a null
    # negative instead of silently dropping the pair
    cond = (probed["pbucket"] == cands["bucket"]) & (
        cands["cand_cluster"] != probed["cluster_id"]
    )
    neg = (
        probed.join(cands, cond, "left")
        .groupBy("anchor_id", "positive_id", "cluster_id")
        .agg(F.min("ord_key").alias("neg_key"))
    )
    return neg.select(
        "anchor_id",
        "positive_id",
        "cluster_id",
        F.split(F.col("neg_key"), "#").getItem(1).cast("long").alias(
            "negative_id"
        ),
    )
