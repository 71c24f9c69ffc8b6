"""Symmetric int8 embedding quantization — the storage/IO tier for
billion-vector similarity search.

At 10^9-10^12 documents the embedding column dominates storage and
shuffle width: 64 float32 dims = 256 B/row, versus 64 int8 codes + one
float scale = 68 B — a 3.8x cut that FAISS/ScaNN-style systems take
before anything else (IVF cell probing works on the quantized codes;
exact re-ranking dequantizes only the short candidate list). This module
is that transform as pure column expressions — zero Python, zero
shuffle, codegen end to end.

Per-vector symmetric scheme:  scale = max(|v|) / 127,
q_i = clamp(floor(v_i / scale + 0.5), -127, 127),  v̂_i = q_i * scale.

``floor(x + 0.5)`` is used INSTEAD of round(): engines disagree on
round-half-to-even vs half-away-from-zero, while floor is defined
identically everywhere — so the int8 codes are EXACTLY reproducible
cross-engine (the DuckDB oracle matches integer checksums with no
rounding tolerance at all). A zero vector quantizes to all-zero codes
with scale 0 (dequantizing to zeros, not NaN).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint, storage_scope
from ..ml.kmeans_dataflow import cell_distances, nearest_cell


def int8_scale(vec: Column) -> Column:
    """max(|v|)/127 as double (0.0 for the all-zero vector)."""
    return (
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))) / 127.0
    )


def quantize_int8(vec: Column, scale: Column) -> Column:
    """ARRAY<INT> of int8 codes (kept as int for portable arithmetic)."""
    return F.transform(
        vec,
        lambda x: F.when(scale == 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x.cast("double") / scale + 0.5).cast("int"),
                ),
            )
        ),
    )


def dequantize(codes: Column, scale: Column) -> Column:
    return F.transform(codes, lambda q: q.cast("double") * scale)


def quantization_report(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector quantization fidelity: integer code checksums (exact
    cross-engine — sum and L1 of the codes), the scale, reconstruction
    MSE, and cosine(original, reconstructed). The decision inputs for
    choosing a storage tier: cos ~0.999+ means the int8 tier is safe for
    candidate generation."""
    scale = int8_scale(F.col(vec_col))
    out = df.select(
        F.col(id_col), F.col(vec_col).alias("v"), scale.alias("scale")
    ).select(
        id_col,
        "scale",
        quantize_int8(F.col("v"), F.col("scale")).alias("q"),
        "v",
    )
    vhat = dequantize(F.col("q"), F.col("scale"))
    err2 = F.zip_with(
        F.col("v"), vhat, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
    )
    dot_vv = F.aggregate(
        F.transform(F.col("v"), lambda a: a.cast("double") * a.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot_hh = F.aggregate(
        F.transform(vhat, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
    )
    dot_vh = F.aggregate(
        F.zip_with(F.col("v"), vhat, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.when(
        (dot_vv == 0.0) | (dot_hh == 0.0), F.lit(1.0)
    ).otherwise(dot_vh / (F.sqrt(dot_vv) * F.sqrt(dot_hh)))
    return out.select(
        id_col,
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x)
        .alias("q_sum"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
        F.round("scale", 9).alias("scale_r"),
        F.round(
            F.aggregate(err2, F.lit(0.0), lambda acc, x: acc + x)
            / F.size(F.col("v")),
            9,
        ).alias("mse_r"),
        F.round(cos, 6).alias("cos_r"),
    )


# ---------------------------------------------------------------------------
# product quantization — the sub-byte-per-dimension ANN storage tier
# ---------------------------------------------------------------------------
# int8 keeps one byte per dimension; PQ (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011) goes further:
# split each vector into m subvectors, train a small k-means codebook
# per subspace, store only the m nearest-centroid ids — 64 dims at
# m=8/k=16 is 8 half-byte codes (4 B/vector vs 256 B float32). pq_train
# is the package's one Lloyd loop (ml/kmeans_dataflow.kmeans_lloyd is
# its m=1 case: deterministic explicit seeding, driver-held codebooks),
# and training, encoding and IVF search all assign with
# kmeans_dataflow.nearest_cell over SLICES — the whole encode path is
# codegen over codebook literals (zero shuffle, zero Python).


def pq_train(
    corpus: "DataFrame",
    m: int = 8,
    init_ids: list[int] | None = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace codebooks: ``m`` lists of k centroids (k =
    len(init_ids)), subspace j trained on dimensions
    [j*d/m, (j+1)*d/m) of every vector — the Lloyd algebra of
    ml/kmeans_dataflow (round-9 argmin, lowest-id ties, empty cell keeps
    its centroid) applied to every subspace in ONE dataflow.

    The seed vectors are collected once (sliced on the driver:
    O(model)), the vector column is checkpointed once, and each
    iteration is a single job: per row, an m-element struct array
    carries (subspace, assigned cell, subvector), explodes, and one
    groupBy (subspace, cell) emits every codebook's centroid updates
    together. Per-subspace arithmetic is that of m separate one-subspace
    runs — the same values aggregate under the same per-partition
    order, only grouped by (subspace, cell) instead of one job per
    subspace."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if init_ids is None:
        init_ids = [0, 1, 2, 3]
    seed_rows = (
        corpus.filter(F.col(id_col).isin([int(i) for i in init_ids]))
        .select(id_col, vec_col)
        .collect()  # k seed vectors — O(model), not a data collection
    )
    by_id = {r[id_col]: [float(x) for x in r[vec_col]] for r in seed_rows}
    missing = [i for i in init_ids if i not in by_id]
    if missing:
        raise ValueError(f"init ids not found in corpus: {missing}")
    dim = len(by_id[init_ids[0]])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [by_id[i][j * sub:(j + 1) * sub] for i in init_ids] for j in range(m)
    ]
    if iterations == 0:
        return books
    k = len(init_ids)
    with storage_scope():
        corpus = checkpoint(corpus.select(vec_col))
        for _ in range(iterations):
            arms = []
            for j, book in enumerate(books):
                piece = F.slice(F.col(vec_col), j * sub + 1, sub)
                arms.append(
                    F.struct(
                        F.lit(j).alias("j"),
                        nearest_cell(piece, book).alias("cell"),
                        piece.alias("sv"),
                    )
                )
            rows = (
                corpus.select(F.explode(F.array(*arms)).alias("a"))
                .select("a.j", "a.cell", "a.sv")
                .groupBy("j", "cell")
                .agg(
                    *[
                        F.avg(F.col("sv")[d].cast("double")).alias(f"m{d}")
                        for d in range(sub)
                    ]
                )
                .collect()  # <= m*k rows of sub doubles
            )
            means = {
                (r["j"], r["cell"]): [float(r[f"m{d}"]) for d in range(sub)]
                for r in rows
            }
            books = [
                [means.get((j, i), books[j][i]) for i in range(k)]
                for j in range(m)
            ]
    return books


def _pq_codes_col(vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """ARRAY<INT> of per-subspace nearest-centroid ids (round-9 argmin,
    lowest-id ties)."""
    sub = len(codebooks[0][0])
    return F.array(
        *[
            nearest_cell(F.slice(F.col(vec_col), j * sub + 1, sub), book)
            for j, book in enumerate(codebooks)
        ]
    )


def pq_encode(
    df: "DataFrame",
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """(id, codes) — pure column expressions over codebook literals,
    zero shuffle, zero Python."""
    return df.select(
        F.col(id_col), _pq_codes_col(vec_col, codebooks).alias("codes")
    )


def pq_adc_topk(
    queries_df: "DataFrame",
    codes_df: "DataFrame",
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """Asymmetric distance computation (ADC) top-k: approximate L2
    distances from a full-precision query to PQ-CODED corpus vectors —
    Jégou TPAMI'11 §III-B, the scoring mode every FAISS IVF-PQ index
    uses. Per query, the distance to a coded vector is

        d²(q, x) ≈ SUM over subspaces j of ||q_j - codebook_j[code_j]||²

    i.e. each query precomputes an m×k table of subvector-to-centroid
    distances, and scoring a corpus vector is m table lookups + adds —
    the corpus' float vectors are NEVER read (that is the point: at
    10^9+ vectors only the 4-byte code rows stream through the scan,
    a ~64× IO cut at these parameters).

    Relational form: the query side (small, broadcast) carries its
    distance table as m arrays built from codebook literals; the join is
    a broadcast cross join (every query scores every code row — the
    brute-force verification tier; compose with IVF cell pruning for the
    scale path, exactly like similarity.cosine_topk → ivf_topk), and the
    lookup is ``element_at(table_j, code_j + 1)`` — pure codegen.
    Distances round to 6 before ranking (round-before-rank policy);
    ties break on the corpus id. Returns (query_id, neighbor_id, rank,
    adc_dist)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for c in codebooks[j]
                ]
            ).alias(f"t{j}")
            for j in range(m)
        ],
    )
    c = codes_df.select(F.col(id_col).alias("neighbor_id"), "codes")
    dist = F.round(
        sum(
            F.element_at(F.col(f"t{j}"), F.col("codes")[j] + 1)
            for j in range(m)
        ),
        6,
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", dist.alias("adc_dist"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "adc_dist",
        )
    )


def ivf_adc_topk(
    queries_df: "DataFrame",
    corpus_df: "DataFrame",
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """IVF-PQ search — the production ANN plan end to end (FAISS
    IndexIVFPQ): the corpus is stored as (cell, codes) — coarse cell
    from the full-dimension quantizer, PQ codes per subspace, floats
    discarded; a query probes only its ``n_probe`` nearest coarse
    cells and ADC-scores the candidates there. Composition of the
    verified pieces: kmeans_dataflow.nearest_cell (coarse),
    _pq_codes_col (codes), similarity's probe-cell algebra, pq_adc_topk
    scoring.

    Scale shape (unlike the brute-force pq_adc_topk tier): the join is
    a CELL EQUI-JOIN — the broadcast query side explodes to
    (query, probe_cell) rows and matches corpus rows on cell, so the
    scored candidate count is the probed cells' population, not
    |queries| x |corpus|. Partition/bucket the stored index by cell and
    the probe is a pruned scan. Returns (query_id, neighbor_id, rank,
    adc_dist); round-6-before-rank, id tie-breaks, self-matches
    excluded."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    # stored index: (id, cell, codes) — one zero-shuffle projection
    index = corpus_df.select(
        F.col(id_col).alias("neighbor_id"),
        nearest_cell(F.col(vec_col), coarse_centroids).alias("cell"),
        _pq_codes_col(vec_col, codebooks).alias("codes"),
    )
    # query side: probe cells (n_probe nearest coarse centroids) +
    # per-subspace distance tables, then explode probes for the equi-join
    by_dist = F.array_sort(cell_distances(F.col(vec_col), coarse_centroids))
    ranked_cells = F.transform(F.slice(by_dist, 1, n_probe), lambda s: s["cell"])
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        ranked_cells.alias("probe_cells"),
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for c in codebooks[j]
                ]
            ).alias(f"t{j}")
            for j in range(m)
        ],
    ).select(
        "query_id",
        F.explode("probe_cells").alias("cell"),
        *[f"t{j}" for j in range(m)],
    )
    dist = F.round(
        sum(
            F.element_at(F.col(f"t{j}"), F.col("codes")[j] + 1)
            for j in range(m)
        ),
        6,
    )
    cands = index.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cands.select("query_id", "neighbor_id", dist.alias("adc_dist"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "adc_dist",
        )
    )
