"""Perceptual-hash near-duplicate matching for image rows.

Images are matched by a 64-bit difference hash (dHash) per row; this
module finds every pair of hashes within a small Hamming distance with a
banded equi-join, the same geometry as the MinHash LSH path in
operators/dedup.py, and no Python and no cross product in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dhash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "url",
    hash_col: str = "dhash",
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming distance <= 3.

    Banded exact matching: the 64-bit hash splits into 4 16-bit bands;
    a pair within Hamming distance d < 4 differs in at most d bands, so
    it MATCHES on >= 4-d >= 1 band — the band equi-join is a complete
    candidate generator for distance <= 3 (looser thresholds need more
    bands). Verification is one native bit_count(xor). Scale shape:
    explode x4 -> shuffle on (band, key) -> bucket self-join -> distinct,
    identical geometry to the MinHash LSH path; no Python, no cross
    product."""
    h = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    )
    bands = h.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("h", 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "h", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"), "band", "key"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
