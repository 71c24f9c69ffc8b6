"""Bloom-filter URL seen-set — map-side membership for crawl frontiers.

At 10^12 crawled urls, "have we already fetched this?" cannot be a join
against the crawl log for every candidate batch: even a semi-join
shuffles the full candidate set against a 10^12-row build side. The
crawl-scale answer is a Bloom filter over the seen-url set, built as a
distributed aggregate and probed entirely map-side.

Spark's own ``bloom_filter_agg`` / ``might_contain`` are internal
expressions (used by runtime-filter injection, NOT registered SQL
routines in Spark 4 — ``UNRESOLVED_ROUTINE`` if you try), so this is a
from-scratch filter with the same geometry:

* build — k hash positions per url, all JVM-side
  (``pmod(xxhash64(seed, url), m)``), ``bit_or``-aggregated into 64-bit
  words keyed by ``position >> 6``: one narrow explode + one shuffle of
  (word, mask) pairs bounded by the FILTER size (m/64 rows), not the
  corpus size. The driver materializes only the m/64-long bitmap.
* probe — the k positions are computed by the SAME JVM expressions (no
  cross-language hash drift possible), and the only Python is one
  vectorized Arrow batch doing a numpy bitmap gather against the
  broadcast bitmap — zero shuffle, zero per-row Python.

Semantics: a seen url ALWAYS probes true, so nothing already fetched is
ever re-fetched (no false negatives); an unseen url may probe true at
the configured false-positive rate and be wrongly skipped — for a crawl
frontier that costs recall, not correctness, and ``fpp`` prices it.
When exactness matters, the existing anti-join is the definitive check;
this operator removes ~all probe volume before it.

Sizing: bits = -n·ln(fpp)/ln(2)², k = (m/n)·ln2 — 10^9 urls at 1% fpp
≈ 1.2 GB of bitmap, the edge of a sane broadcast; beyond that, shard
the seen-set by url-hash range and build one filter per shard.

Not SQL-oracle-able by design (the bit layout is engine-internal);
verified by invariant pytest (tests/test_bloom.py): zero false
negatives, false-positive rate within budget, pre-filter ⊆ exact
anti-join result, shuffle-free probe plan.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


class SeenBloom:
    """Immutable built filter: the bitmap plus its geometry."""

    def __init__(self, words: np.ndarray, num_bits: int, num_hashes: int):
        self.words = words  # uint64[m / 64]
        self.num_bits = num_bits
        self.num_hashes = num_hashes

    def nbytes(self) -> int:
        return int(self.words.nbytes)


def _geometry(expected_items: int, fpp: float) -> tuple[int, int]:
    n = max(int(expected_items), 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(url: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """k bit positions per url — pure JVM expressions, shared verbatim by
    build and probe so hash drift is structurally impossible."""
    return [
        F.pmod(F.xxhash64(F.lit(i), url), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def build_seen_bloom(
    seen: DataFrame,
    url_col: str = "url",
    fpp: float = 0.01,
) -> SeenBloom:
    """Aggregate ``seen[url_col]`` into a Bloom filter, sized for the
    actual count (one extra cheap count job) — undersizing a Bloom
    filter silently raises its false-positive rate."""
    m, k = _geometry(seen.count(), fpp)
    pos = F.explode(F.array(*_positions(F.col(url_col), m, k))).alias("pos")
    words = (
        seen.select(pos)
        .select(
            F.shiftrightunsigned("pos", 6).alias("word"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pmod(pos, 64) as int))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
        .collect()
    )
    bitmap = np.zeros(m // 64, dtype=np.uint64)
    for r in words:
        bitmap[int(r["word"])] = np.uint64(r["mask"] & 0xFFFFFFFFFFFFFFFF)
    return SeenBloom(bitmap, m, k)


# bitmaps up to this size are probed as pure codegen bit tests against a
# broadcast ONE-ROW bitmap relation (zero Python in the plan); bigger
# filters (the 10^8-10^9-item crawl seen-sets) keep the Arrow +
# sparkContext.broadcast path, whose vectorized numpy gather amortizes
# better once the bitmap itself is the dominant payload
_INLINE_BITMAP_MAX_BYTES = 4 << 20

_BLOOM_WORDS_COL = "__bloom_words__"


def _bitmap_filter_native(
    candidates: DataFrame, bloom: SeenBloom, col: str, keep_might: bool
) -> DataFrame:
    """JVM-only probe: the bitmap rides as a one-row broadcast relation
    (a single real array value — NOT an F.lit(list), which PySpark turns
    into a CreateArray of 56k literal children re-materialized per row;
    measured 33 s vs 2 s at 9.5M probe rows). The k bit tests are plain
    codegen expressions over the joined array column."""
    spark = candidates.sparkSession
    words_df = spark.createDataFrame(
        [(bloom.words.view(np.int64).tolist(),)],
        f"{_BLOOM_WORDS_COL} array<bigint>",
    )
    joined = candidates.crossJoin(F.broadcast(words_df))
    warr = F.col(_BLOOM_WORDS_COL)
    pred = None
    for p in _positions(F.col(col), bloom.num_bits, bloom.num_hashes):
        word = F.try_element_at(
            warr, F.shiftrightunsigned(p, 6).cast("int") + 1
        )
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), F.pmod(p, 64).cast("int")
        )
        test = word.bitwiseAND(mask) != 0
        pred = test if pred is None else pred & test
    return joined.filter(pred if keep_might else ~pred).drop(_BLOOM_WORDS_COL)


def _might_contain_pred(df: DataFrame, bloom: SeenBloom, col: str):
    """Boolean Column: value MIGHT be in the set ``bloom`` was built from
    (true for every member, plus false positives at the fpp rate).
    Map-side only — one vectorized numpy bitmap gather against a
    broadcast bitmap (the large-filter path; small filters go through
    ``_bitmap_filter_native``)."""
    # explicit broadcast: a closure-captured array reships with every
    # task's serialized UDF; a broadcast ships once per executor
    bc = df.sparkSession.sparkContext.broadcast(bloom.words)

    @pandas_udf("boolean")
    def _might_contain(pos_lists: pd.Series) -> pd.Series:
        if len(pos_lists) == 0:
            return pd.Series([], dtype=bool)
        words = bc.value
        pos = np.vstack(pos_lists.to_numpy()).astype(np.uint64)  # (rows, k)
        w = words[pos >> np.uint64(6)]
        bit = (w >> (pos & np.uint64(63))) & np.uint64(1)
        return pd.Series(bit.all(axis=1))

    pos_col = F.array(
        *_positions(F.col(col), bloom.num_bits, bloom.num_hashes)
    )
    return _might_contain(pos_col)


def filter_might_contain(
    candidates: DataFrame,
    bloom: SeenBloom,
    col: str = "url",
) -> DataFrame:
    """The positive side: rows whose value MIGHT be in the built set.
    Keeps EVERY true member (no false negatives) plus the fpp rate of
    non-members — the right pre-filter in front of an exact join that
    verifies survivors (see operators/decontaminate.py), where false
    positives cost a little join volume and false negatives would cost
    correctness."""
    if bloom.nbytes() <= _INLINE_BITMAP_MAX_BYTES:
        return _bitmap_filter_native(candidates, bloom, col, keep_might=True)
    return candidates.filter(_might_contain_pred(candidates, bloom, col))
