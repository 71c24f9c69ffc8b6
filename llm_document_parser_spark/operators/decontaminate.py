"""Benchmark decontamination — flag training documents that overlap an
evaluation benchmark, the GPT-3/RefinedWeb-style n-gram filter every
serious training-data pipeline runs before a corpus ships.

Semantics: a document is contaminated when it shares at least
``min_hits`` distinct word n-grams (default 13-grams, the published
operating point) with ANY benchmark item. The operator reports per-doc
evidence — how many distinct n-grams collide and with how many distinct
benchmark items — so the decision threshold stays a downstream knob.

Scale shape (the asymmetry is the whole design): the corpus side is
10^12 documents, the benchmark side is 10^4-10^6 eval items. Corpus
n-grams are exploded per-partition (one generator, no shuffle until the
join); the benchmark n-gram table is DISTINCT, tiny, and broadcast, so
the contamination check is a map-side hash join — zero shuffle of corpus
text — followed by one groupBy on doc id.

All native column expressions; n-grams come from the same tokenizer as
the dedup shingles (``dedup.shingles_col``), so decontamination and
near-dup share one text normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint

from .dedup import _exploded_shingles


def benchmark_ngrams(
    benchmark: DataFrame,
    id_col: str = "bench_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """(ngram, bench_id) — distinct n-grams per benchmark item. Small by
    construction; computed once and reused across corpus shards.

    The benchmark frame usually arrives as a handful of input splits (a
    single eval-set file is ONE scan task), while the shingle HOF above it
    is the expensive interpreted part — rebalance it across the cluster
    first when it is under-partitioned (guide §2.5: repartition
    immediately after a small-file read). The repartition moves only the
    benchmark rows (small by contract), never the corpus."""
    par = benchmark.sparkSession.sparkContext.defaultParallelism
    if benchmark.rdd.getNumPartitions() < par:
        benchmark = benchmark.repartition(par)
    return (
        _exploded_shingles(benchmark, id_col, text_col, n)
        .select(F.col("id").alias("bench_id"), F.col("s").alias("ngram"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    bloom_fpp: float | None = None,
) -> DataFrame:
    """(doc id, overlap_ngrams, n_benchmarks) for every document sharing
    ≥ ``min_hits`` distinct n-grams with the benchmark. Clean documents
    are absent (the common case at 10^12 rows — emitting them would be a
    full-corpus write for a near-empty signal); callers needing a flag
    column left-join this back on the id.

    ``bloom_fpp`` (e.g. 0.001) inserts a Bloom pre-filter (operators/
    bloom.py) between the corpus gram explode and the join: a filter is
    built over the benchmark gram keys and corpus grams that can't
    possibly match are dropped MAP-SIDE before they reach the join
    probe. A Bloom has no false negatives, so every true collision
    survives to the exact join and the report is IDENTICAL to the
    unfiltered path (tested); false positives only add back a bloom_fpp
    fraction of join volume. This is the 10^5-10^6-item-benchmark scale
    path: the bitmap (~1.8 MB per 10^6 grams at 0.1% fpp) is far
    smaller than the gram table it stands for."""
    bench = benchmark_ngrams(benchmark, bench_id_col, bench_text_col, n)
    # corpus grams via the codegen occurrence explode (dedup._exploded_
    # shingles): identical contamination report — both count_distinct
    # aggregates are insensitive to intra-doc gram repeats — with zero
    # interpreted HOF work at corpus width
    doc_ngrams = _exploded_shingles(docs, id_col, text_col, n).select(
        F.col("id").alias(id_col), F.col("s").alias("ngram")
    )
    if bloom_fpp is not None:
        from .bloom import build_seen_bloom, filter_might_contain

        # the benchmark gram table is consumed three times on this path
        # (sizing count, bitmap aggregation, final join) — materialize it
        # once; it is benchmark-sized (small by contract), never corpus
        bench = checkpoint(bench)
        bench_keys = bench.select("ngram").distinct()
        bloom = build_seen_bloom(bench_keys, url_col="ngram", fpp=bloom_fpp)
        doc_ngrams = filter_might_contain(doc_ngrams, bloom, col="ngram")
    return (
        doc_ngrams.join(F.broadcast(bench), "ngram")
        .groupBy(id_col)
        .agg(
            F.count_distinct("ngram").cast("long").alias("overlap_ngrams"),
            F.count_distinct("bench_id").cast("long").alias("n_benchmarks"),
        )
        .filter(F.col("overlap_ngrams") >= min_hits)
    )
