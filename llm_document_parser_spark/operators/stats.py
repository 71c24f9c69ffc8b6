"""Mergeable per-source corpus statistics — the incremental-ingest
bookkeeping tier.

A daily-crawl pipeline must answer "how big is each source now?" after
every batch WITHOUT re-scanning the 10^12-row corpus. The fix is the
standard sketch-algebra discipline: keep only statistics that form a
commutative monoid (counts, sums, mins, maxs), so
``stats(A ∪ B) == merge(stats(A), stats(B))`` exactly, for any split,
in any order. Derived values (means) are computed at READ time from the
monoid fields, never stored — storing a mean breaks mergeability.

``incremental_stats_merge`` (queries.py) proves the algebra end-to-end:
the engine computes stats on two disjoint halves and merges; the oracle
recomputes from the full table in one pass; the rows must be identical.

Scale shape: ``source_stats`` is one map-side-combining agg over the
batch (batch-sized, not corpus-sized); ``merge_stats`` is a union + agg
over |sources| rows — driver-trivial state, executor-free in practice.
Reference analog: the service recounts its Mongo collection per status
request (src/api.py summary endpoint); at crawl scale the count must be
maintained, not recomputed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the monoid fields, in canonical column order
STAT_FIELDS = ("n_docs", "n_tokens", "sum_chars", "min_chars", "max_chars")


def source_stats(
    docs: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source mergeable stats for one batch: doc count, whitespace
    token count, char sum/min/max. One aggregation, partial map-side."""
    n_chars = F.length(F.col(text_col)).cast("long")
    n_toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    return docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_toks).cast("long").alias("n_tokens"),
        F.sum(n_chars).cast("long").alias("sum_chars"),
        F.min(n_chars).cast("long").alias("min_chars"),
        F.max(n_chars).cast("long").alias("max_chars"),
    )


def merge_stats(*stats: DataFrame) -> DataFrame:
    """Exact merge of any number of ``source_stats`` outputs — the monoid
    reduce: sums add, mins min, maxs max. Associative and commutative by
    construction, so batches can merge in any grouping (tree-reduce
    across days, re-merge after replays)."""
    if not stats:
        raise ValueError("merge_stats needs at least one stats frame")
    u = stats[0]
    for s in stats[1:]:
        u = u.unionByName(s)
    return u.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("sum_chars").cast("long").alias("sum_chars"),
        F.min("min_chars").cast("long").alias("min_chars"),
        F.max("max_chars").cast("long").alias("max_chars"),
    )


def with_derived(stats: DataFrame) -> DataFrame:
    """Read-time derived columns: mean chars/tokens per doc (6dp).
    Computed from monoid fields — never stored in the running stats."""
    return stats.select(
        "source",
        *STAT_FIELDS,
        F.round(
            F.col("sum_chars").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("avg_chars"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# mergeable quantile histograms — percentiles without the full sort
# ---------------------------------------------------------------------------
# Exact percentiles need a per-group sort of the whole corpus; the scale
# answer is a bounded histogram whose rows ALSO form a monoid (per-bin
# count/min/max merge by sum/min/max), so per-batch histograms combine
# into corpus percentiles without re-scanning — the same incremental
# discipline as source_stats, extended to distribution shape. Bins are
# powers of two on value+1 (doc lengths span 1..10^7, so ~24 bins cover
# everything); the bin index is computed by INTEGER comparisons against
# power-of-two literals, never by float log — ln(x+1)/ln(2) lands
# exactly on an integer at every boundary value and libm rounding there
# differs across engines, a real cross-engine trap.
# Quantile-at-read: walk the cumulative counts to the target rank and
# interpolate linearly between the bin's observed min and max (tighter
# than bin edges: a bin holding one distinct value estimates exactly).

N_LOG_BINS = 40  # 2^40 covers any practical length/size column


def logbin_of(value):
    """floor(log2(value+1)) via chained integer comparisons (exact;
    negative values clamp to bin 0)."""
    v = value + F.lit(1).cast("long")
    b = F.lit(0)
    for k in range(1, N_LOG_BINS):
        b = b + (v >= F.lit(2 ** k)).cast("int")
    return b


def value_histogram(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-(group, bin) monoid rows: (group, bin, cnt, mn, mx). One
    map-side-combining aggregation; at most ``N_LOG_BINS`` rows per group
    regardless of corpus size."""
    v = F.col(value_col).cast("long")
    return (
        df.select(
            F.col(group_col).alias("group"),
            logbin_of(v).alias("bin"),
            v.alias("v"),
        )
        .groupBy("group", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )


def histogram_quantiles(
    hist: DataFrame, ps: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """Estimated quantiles per group from histogram rows: for each p the
    first bin whose cumulative count reaches rank ``p * n`` supplies

        est = mn + (mx - mn) * (p*n - cum_before) / cnt

    One window over the per-group bin rows (at most N_LOG_BINS each —
    the window input is sketch-sized, not corpus-sized). Returns
    (group, n, q<p> per requested p, max exact) with estimates rounded
    to 4."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("group").orderBy("bin")
    wg = Window.partitionBy("group")
    cum = F.sum("cnt").over(w)
    ranked = (
        hist.withColumn("cum", cum)
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(wg))
        .withColumn("gmax", F.max("mx").over(wg))
    )
    aggs = [F.first("n").alias("n_values"), F.first("gmax").alias("max_value")]
    for p in ps:
        t = F.lit(float(p)) * F.col("n")
        est = F.col("mn") + (F.col("mx") - F.col("mn")) * (
            t - F.col("cum_before")
        ) / F.col("cnt")
        hit = (F.col("cum") >= t) & (F.col("cum_before") < t)
        aggs.append(
            F.round(F.min(F.when(hit, est)), 4).alias(f"q{round(p * 100)}")
        )
    return ranked.groupBy("group").agg(*aggs)
