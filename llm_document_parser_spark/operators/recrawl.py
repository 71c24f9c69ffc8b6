"""Adaptive recrawl scheduling from capture-change history.

A crawler that revisits every URL at the same cadence wastes most of its
fetch budget: news front pages change hourly, documentation pages change
yearly. The classic fix (Cho & Garcia-Molina, "Effective Page Refresh
Policies for Web Crawlers") estimates each page's change rate from its
observed capture history and schedules the next fetch inversely to it.
This module is that estimator over a snapshot table — the consumer of
``operators/dedup.capture_drift``'s change verdicts, or of any
(url, ts, digest) capture log.

Everything is integer arithmetic (BIGINT seconds, integer division) so
the DuckDB oracle can match exactly — no float drift in a scheduler.

Scale shape: ONE window (lag over the url's capture order) feeding ONE
url-keyed aggregation. The window's hash partitioning on url satisfies
the groupBy's distribution requirement, so Catalyst plans a single
Exchange for the whole operator; per-url state is two lag slots. At
10^12 captures this is a linear pass.

Reference analog: the service re-parses a document whenever it is
re-uploaded (src/api.py upload path — no scheduling at all); at crawl
scale the engine must DECIDE when to re-fetch, which is this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# revisit-gap clamp, and the gap given to a single-capture url
MIN_SECS = 3600
MAX_SECS = 30 * 86400
DEFAULT_SECS = 86400


def recrawl_schedule(
    caps: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Per-url revisit plan from a capture log.

    Output columns (one row per url):

    * ``n_caps`` — captures observed,
    * ``changes`` — consecutive-capture digest flips,
    * ``change_rate`` — changes / intervals, 6dp (null when single-capture),
    * ``avg_gap_secs`` — observed mean inter-capture gap (integer div),
    * ``next_gap_secs`` — the schedule: ``span // (2 * changes)`` (revisit
      twice per expected change) clamped to [MIN_SECS, MAX_SECS]; 4× the
      observed gap (capped) when the page never changed; ``DEFAULT_SECS``
      for single-capture urls,
    * ``next_fetch_ts`` — last capture ts + next_gap_secs.
    """
    u, t, g = F.col(url_col), F.col(ts_col), F.col(digest_col)
    w = Window.partitionBy(url_col).orderBy(ts_col)
    lagged = caps.select(
        u.alias("url"),
        t.cast("long").alias("ts"),
        (F.lag(g).over(w).isNotNull() & (F.lag(g).over(w) != g))
        .cast("long")
        .alias("flip"),
    )
    agg = lagged.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_caps"),
        F.sum("flip").cast("long").alias("changes"),
        (F.max("ts") - F.min("ts")).cast("long").alias("span_secs"),
        F.max("ts").alias("last_ts"),
    )
    intervals = F.col("n_caps") - 1
    avg_gap = F.when(
        intervals > 0, F.expr("span_secs div (n_caps - 1)")
    ).cast("long")
    raw_gap = (
        F.when(intervals == 0, F.lit(DEFAULT_SECS))
        .when(
            F.col("changes") == 0,
            F.least(avg_gap * 4, F.lit(MAX_SECS).cast("long")),
        )
        .otherwise(
            F.greatest(
                F.least(
                    F.expr("span_secs div (2 * changes)"),
                    F.lit(MAX_SECS).cast("long"),
                ),
                F.lit(MIN_SECS).cast("long"),
            )
        )
    )
    return agg.select(
        "url",
        F.col("n_caps").cast("long").alias("n_caps"),
        "changes",
        F.when(
            intervals > 0,
            F.round(F.col("changes").cast("double") / intervals.cast("double"), 6),
        ).alias("change_rate"),
        avg_gap.alias("avg_gap_secs"),
        raw_gap.cast("long").alias("next_gap_secs"),
        (F.col("last_ts") + raw_gap).cast("long").alias("next_fetch_ts"),
    )
