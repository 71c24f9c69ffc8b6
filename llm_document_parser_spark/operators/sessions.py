"""Gap-based sessionization over a batch events table.

A session is a maximal run of a user's events with no gap larger than
``gap_minutes`` between consecutive events — the standard web-analytics
definition (and the crawl-log equivalent: fetch bursts per host). The
assignment is the classic two-window composition: a ``lag`` marks
session starts, a running sum numbers them; both windows share one
(user, ts) partition sort, so the whole operator is a single Exchange.

Scale shape: one shuffle on the user key; windows stream (running sum,
not buffering rank). Skewed users behave like any skewed window
partition — pre-split upstream if one key dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Append ``session_no`` (1-based per user, in time order). Events
    sharing a timestamp order by ``tiebreak_col`` (strongly recommended
    for determinism when duplicate timestamps are possible)."""
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts)
            > gap_minutes * 60
        ),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_no",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One row per (user, session): event count, start, duration."""
    s = sessionize(events, user_col, ts_col, gap_minutes, tiebreak_col)
    return s.groupBy(user_col, "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).cast("long").alias("duration_secs"),
    )
