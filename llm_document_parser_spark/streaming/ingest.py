"""Structured Streaming ingest — the Spark restatement of the reference's
Celery task machinery (SURVEY.md §2.10).

Mapping:
  T1/T2 async parse/batch tasks (reference: src/celery_app.py:74-238)
        → ``readStream`` over the pages table + ``foreachBatch`` running the
          same extract_pipeline; a micro-batch IS the batch task
  T4 task-status polling (reference: src/celery_app.py:370-395)
        → ``StreamingQuery.lastProgress`` + the per-batch metrics table
  T5/T6 rate limits (reference: src/rate_limiter.py, celery rate caps)
        → ``maxFilesPerTrigger`` / processing-time triggers
  T7 daily quota windows → tumbling ``window(warc_ts, '1 day')`` counts

Late data: ``warc_ts`` watermarking is wired for the windowed counter even
though the reference has no late-data concept — at crawl scale out-of-order
timestamps are the norm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import extract_pipeline
from ..schemas import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession,
    pages_path: str,
    max_files_per_trigger: int | None = 4,
) -> DataFrame:
    """File-source stream over a pages parquet directory; the throttle knob
    is the streaming analog of the reference's 10-docs/min Celery cap."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_path)


def start_extract_stream(
    spark: SparkSession,
    pages_path: str,
    results_path: str,
    checkpoint_path: str,
    metrics_path: str | None = None,
    max_files_per_trigger: int | None = 4,
) -> StreamingQuery:
    """readStream → extract_pipeline → parquet sink via foreachBatch, with a
    per-micro-batch success/fail rollup (A4) written to a metrics table. The
    rollup's counts are observed on the batch's own write, so a batch runs
    one extraction job and caches nothing.

    foreachBatch alone is at-least-once: a crash after a (partial or
    complete) write but before the checkpoint commit replays the batch. The
    sink is therefore made IDEMPOTENT per batch — output is partitioned by
    ``batch_id`` and written with dynamic partition overwrite, so a replayed
    batch replaces its own partition instead of appending duplicates
    (the streaming counterpart of lineage.run_with_lineage's
    bucket-partition overwrite). Checkpoint replay + idempotent re-write =
    effective exactly-once in the committed table.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        results = extract_pipeline(batch_df).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        obs = Observation()
        (
            results.observe(
                obs,
                F.count("*").alias("total"),
                F.sum(F.when(F.col("success"), 1).otherwise(0)).cast("long").alias("successful"),
                F.sum(F.when(~F.col("success"), 1).otherwise(0)).cast("long").alias("failed"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(results_path)
        )
        if metrics_path is not None:
            counts = obs.get
            rollup = batch_df.sparkSession.range(1, numPartitions=1).select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                *[F.lit(counts[c]).cast("long").alias(c) for c in ("total", "successful", "failed")],
                F.current_timestamp().alias("finished_at"),
            )
            (
                rollup.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(metrics_path)
            )

    stream = stream_pages(spark, pages_path, max_files_per_trigger)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def daily_url_counts(pages_stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """T7 — tumbling daily counts with late-data watermark (quota analog)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 day").alias("day"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("day.start").alias("day_start"),
            F.col("n_pages"),
        )
    )
