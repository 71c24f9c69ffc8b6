"""Structured Streaming ingest (T1-T7): micro-batch extraction + rollups."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.streaming.ingest import start_extract_stream


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_stream_extracts_all_pages_with_metrics(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    generate_pages(spark, 40, seed=9, partitions=4).write.parquet(pages_path)
    persisted = _persistent_rdds(spark)

    q = start_extract_stream(
        spark,
        pages_path,
        results_path=str(tmp_path / "results"),
        checkpoint_path=str(tmp_path / "ckpt"),
        metrics_path=str(tmp_path / "metrics"),
        max_files_per_trigger=2,
    )
    assert q.awaitTermination(180)

    results = spark.read.parquet(str(tmp_path / "results"))
    assert results.count() == 40
    assert results.select("url").distinct().count() == 40

    metrics = spark.read.parquet(str(tmp_path / "metrics"))
    rows = metrics.collect()
    assert len(rows) >= 2  # throttle forced multiple micro-batches
    assert sum(r["total"] for r in rows) == 40
    assert sum(r["successful"] for r in rows) == 40
    # each batch's metrics row equals an aggregate over its committed rows
    want = results.groupBy("batch_id").agg(
        F.count("*").alias("total"),
        F.sum(F.col("success").cast("long")).alias("successful"),
        F.sum((~F.col("success")).cast("long")).alias("failed"),
    )
    assert sorted(metrics.drop("finished_at").collect()) == sorted(
        want.select(*metrics.drop("finished_at").columns).collect()
    )
    assert _persistent_rdds(spark) == persisted  # the sink caches nothing


def test_stream_restart_is_exactly_once(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    generate_pages(spark, 20, seed=13, partitions=2).write.parquet(pages_path)
    kwargs = dict(
        pages_path=pages_path,
        results_path=str(tmp_path / "results"),
        checkpoint_path=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q = start_extract_stream(spark, **kwargs)
    assert q.awaitTermination(180)
    n1 = spark.read.parquet(str(tmp_path / "results")).count()
    # restart against the same checkpoint: no new input -> no duplicates
    q2 = start_extract_stream(spark, **kwargs)
    assert q2.awaitTermination(180)
    n2 = spark.read.parquet(str(tmp_path / "results")).count()
    assert n1 == n2 == 20


def test_daily_window_counts_with_watermark(spark, tmp_path):
    from llm_document_parser_spark.streaming.ingest import daily_url_counts, stream_pages

    pages_path = str(tmp_path / "wpages")
    generate_pages(spark, 50, seed=15, partitions=2).write.parquet(pages_path)
    stream = stream_pages(spark, pages_path, max_files_per_trigger=None)
    counts = daily_url_counts(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("daily_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM daily_counts").collect()
    # append mode + availableNow: windows older than the watermark emit
    assert sum(r["n_pages"] for r in rows) > 0
    assert all(r["n_pages"] >= 1 for r in rows)


def test_stream_midbatch_replay_does_not_duplicate(spark, tmp_path):
    """at-least-once replay simulation: drop the final checkpoint commit so
    the restarted stream re-executes that micro-batch. The batch_id-partition
    overwrite sink must replace, not append."""
    import pathlib

    pages_path = str(tmp_path / "pages")
    generate_pages(spark, 20, seed=21, partitions=2).write.parquet(pages_path)
    kwargs = dict(
        pages_path=pages_path,
        results_path=str(tmp_path / "results"),
        checkpoint_path=str(tmp_path / "ckpt"),
        metrics_path=str(tmp_path / "metrics"),
        max_files_per_trigger=1,
    )
    q = start_extract_stream(spark, **kwargs)
    assert q.awaitTermination(180)
    n1 = spark.read.parquet(str(tmp_path / "results")).count()
    assert n1 == 20

    # simulate a crash after the sink write but before the checkpoint commit
    commits_dir = pathlib.Path(str(tmp_path / "ckpt")) / "commits"
    commits = sorted(p for p in commits_dir.iterdir() if not p.name.startswith("."))
    last = commits[-1]
    crc = commits_dir / f".{last.name}.crc"
    if crc.exists():
        crc.unlink()  # ChecksumFs sidecar — a stale .crc breaks the re-commit rename
    last.unlink()

    q2 = start_extract_stream(spark, **kwargs)
    assert q2.awaitTermination(180)
    results = spark.read.parquet(str(tmp_path / "results"))
    assert results.count() == 20  # replayed batch replaced its partition
    assert results.select("url").distinct().count() == 20

    metrics = spark.read.parquet(str(tmp_path / "metrics"))
    per_batch = metrics.groupBy("batch_id").count().collect()
    assert all(r["count"] == 1 for r in per_batch)  # no duplicate metric rows
    assert sum(r["total"] for r in metrics.collect()) == 20
