"""Idempotent resume semantics: kill mid-job, resume, byte-equal results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.lineage import job_progress, run_with_lineage
from llm_document_parser_spark.pipeline import extract_pipeline


def _transform(df):
    return extract_pipeline(df).drop("processing_time")


def _snapshot(spark, path):
    rows = spark.read.parquet(path).drop("bucket").collect()
    return sorted((r["url"], r["extracted_text"], r["document_type"]) for r in rows)


def test_resume_after_kill_produces_identical_results(spark, tmp_path):
    pages = generate_pages(spark, 60, seed=3, partitions=4)

    # one-shot reference run
    ref_res = str(tmp_path / "ref_results")
    ref_lin = str(tmp_path / "ref_lineage")
    run_with_lineage(
        spark, pages, _transform, ref_res, ref_lin, job_id="ref", num_buckets=8
    )
    want = _snapshot(spark, ref_res)
    assert len(want) == 60

    # killed run: fails after 1 of 2 groups committed
    res = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_lineage(
            spark, pages, _transform, res, lin,
            job_id="j1", num_buckets=8, fail_after_groups=1,
        )
    prog = job_progress(spark, lin, "j1", 8)
    assert 0 < prog["completed_buckets"] < 8

    # resume with the same job id → completes, results byte-equal to one-shot
    run_with_lineage(
        spark, pages, _transform, res, lin, job_id="j1", num_buckets=8
    )
    assert job_progress(spark, lin, "j1", 8)["progress"] == 1.0
    assert _snapshot(spark, res) == want


def test_rerun_completed_job_is_noop(spark, tmp_path):
    pages = generate_pages(spark, 20, seed=5, partitions=2)
    res = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    run_with_lineage(spark, pages, _transform, res, lin, job_id="j2", num_buckets=4)
    first = _snapshot(spark, res)
    run_with_lineage(spark, pages, _transform, res, lin, job_id="j2", num_buckets=4)
    lineage_rows = (
        spark.read.parquet(lin).filter(F.col("job_id") == "j2").count()
    )
    assert lineage_rows == 4  # no duplicate lineage appends on no-op rerun
    assert _snapshot(spark, res) == first


def test_transform_executes_once_per_group_and_per_bucket_rows(spark, tmp_path):
    """The write-first lineage runner must run the (expensive) transform
    exactly once per group — no pre-count double-compute — and record TRUE
    per-bucket row counts that sum to the job total."""
    from pyspark.sql.types import LongType

    pages = generate_pages(spark, 40, seed=11, partitions=4)
    calls = spark.sparkContext.accumulator(0)

    def counting_udf(u):
        calls.add(1)
        return len(u)

    count_len = F.udf(counting_udf, LongType())

    def transform(df):
        return df.select("url", count_len("url").alias("url_len"))

    res = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    run_with_lineage(
        spark, pages, transform, res, lin, job_id="once", num_buckets=8
    )
    # one UDF call per row: the old runner's pre-write .count() made this 2x
    assert calls.value == 40

    lineage = spark.read.parquet(lin).filter(F.col("job_id") == "once")
    got = {r["bucket"]: r["rows"] for r in lineage.collect()}
    actual = {
        r["bucket"]: r["n"]
        for r in spark.read.parquet(res).groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert sum(got.values()) == 40
    for b, n in actual.items():
        assert got[b] == n, f"bucket {b}"


def test_run_leaves_session_conf_unchanged(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option: the caller's
    session keeps its own overwrite mode for every later write."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # Spark's default
    pages = generate_pages(spark, 10, seed=9, partitions=2)
    run_with_lineage(
        spark, pages, _transform, str(tmp_path / "results"),
        str(tmp_path / "lineage"), job_id="conf", num_buckets=4,
        buckets_per_commit=2,
    )
    assert spark.conf.get(key) == "static"


def test_completed_buckets_propagates_non_missing_errors(spark, tmp_path):
    """A corrupt lineage table must raise, not masquerade as a fresh job."""
    from pyspark.errors import AnalysisException

    from llm_document_parser_spark.lineage import completed_buckets

    missing = str(tmp_path / "never_written")
    assert completed_buckets(spark, missing, "j") == set()

    corrupt = tmp_path / "corrupt_lineage"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        completed_buckets(spark, str(corrupt), "j")
    assert not isinstance(ei.value, AnalysisException) or "PATH_NOT_FOUND" not in str(ei.value)


def test_committed_row_total_latest_commit_wins(spark, tmp_path):
    """A bucket re-committed on resume with FEWER rows (input shrank) was
    partition-overwritten — the latest lineage row is the truth, not the max."""
    import datetime as dt

    from llm_document_parser_spark.lineage import committed_row_total
    from llm_document_parser_spark.schemas import LINEAGE_SCHEMA

    lin = str(tmp_path / "lineage")
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2026, 1, 2, 10, 0, 0)
    rows = [
        ("j", 0, "completed", 100, t0, t0, 1),  # first attempt: 100 rows
        ("j", 0, "completed", 40, t1, t1, 2),   # resume overwrote with 40
        ("j", 1, "completed", 7, t0, t0, 1),
        ("other", 0, "completed", 999, t0, t0, 1),
    ]
    spark.createDataFrame(rows, LINEAGE_SCHEMA).write.parquet(lin)
    assert committed_row_total(spark, lin, "j") == 47  # 40 + 7, not 107
