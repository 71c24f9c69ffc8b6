"""Idempotent resume semantics: kill mid-job, resume, byte-equal results."""

from __future__ import annotations

import datetime as dt
import types

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark import lineage
from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.lineage import (
    _append_lineage,
    completed_buckets,
    job_progress,
    run_with_lineage,
    with_bucket,
)
from llm_document_parser_spark.pipeline import extract_pipeline
from llm_document_parser_spark.schemas import LINEAGE_SCHEMA


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


def _committed_counts(spark, path):
    """Rows per bucket, re-read from the committed results table. The
    schema is pinned because a table every group committed empty has no
    data file to infer one from."""
    table = spark.read.schema("url string, bucket long").parquet(path)
    rows = table.groupBy("bucket").count().collect()
    return {r["bucket"]: r["count"] for r in rows}


def _empty_table(spark, tmp_path, name, schema):
    path = str(tmp_path / name)
    spark.createDataFrame([], schema).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize(
    "case", ["drops_every_row", "semi_join_empty", "empty_input", "repartition_3", "three_groups"]
)
def test_observed_rows_equal_committed_table(spark, tmp_path, case):
    """The per-bucket ``rows`` observed on the write equal a re-read of what
    the write committed, including groups that commit nothing."""
    pages = generate_pages(spark, 40, seed=17, partitions=4)
    transform, per_commit = _transform, 4
    if case == "drops_every_row":
        def transform(df):
            return extract_pipeline(df).filter(F.length("url") < 0)
    elif case == "semi_join_empty":  # AQE may turn the join into an empty relation
        keep = _empty_table(spark, tmp_path, "keep", "url string")

        def transform(df):
            return df.join(keep, "url", "left_semi")
    elif case == "empty_input":
        pages = _empty_table(spark, tmp_path, "pages", pages.schema)
    elif case == "repartition_3":
        def transform(df):
            return extract_pipeline(df, repartition_to=3).drop("processing_time")
    else:
        per_commit = 3

    res, lin = str(tmp_path / "results"), str(tmp_path / "lineage")
    run_with_lineage(
        spark, pages, transform, res, lin, job_id=case, num_buckets=8,
        buckets_per_commit=per_commit,
    )
    recorded = spark.read.parquet(lin).filter(F.col("job_id") == case).collect()
    assert len({r["finished_at"] for r in recorded}) == -(-8 // per_commit)
    got = {r["bucket"]: r["rows"] for r in recorded}
    assert sorted(got) == list(range(8))
    committed = _committed_counts(spark, res)
    assert got == {b: committed.get(b, 0) for b in range(8)}
    if case in ("repartition_3", "three_groups"):
        assert sum(got.values()) == 40


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_single_group_commit_runs_one_job_fewer(spark, tmp_path):
    """One lineage group is the write job plus the append job: the
    per-bucket counts no longer cost a re-read of the committed partitions
    (which AQE runs as two jobs, the shuffle map stage and the result)."""
    pages = generate_pages(spark, 20, seed=19, partitions=2)
    group = [0, 1, 2, 3]
    _transform(pages).count()  # warm the plan columns and Python workers

    observed = _jobs_in_group(spark, "lineage-observed", lambda: run_with_lineage(
        spark, pages, _transform, str(tmp_path / "a_results"),
        str(tmp_path / "a_lineage"), job_id="a", num_buckets=4,
    ))

    # the same commit written, then recounted from the committed partitions
    res, lin = str(tmp_path / "b_results"), str(tmp_path / "b_lineage")
    out = with_bucket(_transform(pages), 4)

    def write():
        completed_buckets(spark, lin, "b")
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(res)
        )

    counted = []

    def recount():
        counted.extend(
            spark.read.schema(out.schema).parquet(res)
            .filter(F.col("bucket").isin(group))
            .groupBy("bucket")
            .count()
            .collect()
        )

    def append():
        bucket_rows = {b: 0 for b in group}
        bucket_rows.update({r["bucket"]: r["count"] for r in counted})
        _append_lineage(spark, lin, "b", bucket_rows, dt.datetime.now(), attempt=1)

    write_jobs = _jobs_in_group(spark, "lineage-write", write)
    recount_jobs = _jobs_in_group(spark, "lineage-recount", recount)
    append_jobs = _jobs_in_group(spark, "lineage-append", append)
    assert recount_jobs >= 1
    assert observed == write_jobs + append_jobs
    assert observed <= write_jobs + recount_jobs + append_jobs - 1


def test_append_lineage_matches_create_dataframe(spark, tmp_path, monkeypatch):
    """The VALUES append writes the rows and read-back schema that
    ``createDataFrame(recs, LINEAGE_SCHEMA)`` gives, as one file per
    append, under a non-UTC session time zone."""
    started = dt.datetime(2026, 3, 8, 1, 59, 58, 123456)
    finished = dt.datetime(2026, 3, 8, 3, 0, 1, 654321)

    class _Frozen(dt.datetime):
        @classmethod
        def now(cls, tz=None):
            return finished

    monkeypatch.setattr(lineage, "_dt", types.SimpleNamespace(datetime=_Frozen))
    bucket_rows = {5: 12, 0: 0, 9: 2**40}
    recs = [
        ("job'1", b, "completed", n, started, finished, 2)
        for b, n in sorted(bucket_rows.items())
    ]
    key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        lin, ref = tmp_path / "lineage", str(tmp_path / "reference")
        spark.createDataFrame(recs, LINEAGE_SCHEMA).write.parquet(ref)
        want = spark.read.parquet(ref)
        for appends in (1, 2):
            _append_lineage(spark, str(lin), "job'1", bucket_rows, started, attempt=2)
            assert len(list(lin.glob("*.parquet"))) == appends
        got = spark.read.parquet(str(lin))
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect() * 2)
    finally:
        spark.conf.set(key, old_tz)
