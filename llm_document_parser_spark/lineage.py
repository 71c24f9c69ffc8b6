"""Per-partition lineage/checkpoint tables + idempotent resume.

Replaces the reference's Celery progress states (reference:
src/celery_app.py:51-72) and batch summary (reference:
src/batch_processor.py:58-66) with durable tables:

* work is split into ``num_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), B)``) — the unit of commit;
* results are written parquet partitioned by ``bucket`` (dynamic partition
  overwrite → re-running a bucket replaces, never duplicates);
* after each bucket group commits, a lineage row
  (job_id, bucket, status, rows, started_at, finished_at, attempt) appends;
* resume = anti-join the bucket list against completed lineage rows — only
  unfinished buckets are recomputed. Exactly-once appearance comes from the
  deterministic bucket→output-partition mapping, not from coordination.

At 10^12 documents: buckets are sized so one group is a few executor-waves
of work (e.g. B=4096); a failed/killed run loses at most one uncommitted
group. The same mechanism gives the reference's progress polling (T4):
``fraction_done = completed_buckets / B`` from the lineage table.
"""

from __future__ import annotations

import datetime as _dt
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import LINEAGE_SCHEMA


def success_marker_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is a parquet directory with a committed
    ``_SUCCESS`` marker — the only safe "this dataset is complete" test.
    Goes through the Hadoop FileSystem API so it works for any scheme the
    cluster can write (s3a://, hdfs://, file paths), not just local disk;
    a crashed writer leaves files but no marker, and reusing such a
    partial directory silently corrupts whatever consumes it."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_SUCCESS")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def with_bucket(df: DataFrame, num_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("long")
    )


def completed_buckets(spark: SparkSession, lineage_path: str, job_id: str) -> set[int]:
    try:
        rows = (
            spark.read.parquet(lineage_path)
            .filter((F.col("job_id") == job_id) & (F.col("status") == "completed"))
            .select("bucket")
            .distinct()
            .collect()
        )
        return {r["bucket"] for r in rows}
    except AnalysisException as e:
        # Only a missing lineage table means "fresh job"; any other read
        # failure (corrupt footer, permissions, storage blip) must surface —
        # swallowing it would silently trigger a full recompute.
        if "PATH_NOT_FOUND" in str(e):
            return set()
        raise


def _append_lineage(
    spark: SparkSession,
    lineage_path: str,
    job_id: str,
    bucket_rows: dict[int, int],
    started_at: _dt.datetime,
    attempt: int,
) -> None:
    now = _dt.datetime.now()
    recs = [
        (job_id, int(b), "completed", int(n), started_at, now, attempt)
        for b, n in sorted(bucket_rows.items())
    ]
    spark.createDataFrame(recs, LINEAGE_SCHEMA).write.mode("append").parquet(
        lineage_path
    )


def run_with_lineage(
    spark: SparkSession,
    pages: DataFrame,
    transform,
    results_path: str,
    lineage_path: str,
    job_id: str | None = None,
    num_buckets: int = 16,
    buckets_per_commit: int = 4,
    fail_after_groups: int | None = None,
    key: str = "url",
) -> str:
    """Run ``transform(pages_subset)`` bucket-group by bucket-group with
    commit-after-group semantics; re-invocation with the same job_id resumes
    from the last committed group.

    ``key`` is the bucketing column (url for pages tables; any stable
    unique id works — the transform must preserve it).
    ``fail_after_groups`` is a test hook simulating a mid-job kill.
    Returns the job_id.
    """
    job_id = job_id or uuid.uuid4().hex

    done = completed_buckets(spark, lineage_path, job_id)
    todo = [b for b in range(num_buckets) if b not in done]
    bucketed = with_bucket(pages, num_buckets, key=key)

    groups = [
        todo[i : i + buckets_per_commit]
        for i in range(0, len(todo), buckets_per_commit)
    ]
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError(f"simulated failure before group {gi}")
        started = _dt.datetime.now()
        subset = bucketed.filter(F.col("bucket").isin([int(b) for b in group]))
        out = transform(subset.drop("bucket"))
        out = with_bucket(out, num_buckets, key=key)
        # Write FIRST, then count from the committed partitions: counting the
        # plan before writing would execute the (pandas-UDF-dominated)
        # extraction twice per group — 2x the whole job at the 10^12-row
        # design point. The post-write count prunes to the group's bucket=
        # directories and is served from parquet row-group metadata.
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(results_path)
        )
        # pin the schema on the re-read: a FILTERING transform (e.g. the
        # curation semi-join) can legally commit zero rows for a group, and
        # an inference read of a data-file-less results dir throws
        # UNABLE_TO_INFER_SCHEMA instead of returning empty
        counted = (
            spark.read.schema(out.schema).parquet(results_path)
            .filter(F.col("bucket").isin([int(b) for b in group]))
            .groupBy("bucket")
            .count()
            .collect()
        )
        bucket_rows = {int(b): 0 for b in group}
        bucket_rows.update({int(r["bucket"]): int(r["count"]) for r in counted})
        _append_lineage(spark, lineage_path, job_id, bucket_rows, started, attempt=1)
    return job_id


def committed_row_total(spark: SparkSession, lineage_path: str, job_id: str) -> int:
    """Total rows in the committed result table, from the (tiny) lineage
    table — no re-scan of results. Per bucket, the LATEST commit wins
    (``max_by(rows, finished_at)``): a resume that re-commits a bucket with
    fewer rows (input shrank, transform changed) partition-overwrote the
    earlier attempt, so ``max(rows)`` would overstate the table."""
    n = (
        spark.read.parquet(lineage_path)
        .filter((F.col("job_id") == job_id) & (F.col("status") == "completed"))
        .groupBy("bucket")
        .agg(F.max_by("rows", "finished_at").alias("rows"))
        .agg(F.sum("rows"))
        .collect()[0][0]
    )
    return int(n or 0)


def job_progress(spark: SparkSession, lineage_path: str, job_id: str, num_buckets: int) -> dict:
    """T4 analog — progress polling from the lineage table."""
    done = completed_buckets(spark, lineage_path, job_id)
    return {
        "job_id": job_id,
        "completed_buckets": len(done),
        "total_buckets": num_buckets,
        "progress": len(done) / num_buckets if num_buckets else 0.0,
    }
