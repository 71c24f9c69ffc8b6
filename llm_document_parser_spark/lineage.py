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
  ``rows`` is observed on the group's write itself (a ``pyspark.sql.Observation``
  in the write's result stage), so a commit is one data job, no re-read;
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
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .schemas import LINEAGE_SCHEMA


def success_marker_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is a parquet directory with a committed
    ``_SUCCESS`` marker — the only safe "this dataset is complete" test.
    Goes through the Hadoop FileSystem API so it works for any scheme the
    cluster can write (s3a://, hdfs://, file paths), not just local disk;
    a crashed writer leaves files but no marker, and reusing such a
    partial directory silently corrupts whatever consumes it."""
    return _path_exists(spark, path.rstrip("/") + "/_SUCCESS")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """``path`` exists, asked of the Hadoop FileSystem for its scheme."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def with_bucket(df: DataFrame, num_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("long")
    )


def completed_buckets(spark: SparkSession, lineage_path: str, job_id: str) -> set[int]:
    # a fresh job has no lineage table: ask the FileSystem rather than pay
    # for (and log) the failed read
    if not _path_exists(spark, lineage_path):
        return set()
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
        # Only a missing lineage table (removed since the check above)
        # means "fresh job"; any other read failure (corrupt footer,
        # permissions, storage blip) must surface — swallowing it would
        # silently trigger a full recompute.
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise


def _append_lineage(
    spark: SparkSession,
    lineage_path: str,
    job_id: str,
    bucket_rows: dict[int, int],
    started_at: _dt.datetime,
) -> None:
    # One JVM-side VALUES relation: no pickled Python RDD, no Python
    # workers. Integers are inlined; the job id and timestamps go in as
    # parameters, converted like createDataFrame converts them. Every row
    # is attempt 1: a resumed job appends rows for the buckets it commits.
    rows = ", ".join(
        f"(:job_id, {int(b)}L, 'completed', {int(n)}L, :started_at, :finished_at, 1L)"
        for b, n in sorted(bucket_rows.items())
    )
    names = ", ".join(LINEAGE_SCHEMA.names)
    recs = spark.sql(
        f"SELECT * FROM VALUES {rows} AS t({names})",
        args={"job_id": job_id, "started_at": started_at, "finished_at": _dt.datetime.now()},
    )
    recs.coalesce(1).write.mode("append").parquet(lineage_path)


def run_with_lineage(
    spark: SparkSession,
    pages: DataFrame,
    transform,
    results_path: str,
    lineage_path: str,
    job_id: str | None = None,
    num_buckets: int = 16,
    buckets_per_commit: int = 4,
    key: str = "url",
) -> str:
    """Run ``transform(pages_subset)`` bucket-group by bucket-group with
    commit-after-group semantics; re-invocation with the same job_id resumes
    from the last committed group.

    ``key`` is the bucketing column (url for pages tables; any stable
    unique id works — the transform must preserve it).
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
    for group in groups:
        started = _dt.datetime.now()
        subset = bucketed.filter(F.col("bucket").isin([int(b) for b in group]))
        out = transform(subset.drop("bucket"))
        out = with_bucket(out, num_buckets, key=key)
        # Count while writing: an observation in the write's result stage
        # gives the committed rows per bucket (Spark applies a result task's
        # accumulator updates once per partition, so retries do not
        # double-count). Counting the plan before writing would execute the
        # (pandas-UDF-dominated) extraction twice per group, and re-reading
        # the committed partitions to count them costs more jobs.
        obs = Observation()
        out = out.observe(
            obs, *[F.count_if(F.col("bucket") == b).alias(str(b)) for b in group]
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(results_path)
        )
        observed = obs.get
        bucket_rows = {int(b): int(observed[str(b)]) for b in group}
        _append_lineage(spark, lineage_path, job_id, bucket_rows, started)
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
