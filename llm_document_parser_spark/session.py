"""SparkSession factory with scale-oriented defaults.

The reference runs 4 Celery worker processes (reference:
scripts/start_celery_worker.py:20); here parallelism is Spark executors. The
configs below are the ones that matter at 100 TB: AQE (runtime coalesce +
skew-join splitting), Arrow batching sized for large binary payloads (16 MB
worst-case per document, reference: src/api_server.py:74), and a shuffle
partition count that AQE can coalesce downward.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing is a measured tradeoff (BENCH notes): tiny batches
# (64 rows) cost 3-4× wall-clock at 32 cores — the per-batch JVM↔Python
# round-trip dominates. 2048 rows ≈ 200 MB/batch at the ~100 KB median
# Common-Crawl page; corpora with many near-16 MB payloads (reference cap:
# src/api_server.py:74) should lower this via SPARK_GRAFT_ARROW_BATCH.
ARROW_MAX_RECORDS_PER_BATCH = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))


def get_spark(
    app_name: str = "llm-document-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    task_retries: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for the extraction workload.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster it is supplied by spark-submit and must be left None.

    ``task_retries``: long batch jobs should pass ≥2 so a task whose
    python worker dies (co-tenant kill, OOM-killer) is re-attempted
    instead of failing the job. On a real cluster ``spark.task.maxFailures``
    already defaults to 4, but LOCAL masters hard-default to 1 attempt —
    Spark only honors retries locally via the ``local[N,F]`` master string,
    so this rewrites the master accordingly (see tests/test_worker_resilience.py,
    which SIGKILLs a live worker mid-job and expects completion)."""
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if task_retries is not None and master is not None:
        master = _with_task_retries(master, task_retries)
    if master is not None:
        builder = builder.master(master)

    if shuffle_partitions is None and master is not None:
        shuffle_partitions = _shuffle_partitions(_parallelism_hint(master))

    conf = {
        # driver heap: only effective for the FIRST session in a process
        # (the JVM persists across SparkSession.stop()); benchmark harnesses
        # must use one subprocess per session — see tools/scaling_bench.py
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # shuffle/scratch space: this sandbox periodically wipes /tmp, which
        # can delete Spark's local dirs mid-job; keep them somewhere durable
        "spark.local.dir": os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR", "/root/repo/.data/spark-local"
        ),
        # --- adaptive execution: runtime partition coalescing + skew split ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # 128 MB input splits: the scan parallelism knob at 100 TB
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # --- Arrow / pandas UDF path ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS_PER_BATCH),
        # reuse python workers so per-executor singletons (models, compiled
        # regexes) are loaded once, not per task. SPARK_GRAFT_WORKER_REUSE=0
        # opts out: a reused worker that dies SILENTLY (no OOM — observed
        # twice on 10M-page runs, 2026-08-17) leaves its daemon holding the
        # socket fd, so the next task blocks on read forever; fresh-fork
        # workers bound that failure to one task instead of wedging the job
        "spark.python.worker.reuse": (
            "false"
            if os.environ.get("SPARK_GRAFT_WORKER_REUSE", "1") == "0"
            else "true"
        ),
        # broadcast joins for dimension tables up to 64 MB
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # quieter local runs
        "spark.ui.showConsoleProgress": "false",
    }
    if task_retries is not None and (master is None or not master.startswith("local")):
        # cluster mode: the conf is honored (local mode ignores it — the
        # local[N,F] master rewrite above is the only local knob)
        conf["spark.task.maxFailures"] = str(task_retries)
    if shuffle_partitions is not None:
        # --- shuffle sizing; with no master it is set once the session runs ---
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        # the master came from spark-submit or Spark's local[*] default:
        # size from the cores the running context actually has
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_shuffle_partitions(spark.sparkContext.defaultParallelism)),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _with_task_retries(master: str, retries: int) -> str:
    """local[N] → local[N,R] (Spark honors task retries locally ONLY via
    the master string); explicit local[N,F] and non-local masters pass
    through untouched."""
    if master.startswith("local[") and "," not in master:
        return f"{master[:-1]},{retries}]"
    return master


def _shuffle_partitions(cores: int) -> int:
    """Two shuffle partitions per core, at least 32, for AQE to coalesce."""
    return max(32, cores * 2)


def _parallelism_hint(master: str) -> int:
    if master.startswith("local["):
        # local[N] or local[N,maxFailures] — the core count is the first part
        inner = master[len("local[") : -1].split(",")[0]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
