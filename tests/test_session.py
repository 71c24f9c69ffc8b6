"""``session.get_spark`` sizes shuffles from the cores the session has."""

from __future__ import annotations

from llm_document_parser_spark.session import _shuffle_partitions, get_spark


def test_no_master_sizes_shuffle_from_running_context(spark, monkeypatch):
    """With no master and no SPARK_GRAFT_CPUS, Spark picks the master
    (local[*], or spark-submit's), so the shuffle width comes from the
    running context's defaultParallelism, not a 32-core guess."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark()  # the running session, reconfigured
        cores = s.sparkContext.defaultParallelism
        assert s.conf.get("spark.sql.shuffle.partitions") == str(_shuffle_partitions(cores))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_explicit_shuffle_width_wins(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark(extra_conf={"spark.sql.shuffle.partitions": "5"})
        assert s.conf.get("spark.sql.shuffle.partitions") == "5"
        s = get_spark(shuffle_partitions=6)
        assert s.conf.get("spark.sql.shuffle.partitions") == "6"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
