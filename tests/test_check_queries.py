"""The catalog tool's per-query profile reads jobs and plan-node metrics
that agree with the data the query scanned."""

from __future__ import annotations

import os

import pytest

from __spark_entry__ import SF0001 as SF_DIR
from llm_document_parser_spark.queries import REGISTRY
from tools.check_queries import Profiler


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_profile_counts_jobs_and_scanned_rows(spark):
    profiler = Profiler(spark)
    with profiler.profile("exact_dup_groups") as prof:
        REGISTRY["exact_dup_groups"](spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    assert prof["spark.jobs"] >= 1
    assert prof["wall_s"] > 0
    assert all(ex["plan"] for ex in prof["executions"])
    scans = [
        n["metrics"]["number of output rows"]
        for ex in prof["executions"]
        for n in ex["nodes"]
        if n["name"].startswith("Scan parquet")
    ]
    assert n_docs in scans, scans
