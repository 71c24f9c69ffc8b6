"""Self-tests of the benchmark: its metric names, that its output checks
catch a corrupted row, and that its leak counter sees a persisted
DataFrame.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path[:0] = [str(ROOT), str(ROOT / "jobs")]

from perfbench import checks, layers  # noqa: E402
from perfbench.worker import E2E_UNITS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import os

    from llm_document_parser_spark.session import get_spark

    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(tmp_path_factory.mktemp("spark-local"))
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_metric_names_are_well_formed_and_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for name in [*e2e, *per_layer, *(w["name"] for w in bench["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert e2e == E2E_UNITS
    assert per_layer == layers.UNITS


def _results(spark, text_of_first: str, success_of_first: bool = True):
    rows = [
        ("https://a.example/1", "html", "invoice", text_of_first, success_of_first),
        ("https://a.example/2", "pdf", "receipt", "Receipt #2 Total: $5.00", True),
    ]
    return spark.createDataFrame(
        rows, "url string, doc_kind string, document_type string, "
              "extracted_text string, success boolean",
    )


def test_corrupted_row_trips_the_checks(spark):
    good = checks.digest_rows(_results(spark, "INVOICE #INV-1000 Total: $1.00"))
    urls = {u for u, _, _ in good}
    assert checks.check_rows(good, urls) == []
    assert checks.compare_digests(good, good, "same") == []

    corrupt = checks.digest_rows(_results(spark, "INVOICE #INV-1000 Total: $1.01"))
    assert checks.check_rows(corrupt, urls) == []  # shape alone is fine...
    assert checks.compare_digests(good, corrupt, "x")  # ...the digest is not
    assert checks.combined_digest(good) != checks.combined_digest(corrupt)

    failed = checks.digest_rows(_results(spark, "", success_of_first=False))
    assert any("success=false" in p for p in checks.check_rows(failed, urls))
    assert any("missing" in p for p in checks.check_rows(good[1:], urls))
    assert any("duplicated" in p for p in checks.check_rows(good + good[:1], urls))


def test_stored_reference_mismatch_is_reported():
    ref = json.loads(checks.REFERENCE.read_text())["extract"]
    assert checks.check_reference("extract", ref["seed"], ref["n"], ref["sha256"]) == []
    assert checks.check_reference("extract", ref["seed"], ref["n"], "0" * 64)
    # other seeds or sizes have no stored digest to compare with
    assert checks.check_reference("extract", ref["seed"] + 1, ref["n"], "0" * 64) == []


def test_persisted_dataframe_raises_leaked_rdds(spark):
    before = layers.persisted_rdds(spark)
    df = spark.range(100).selectExpr("id * 2 AS x").persist()
    df.count()
    try:
        assert layers.persisted_rdds(spark) - before == 1
    finally:
        df.unpersist(blocking=True)
    assert layers.persisted_rdds(spark) == before


def test_parse_metric_reads_ui_renderings():
    from perfbench.trace import parse_metric

    assert parse_metric("1,000") == 1000
    assert parse_metric("total (min, med, max (stageId: taskId))\n4.1 s (2.0 s, 2.1 s)") == 4.1
    assert parse_metric("total (min, med, max)\n7.5 KiB (3.5 KiB)") == 7.5 * 1024
    assert parse_metric("total (min, med, max)\n634 ms (1 ms)") == pytest.approx(0.634)
