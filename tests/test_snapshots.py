"""Crawl-snapshot dedup (dedup.latest_captures): newest capture kept,
capture counts right, single-shuffle plan."""

from __future__ import annotations

import datetime

from llm_document_parser_spark.operators.dedup import latest_captures
from plan_nodes import class_name, plan_nodes


def _caps(spark):
    t = datetime.datetime
    rows = [
        ("u1", t(2024, 1, 1, 0), b"a"),
        ("u1", t(2024, 1, 3, 0), b"b"),   # newest for u1
        ("u1", t(2024, 1, 2, 0), b"c"),
        ("u2", t(2024, 2, 1, 0), b"d"),   # singleton
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")


def test_latest_capture_kept(spark):
    out = {r["url"]: r for r in latest_captures(_caps(spark)).collect()}
    assert out["u1"]["warc_ts"] == datetime.datetime(2024, 1, 3, 0)
    assert out["u1"]["html"] == b"b"
    assert out["u1"]["n_captures"] == 3
    assert out["u2"]["n_captures"] == 1


def test_single_exchange_plan(spark):
    """row_number and count share one url-partitioned window exchange."""
    nodes = [class_name(n) for n in plan_nodes(latest_captures(_caps(spark)))]
    assert nodes.count("ShuffleExchangeExec") == 1, nodes
