"""Compression-ratio quality signal (operators/compression.py)."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.operators.compression import (
    LEVEL,
    with_compression_ratio,
)

PROSE = (
    "The quick brown fox jumps over the lazy dog while seventeen "
    "jubilant zebras quietly browse formal wax hedges near the vexed "
    "squire's kiosk, and nobody repeats anything twice verbatim here."
)
SPAM = "buy cheap now " * 50


def _ratios(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [
        r["compression_ratio"]
        for r in with_compression_ratio(df).collect()
    ]


def test_matches_direct_zlib(spark):
    got = _ratios(spark, [PROSE, SPAM])
    for g, t in zip(got, [PROSE, SPAM]):
        raw = t.encode("utf-8")
        assert g == pytest.approx(len(zlib.compress(raw, LEVEL)) / len(raw))


def test_repetition_orders_below_prose(spark):
    prose_r, spam_r = _ratios(spark, [PROSE, SPAM])
    assert spam_r < 0.15 < 0.35 < prose_r


def test_null_and_empty_are_null(spark):
    assert _ratios(spark, [None, ""]) == [None, None]


def test_single_arrow_stage_no_shuffle(spark):
    df = spark.createDataFrame([("x",)], "text string")
    plan = (
        with_compression_ratio(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1 and "Exchange" not in plan
