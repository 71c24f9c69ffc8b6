"""Plan-shape assertions for the round-5 operators' scale claims:
the docstrings promise zero-shuffle / zero-Python featurization and
quantization — these tests pin that to the executed plan, the same
discipline as tests/test_plans.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.ml.lr_dataflow import hashed_token_features
from llm_document_parser_spark.operators.quantize import quantization_report
from llm_document_parser_spark.operators.stats import value_histogram
from plan_nodes import node_classes, plan_nodes

_PYTHON = {"ArrowEvalPythonExec", "BatchEvalPythonExec"}


def _exchanges(classes: set[str]) -> set[str]:
    return {c for c in classes if "Exchange" in c}


def test_lr_featurization_is_pure_codegen(spark):
    df = spark.createDataFrame(
        [(1, "a b c", 1.0)], "doc_id long, text string, y double"
    )
    classes = node_classes(
        hashed_token_features(df, label_col=F.col("y"), n_buckets=16)
    )
    assert not _exchanges(classes), classes
    assert not classes & _PYTHON, classes


def test_quantization_report_is_pure_codegen(spark):
    df = spark.createDataFrame(
        [(1, [0.1, -0.2])], "vec_id long, embedding array<double>"
    )
    classes = node_classes(quantization_report(df))
    assert not _exchanges(classes), classes
    assert not classes & _PYTHON, classes


def test_value_histogram_single_aggregation_exchange(spark):
    df = spark.createDataFrame([("s", 5)], "src string, v long")
    out = value_histogram(df, "src", "v")
    # one partial+final hash aggregate pair around exactly one shuffle, no
    # Python anywhere: the monoid build is one combining shuffle
    shuffles = [
        n for n in plan_nodes(out)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]
    assert len(shuffles) == 1, node_classes(out)
    assert not node_classes(out) & _PYTHON
