"""extract_pipeline builds its column expressions once per SparkContext.

A second call in the same context must reuse the built columns, and plan
the same optimized node classes and give the same rows as freshly built
columns; a different context builds fresh.
"""

from __future__ import annotations

import weakref

import pytest

from llm_document_parser_spark import pipeline
from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.lineage import run_with_lineage
from llm_document_parser_spark.pipeline import extract_pipeline


@pytest.fixture
def builds(monkeypatch):
    """An empty column cache and a list recording each builder run."""
    monkeypatch.setattr(pipeline, "_PLAN_COLUMNS", weakref.WeakKeyDictionary())
    calls = []
    real = pipeline._plan_columns

    def spy(use_spacy_ner):
        calls.append(use_spacy_ner)
        return real(use_spacy_ner)

    monkeypatch.setattr(pipeline, "_plan_columns", spy)
    return calls


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 40, seed=13, partitions=2)


def _rows(df):
    return sorted(df.drop("processing_time").collect(), key=lambda r: r["url"])


def _node_classes(df) -> list[str]:
    """Pre-order class names of the optimized logical plan."""

    def walk(node):
        out = [node.getClass().getSimpleName()]
        children = node.children()
        for i in range(children.size()):
            out += walk(children.apply(i))
        return out

    return walk(df._jdf.queryExecution().optimizedPlan())


def test_cached_columns_give_same_rows_and_plan(spark, pages, builds):
    extract_pipeline(pages)  # builds and caches the columns
    cached = extract_pipeline(pages)
    repartitioned = extract_pipeline(pages, repartition_to=2)
    assert builds == [False]
    pipeline._PLAN_COLUMNS.clear()
    fresh = extract_pipeline(pages)
    assert builds == [False, False]
    assert _node_classes(cached) == _node_classes(fresh)
    want = _rows(fresh)
    assert len(want) == 40
    assert _rows(cached) == want
    assert _rows(repartitioned) == want


def test_lineage_groups_share_one_build(spark, pages, builds, tmp_path):
    run_with_lineage(
        spark, pages, extract_pipeline, str(tmp_path / "results"),
        str(tmp_path / "lineage"), job_id="memo", num_buckets=4,
        buckets_per_commit=2,
    )
    assert builds == [False]
    assert spark.read.parquet(str(tmp_path / "results")).count() == 40


def test_new_context_rebuilds(spark, pages, builds):
    class OtherContext:
        pass

    cached = pipeline._plan_columns_for(spark.sparkContext, False)
    other = pipeline._plan_columns_for(OtherContext(), False)
    assert builds == [False, False]
    assert other is not cached
    extract_pipeline(pages)  # the live context still hits its own entry
    assert builds == [False, False]


def test_ner_mode_is_part_of_the_key(spark, pages, builds):
    rule = pipeline._plan_columns_for(spark.sparkContext, False)
    spacy = pipeline._plan_columns_for(spark.sparkContext, True)
    assert builds == [False, True]
    assert [n for n, _ in rule[1]][-1] == "entities"
    assert "entities" not in [n for n, _ in spacy[1]]
