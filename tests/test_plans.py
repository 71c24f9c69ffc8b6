"""Physical-plan shape assertions — the plans we'd want at 100 TB.

These guard the optimizer contract, not the results: filter pushdown reaches
the parquet scan, small dims broadcast, top-k avoids full sorts, and the
extraction pipeline keeps exactly ONE Python stage.
"""

from __future__ import annotations

from collections import Counter

import pytest
from plan_nodes import class_name, expressions, plan_nodes

from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.pipeline import extract_pipeline
from llm_document_parser_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _explain(df, mode: str) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_of(df) -> str:
    return _explain(df, "simple")


def formatted(df) -> str:
    return _explain(df, "formatted")


def test_pricing_summary_pushes_filter_to_scan(spark):
    df = REGISTRY["pricing_summary"](spark, SF)
    txt = formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in txt
    # column pruning: scan must not read unused money columns
    assert "l_tax" not in txt.split("ReadSchema")[1].split("\n")[0]


def test_regional_revenue_broadcasts_dims(spark):
    txt = plan_of(REGISTRY["regional_revenue"](spark, SF))
    assert txt.count("BroadcastHashJoin") >= 3  # region/nation/customer sides
    assert "SortMergeJoin" not in txt or txt.count("SortMergeJoin") <= 1


def test_top_orders_uses_take_ordered(spark):
    txt = plan_of(REGISTRY["top_orders"](spark, SF))
    assert "TakeOrderedAndProject" in txt  # no global sort materialization


def test_semi_and_anti_joins(spark):
    semi = plan_of(REGISTRY["big_spender_nations"](spark, SF))
    assert "LeftSemi" in semi
    anti = plan_of(REGISTRY["customers_without_orders"](spark, SF))
    assert "LeftAnti" in anti


def test_extract_pipeline_has_single_python_stage(spark):
    pages = generate_pages(spark, 10, seed=1, partitions=2)
    classes = [class_name(n) for n in plan_nodes(extract_pipeline(pages))]
    # exactly one Arrow-batched python eval; everything else JVM-side
    assert classes.count("ArrowEvalPythonExec") == 1
    assert "BatchEvalPythonExec" not in classes  # no row-at-a-time python UDFs


def test_extract_pipeline_runs_each_regex_once(spark):
    """Every (pattern, group) the battery extracts appears once in the
    executed plan: the shared match arrays are hidden columns one
    projection ahead of the battery, so no column re-runs another's regex
    (169 RegExpExtractAll for 59 distinct pairs before they were shared)."""
    pages = generate_pages(spark, 10, seed=1, partitions=2)
    pairs = Counter()
    for e in expressions(extract_pipeline(pages)):
        if class_name(e) == "RegExpExtractAll":
            _, regexp, group = (e.children().apply(i) for i in range(3))
            pairs[(regexp.toString(), group.toString())] += 1
    repeated = {pair: n for pair, n in pairs.items() if n > 1}
    assert not repeated
    assert sum(pairs.values()) <= 54


def test_ann_topk_broadcasts_query_side(spark):
    txt = plan_of(REGISTRY["ann_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt


def test_quick_search_plan_shape(spark):
    """O2: the winners join back to the corpus via broadcast; nothing
    degenerates to a cartesian/nested-loop join."""
    txt = plan_of(REGISTRY["quick_search_top10"](spark, SF))
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_curated_corpus_plan_is_fully_native(spark):
    """The composed curation pass (dedup window + lang/quality gates +
    per-source agg) must contain zero Python stages — it is the kind of
    always-on pass that cannot afford serialization overhead at 100 TB."""
    txt = plan_of(REGISTRY["curated_corpus_stats"](spark, SF))
    assert "ArrowEvalPython" not in txt
    assert "BatchEvalPython" not in txt
    assert "MapInPandas" not in txt


def test_curated_extraction_plan_shape(spark):
    """Extraction → curation end-to-end: exactly ONE Arrow python stage
    (the payload extractor); the downstream dedup window, gates, and agg
    stay JVM-side codegen."""
    txt = plan_of(REGISTRY["curated_extraction_stats"](spark, SF))
    # Catalyst pushes the extraction project into BOTH legs of the
    # syn://+dup:// union — two parallel Arrow stages, but every row passes
    # Python exactly once (the invariant that matters at 100 TB)
    assert 1 <= txt.count("ArrowEvalPython") <= 2
    assert "Union" in txt
    assert "BatchEvalPython" not in txt
    assert "MapInPandas" not in txt


def test_ivf_topk_plan_no_cross_product(spark):
    """IVF candidates come from a cell equi-join with the (tiny) probe side
    broadcast — never a cartesian over the corpus."""
    txt = plan_of(REGISTRY["ivf_topk"](spark, SF))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "BroadcastHashJoin" in txt


def test_repetition_and_paragraph_dedup_fully_native(spark):
    """The round-3 curation operators are always-on corpus passes: zero
    Python stages, no cross products — explode/agg/window only."""
    for name in ("doc_repetition_stats", "paragraph_dedup_docs"):
        txt = plan_of(REGISTRY[name](spark, SF))
        assert "ArrowEvalPython" not in txt, name
        assert "BatchEvalPython" not in txt, name
        assert "MapInPandas" not in txt, name
        assert "CartesianProduct" not in txt, name
        assert "BroadcastNestedLoopJoin" not in txt, name


def test_canonical_url_fully_native(spark):
    """URL canonicalization is a narrow per-row projection: no Python, no
    joins, no exchanges at all — it must fuse into the scan's codegen."""
    txt = plan_of(REGISTRY["canonical_url_stats"](spark, SF))
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange"):
        assert bad not in txt
