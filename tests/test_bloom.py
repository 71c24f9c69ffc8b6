"""Bloom seen-set invariants (operators/bloom.py), through the
``filter_might_contain`` probe the bloom path of decontamination runs: no
false negatives, bounded false positives, superset of the exact semi-join,
map-side plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.operators import bloom as bl
from llm_document_parser_spark.operators.bloom import (
    build_seen_bloom,
    filter_might_contain,
)
from plan_nodes import node_classes


def _urls(spark, lo, hi, name="url"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias(name)
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, 0, 5000)
    bf = build_seen_bloom(seen, fpp=0.01)
    # every seen url must probe as a member — all of the seen set is kept
    assert filter_might_contain(seen, bf).count() == 5000


def test_false_positive_rate_within_budget(spark):
    seen = _urls(spark, 0, 5000)
    bf = build_seen_bloom(seen, fpp=0.01)
    fresh = _urls(spark, 10_000, 15_000)  # disjoint ids -> disjoint urls
    false_members = filter_might_contain(fresh, bf).count()
    assert false_members / 5000 <= 0.05  # 5x headroom over fpp=1%


def test_prefilter_superset_of_exact_antijoin(spark):
    seen = _urls(spark, 0, 3000)
    candidates = _urls(spark, 2000, 6000)
    bf = build_seen_bloom(seen, fpp=0.01)
    pre = {r["url"] for r in filter_might_contain(candidates, bf).collect()}
    exact = {
        r["url"]
        for r in candidates.join(seen, "url", "left_semi").collect()
    }
    # the bloom prefilter keeps every genuinely seen url (FPs only add
    # rows), so its complement is a subset of the exact anti-join
    assert pre >= exact


def test_probe_is_map_side(spark):
    seen = _urls(spark, 0, 1000)
    bf = build_seen_bloom(seen)
    nodes = node_classes(filter_might_contain(_urls(spark, 0, 100), bf))
    # zero SHUFFLE on the probe side; the small-bitmap path adds a
    # BroadcastExchange for the one-row bitmap relation, which moves the
    # bitmap once per executor, never the candidates
    assert "ShuffleExchangeExec" not in nodes
    assert "BroadcastExchangeExec" in nodes


def test_large_bitmap_arrow_path_no_false_negatives(spark):
    # a bitmap past the inline threshold takes the Arrow+broadcast probe
    # path (the crawl-scale configuration); membership semantics must be
    # identical
    seen = _urls(spark, 0, 500)
    bf = build_seen_bloom(seen, fpp=0.01)
    orig = bl._INLINE_BITMAP_MAX_BYTES
    bl._INLINE_BITMAP_MAX_BYTES = 0  # the bitmap is now "large"
    try:
        assert bf.nbytes() > bl._INLINE_BITMAP_MAX_BYTES
        kept = filter_might_contain(_urls(spark, 0, 500), bf).count()
    finally:
        bl._INLINE_BITMAP_MAX_BYTES = orig
    assert kept == 500  # every seen url probes true -> all kept


def test_inline_and_arrow_probes_agree(spark):
    # the codegen inline probe and the vectorized Arrow probe are two
    # implementations of one bit layout: forcing each over the same
    # filter geometry must keep every member (false negatives are
    # impossible in both)
    seen = _urls(spark, 0, 800)
    cands = _urls(spark, 0, 2000)
    bf = build_seen_bloom(seen, fpp=0.01)
    assert bf.nbytes() <= bl._INLINE_BITMAP_MAX_BYTES
    inline_kept = {
        r["url"] for r in bl.filter_might_contain(cands, bf).collect()
    }
    orig = bl._INLINE_BITMAP_MAX_BYTES
    bl._INLINE_BITMAP_MAX_BYTES = 0  # force the Arrow path
    try:
        arrow_kept = {
            r["url"] for r in bl.filter_might_contain(cands, bf).collect()
        }
    finally:
        bl._INLINE_BITMAP_MAX_BYTES = orig
    assert inline_kept == arrow_kept
