"""Benchmark decontamination (operators/decontaminate.py): planted
benchmark passages must be flagged with exact evidence counts, clean
documents must not, and the corpus side must reach the benchmark via a
broadcast join (map-side, no corpus shuffle before the agg)."""

from __future__ import annotations

from llm_document_parser_spark.operators import decontaminate as dc
from plan_nodes import class_name, node_classes, plan_nodes


def _bench(spark):
    rows = [
        ("q1", "what is the capital city of the ancient kingdom of lydia"),
        ("q2", "name the smallest prime number greater than one hundred"),
    ]
    return spark.createDataFrame(rows, "bench_id string, text string")


def _docs(spark):
    filler = ("meadow lantern harbor quarry piston bridge castle engine "
              "forest island jungle kettle needle orchard river delta ")
    rows = [
        # contains q1 verbatim → contaminated
        ("d1", filler + "what is the capital city of the ancient kingdom of lydia " + filler),
        # contains both q1 and q2 → contaminated, 2 benchmarks
        ("d2", "what is the capital city of the ancient kingdom of lydia and also "
               "name the smallest prime number greater than one hundred"),
        # shares a few words but no full n-gram → clean
        ("d3", filler + "the capital city has a harbor " + filler),
        ("d4", filler * 3),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_contamination_report_exact_counts(spark):
    rep = {
        r["doc_id"]: r
        for r in dc.contamination_report(
            _docs(spark), _bench(spark), n=8
        ).collect()
    }
    assert set(rep) == {"d1", "d2"}
    # q1 is 11 words → 4 distinct 8-grams, all present verbatim in d1;
    # bridging 8-grams into the filler are not benchmark grams
    assert rep["d1"]["overlap_ngrams"] == 4
    assert rep["d1"]["n_benchmarks"] == 1
    # d2 carries q1 verbatim (4 8-grams) and q2 verbatim (9 words → 2)
    assert rep["d2"]["n_benchmarks"] == 2
    assert rep["d2"]["overlap_ngrams"] == 6


def test_min_hits_threshold(spark):
    rep = dc.contamination_report(
        _docs(spark), _bench(spark), n=8, min_hits=5
    ).collect()
    assert {r["doc_id"] for r in rep} == {"d2"}


def test_benchmark_is_broadcast(spark):
    out = dc.contamination_report(_docs(spark), _bench(spark), n=8)
    assert "BroadcastHashJoinExec" in node_classes(out)


def test_bloom_prefilter_report_identical(spark):
    # Bloom pre-filter has no false negatives, so the verified report must
    # equal the exact path's report exactly
    docs, bench = _docs(spark), _bench(spark)
    exact = sorted(map(tuple, dc.contamination_report(docs, bench, n=8).collect()))
    got = dc.contamination_report(docs, bench, n=8, bloom_fpp=0.001).collect()
    assert sorted(map(tuple, got)) == exact


def test_bloom_prefilter_cuts_probe_volume(spark):
    # clean grams must be dropped map-side: the pre-filtered gram stream
    # reaching the join is a small superset of the true collisions, far
    # below the full corpus gram count
    from llm_document_parser_spark.operators.bloom import (
        build_seen_bloom,
        filter_might_contain,
    )

    docs, bench = _docs(spark), _bench(spark)
    # distinct 8-grams per document
    doc_ngrams = dc.benchmark_ngrams(docs, id_col="doc_id", n=8)
    bench_keys = dc.benchmark_ngrams(bench, n=8).select("ngram").distinct()
    bloom = build_seen_bloom(bench_keys, url_col="ngram", fpp=0.001)
    total = doc_ngrams.count()
    survived = filter_might_contain(doc_ngrams, bloom, col="ngram")
    n_survived = survived.count()
    true_hits = doc_ngrams.join(bench_keys, "ngram").count()
    assert true_hits <= n_survived  # no false negatives
    assert n_survived < total * 0.25  # the clean bulk died map-side
    # and the surviving false positives are within a generous fpp budget
    assert n_survived - true_hits <= max(5, int(total * 0.01))


def _hash_exchanges(df) -> int:
    return sum(
        class_name(n) == "ShuffleExchangeExec"
        and class_name(n.outputPartitioning()) == "HashPartitioning"
        for n in plan_nodes(df)
    )


def test_bloom_prefilter_keeps_broadcast_join_shape(spark):
    # the pre-filter must not change the join strategy: corpus grams still
    # meet the benchmark via a broadcast hash join, and the Bloom probe is
    # an Arrow-batched filter (no exchange added on the corpus side)
    out = dc.contamination_report(
        _docs(spark), _bench(spark), n=8, bloom_fpp=0.001
    )
    nodes = node_classes(out)
    assert "BroadcastHashJoinExec" in nodes and "SortMergeJoinExec" not in nodes
    # small bitmaps probe as pure codegen expressions against an inlined
    # word array (round-6 optimization): NO Python stage in the plan at
    # all — the JVM↔Python boundary only appears for bitmaps too big to
    # inline (> _INLINE_BITMAP_MAX_BYTES), which this 500-gram filter is
    # far below
    assert "ArrowEvalPythonExec" not in nodes
    assert "BatchEvalPythonExec" not in nodes
    # and the pre-filter adds ZERO shuffles vs the exact path: the corpus
    # stream still reaches the join exchange-free (the bloom plan can show
    # FEWER exchanges — its benchmark gram table is checkpointed before
    # the bitmap build, so that side's distinct is materialized outside
    # this plan)
    exact = dc.contamination_report(_docs(spark), _bench(spark), n=8)
    assert _hash_exchanges(out) <= _hash_exchanges(exact)


def test_short_docs_and_benchmarks_yield_no_ngrams(spark):
    docs = spark.createDataFrame(
        [("s1", "too short"), ("s2", None)], "doc_id string, text string"
    )
    bench = spark.createDataFrame([("b", "tiny")], "bench_id string, text string")
    assert dc.contamination_report(docs, bench, n=10).count() == 0
