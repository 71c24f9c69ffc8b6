"""Token-budget sampling (operators/sampling.py): deterministic hash
order, per-group budgets, the first-straddler guarantee, and
partitioning-invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.operators.sampling import sample_to_token_budget
from plan_nodes import node_classes


def _docs(spark, n=60):
    rows = [
        (i, "web" if i % 3 else "code", "tok " * (5 + i % 7))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_budget_respected_per_group(spark):
    out = sample_to_token_budget(
        _docs(spark), budget_tokens=50, group_col="source"
    ).collect()
    by_group: dict[str, list] = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
    assert set(by_group) == {"web", "code"}
    for rows in by_group.values():
        # every kept row started within budget; at most one straddler
        over = [r for r in rows if r["cum_tokens"] > 50]
        assert len(over) <= 1
        for r in rows:
            assert r["cum_tokens"] - r["ws_tokens"] < 50


def test_first_straddler_kept_tiny_budget(spark):
    """A budget smaller than any single document still yields exactly the
    hash-first document per group — never an empty group."""
    out = sample_to_token_budget(
        _docs(spark), budget_tokens=1, group_col="source"
    ).collect()
    per_group = {}
    for r in out:
        per_group.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(ids) == 1 for ids in per_group.values())
    assert set(per_group) == {"web", "code"}


def test_deterministic_and_partitioning_invariant(spark):
    docs = _docs(spark)
    a = {r["doc_id"] for r in sample_to_token_budget(docs, 80, "source").collect()}
    b = {
        r["doc_id"]
        for r in sample_to_token_budget(docs.repartition(13), 80, "source").collect()
    }
    assert a == b and a


def test_global_budget_without_group(spark):
    out = sample_to_token_budget(_docs(spark), budget_tokens=100).collect()
    total = sum(r["ws_tokens"] for r in out)
    max_doc = max(r["ws_tokens"] for r in out)
    assert total >= 100  # budget filled (straddler included)
    assert total - max_doc < 100  # minus the straddler it was under budget


def test_custom_tokens_col(spark):
    """A precomputed (e.g. exact-BPE) count column overrides the default
    whitespace definition."""
    docs = _docs(spark).withColumn("bpe", F.lit(10))
    out = sample_to_token_budget(
        docs, budget_tokens=25, group_col="source", tokens_col=F.col("bpe")
    ).collect()
    for r in out:
        assert r["ws_tokens"] == 10  # the injected definition
    per_group: dict[str, int] = {}
    for r in out:
        per_group[r["source"]] = per_group.get(r["source"], 0) + 1
    assert all(n == 3 for n in per_group.values())  # 2 full + 1 straddler


# ---------------------------------------------------------------------------
# assign_token_shards: exact global cumsum without a global window
# ---------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

from llm_document_parser_spark.operators.sampling import (  # noqa: E402
    assign_token_shards,
)


def test_token_shards_match_global_window(spark):
    """The 256-bucket two-pass cumulative sum must equal the
    single-partition global window exactly, row for row."""
    docs = _docs(spark, 80)
    out = assign_token_shards(docs, shard_tokens=40).select(
        "doc_id", "ws_tokens", "cum_tokens", "shard_id"
    )
    ref_w = Window.orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id").cast("string")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    from llm_document_parser_spark.operators.textstats import token_count

    ref = (
        docs.withColumn("ws_tokens", token_count(F.col("text")))
        .withColumn("cum_ref", F.sum("ws_tokens").over(ref_w).cast("long"))
        .select("doc_id", "cum_ref")
    )
    joined = out.join(ref, "doc_id").collect()
    assert len(joined) == 80
    for r in joined:
        assert r["cum_tokens"] == r["cum_ref"], r
        assert r["shard_id"] == (r["cum_tokens"] - r["ws_tokens"]) // 40


def test_token_shards_contiguous_and_sized(spark):
    """Shard ids start at 0, are contiguous, and every shard except the
    last spans its full token budget (a shard boundary can only advance
    when the budget is crossed)."""
    out = assign_token_shards(_docs(spark, 80), shard_tokens=40)
    shards = (
        out.groupBy("shard_id")
        .agg(F.sum("ws_tokens").alias("tok"), F.max("cum_tokens").alias("hi"))
        .orderBy("shard_id")
        .collect()
    )
    ids = [r["shard_id"] for r in shards]
    assert ids == list(range(len(ids)))
    # every non-final shard's max cumulative offset reaches its budget line
    for r in shards[:-1]:
        assert r["hi"] >= 40 * (r["shard_id"] + 1)


def test_token_shards_partitioning_invariant(spark):
    """Same assignment regardless of input partitioning (determinism)."""
    d1 = assign_token_shards(_docs(spark, 60).repartition(1), shard_tokens=35)
    d7 = assign_token_shards(_docs(spark, 60).repartition(7), shard_tokens=35)
    rows1 = {r["doc_id"]: r["shard_id"] for r in d1.collect()}
    rows7 = {r["doc_id"]: r["shard_id"] for r in d7.collect()}
    assert rows1 == rows7


# ---------------------------------------------------------------------------
# temperature-scaled domain mixing (round 5)
# ---------------------------------------------------------------------------

from llm_document_parser_spark.operators.sampling import (  # noqa: E402
    domain_temperature_sample,
)


def _skewed(spark):
    rows = [(i, "big") for i in range(80)] + [
        (100 + i, "small") for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_temperature_quotas(spark):
    import math

    df = _skewed(spark)
    got = domain_temperature_sample(df, k=50, alpha=0.5).collect()
    per = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + 1
    sa_big, sa_small = math.sqrt(0.8), math.sqrt(0.2)
    d = sa_big + sa_small
    assert per["big"] == round(50 * sa_big / d)    # 33
    assert per["small"] == round(50 * sa_small / d)  # 17
    # alpha=1 keeps natural proportions
    per1 = {}
    for r in domain_temperature_sample(df, k=50, alpha=1.0).collect():
        per1[r["source"]] = per1.get(r["source"], 0) + 1
    assert per1 == {"big": 40, "small": 10}


def test_temperature_zero_is_uniform_and_caps_at_group_size(spark):
    df = _skewed(spark)
    per = {}
    for r in domain_temperature_sample(df, k=60, alpha=0.0).collect():
        per[r["source"]] = per.get(r["source"], 0) + 1
    # uniform quota 30/30, but 'small' only has 20 docs → capped
    assert per == {"big": 30, "small": 20}


def test_temperature_selection_is_deterministic_md5_order(spark):
    import hashlib

    df = _skewed(spark)
    got = sorted(
        r["doc_id"]
        for r in domain_temperature_sample(df, k=50, alpha=0.5).collect()
        if r["source"] == "small"
    )
    ids = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), str(i))
        for i in range(100, 120)
    )
    expect = sorted(int(i) for _, i in ids[:17])
    assert got == expect
    # partitioning-invariant
    again = sorted(
        r["doc_id"]
        for r in domain_temperature_sample(
            df.repartition(7), k=50, alpha=0.5
        ).collect()
        if r["source"] == "small"
    )
    assert got == again


# --- Efraimidis-Spirakis weighted sampling ---------------------------------


def _es_key(doc_id: int, weight: int) -> float:
    import hashlib

    h = hashlib.md5(str(doc_id).encode()).hexdigest()
    u = (int(h[:8], 16) + 0.5) / 4294967296.0
    return u ** (1.0 / weight)


def test_weighted_sample_python_replay_parity(spark):
    from llm_document_parser_spark.operators.sampling import weighted_sample

    rows = [(i, 10 + 90 * (i % 3)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = weighted_sample(df, k=10, weight_col="w").collect()
    expect = sorted(
        ((-_es_key(i, w), i, w) for i, w in rows)
    )[:10]
    assert [(r["id"], r["weight"]) for r in got] == [
        (i, w) for _, i, w in expect
    ]
    for r, (negk, _, _) in zip(got, expect):
        assert r["es_key"] == round(-negk, 6)
    assert [r["sample_rank"] for r in got] == list(range(1, 11))


def test_weighted_sample_weight_rules(spark):
    from llm_document_parser_spark.operators.sampling import weighted_sample

    rows = [(i, (i % 5) - 1) for i in range(30)]  # weights -1..3, some <= 0
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample(df, k=100, weight_col="w")
    kept = out.collect()
    # non-positive weights excluded; k > n keeps every positive row
    assert all(r["weight"] > 0 for r in kept)
    assert len(kept) == sum(1 for _, w in rows if w > 0)
    a = [r["id"] for r in weighted_sample(df, 5, "w").collect()]
    b = [r["id"] for r in weighted_sample(df, 5, "w").collect()]
    assert a == b


def test_weighted_sample_topk_plan(spark):
    from llm_document_parser_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_id long, w long"
    )
    nodes = node_classes(weighted_sample(df, k=5, weight_col="w"))
    # the corpus-side selection is a tree-reduced top-k, not a full sort
    assert "TakeOrderedAndProjectExec" in nodes, nodes
