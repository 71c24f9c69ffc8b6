"""jobs/curate_job.curate — the post-extraction curation cascade over
real pipeline output (CLI smoke-tested separately; this pins library
semantics: near-dup keep-id wins, gates produce disjoint verdicts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.curate_job import curate, run_curation


def test_curate_cascade(spark):
    base = (
        "the quick brown fox jumps over one lazy dog and it runs through "
        "green fields toward distant hills while evening light settles "
        "quietly upon old farm buildings near a winding river bend"
    )
    rows = [
        ("u1", base),
        ("u2", base + " extra tail words"),     # near-dup of u1 → dropped
        ("u3", "el la de que los una por con " * 12),  # not English → lang
        # English stopwords present (passes lang) but massively repeated
        ("u4", "the cat sat on the mat " * 20),
        ("u5", base.replace("fox", "wolf").replace("dog", "goat")),
        ("u6", None),                           # null text → filtered out
    ]
    docs = spark.createDataFrame(rows, "url string, extracted_text string")
    kept, labeled = curate(docs, min_quality=0.0, threshold=0.5)
    verdicts = {r["url"]: r["verdict"] for r in labeled.collect()}
    assert verdicts["u1"] == "kept"          # canonical keep-id of its pair
    assert verdicts["u2"] == "near_dup"
    assert verdicts["u3"] == "lang"
    assert verdicts["u4"] == "repetition"
    assert "u6" not in verdicts              # null text filtered before gates
    kept_urls = {r["url"] for r in kept.collect()}
    assert "u1" in kept_urls and "u2" not in kept_urls
    # kept keeps the original result schema (gate columns dropped)
    assert set(kept.columns) == {"url", "extracted_text"}


def test_curate_decontamination_gate(spark):
    base = (
        "the quick brown fox jumps over one lazy dog and it runs through "
        "green fields toward distant hills while evening light settles"
    )
    eval_q = "which animal jumps over the lazy dog in the famous sentence"
    rows = [
        ("u1", base),
        # embeds the eval question verbatim → contaminated
        ("u2", "the page says " + eval_q + " and then " + base),
        ("u3", base.replace("fox", "owl").replace("dog", "hen")),
    ]
    docs = spark.createDataFrame(rows, "url string, extracted_text string")
    bench = spark.createDataFrame([("q1", eval_q)], "bench_id string, text string")
    kept, labeled = curate(
        docs, min_quality=0.0, threshold=0.95, benchmark=bench, decon_n=8
    )
    verdicts = {r["url"]: r["verdict"] for r in labeled.collect()}
    assert verdicts["u2"] == "contaminated"
    assert verdicts["u1"] == "kept"
    kept_urls = {r["url"] for r in kept.collect()}
    assert "u2" not in kept_urls and "u1" in kept_urls
    assert set(kept.columns) == {"url", "extracted_text"}


def _corpus(spark, n=40):
    words = ("alpha bridge castle delta engine forest garden harbor island "
             "jungle kettle lantern meadow needle orchard piston quarry river")
    rows = [
        (f"https://ex.com/p{i}",
         f"the story of doc {i} is that it was found in the "
         + " and the ".join(words.split()[i % 6:])
         + f" with a tail of {i * 7} at the end")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, extracted_text string")


def _kept_snapshot(spark, path):
    rows = spark.read.parquet(path).drop("bucket").collect()
    return sorted((r["url"], r["extracted_text"]) for r in rows)


def test_curation_token_budget(spark, tmp_path):
    """--budget-tokens: the kept corpus is cut to a deterministic token
    budget; overflow docs land in the budget_out funnel bucket and the
    written corpus matches the kept verdicts exactly."""
    docs = _corpus(spark)
    out = str(tmp_path / "budgeted")
    report = run_curation(
        spark, docs, out, job_id="b1", num_buckets=4,
        min_quality=0.0, threshold=0.9, budget_tokens=200,
    )
    funnel = report["funnel"]
    assert funnel.get("budget_out", 0) > 0
    assert funnel.get("kept", 0) > 0
    kept_rows = spark.read.parquet(out).collect()
    assert len(kept_rows) == funnel["kept"] == report["kept_rows"]
    # achieved budget: sum of kept ws tokens stays within budget + one
    # straddler document
    from llm_document_parser_spark.operators.textstats import token_count
    kept_toks = [
        r["t"]
        for r in spark.read.parquet(out)
        .select(token_count(F.col("extracted_text")).alias("t"))
        .collect()
    ]
    assert sum(kept_toks) - max(kept_toks) < 200 <= sum(kept_toks)


def test_curation_exact_tokenizer_fails_loudly_without_tiktoken(spark, tmp_path):
    """--tokenizer exact must raise (not silently fall back to the
    whitespace approximation) when no real tokenizer is importable —
    mixing token definitions inside one budget is the failure mode this
    guards (operators/tokenizers.py)."""
    from llm_document_parser_spark.operators import tokenizers

    assert not tokenizers.tiktoken_available()  # sandbox precondition
    with pytest.raises(RuntimeError, match="tiktoken"):
        run_curation(
            spark, _corpus(spark), str(tmp_path / "never"), num_buckets=4,
            min_quality=0.0, threshold=0.9,
            budget_tokens=200, tokenizer="exact",
        )
    with pytest.raises(ValueError, match="unknown tokenizer"):
        run_curation(
            spark, _corpus(spark), str(tmp_path / "never2"), num_buckets=4,
            min_quality=0.0, threshold=0.9,
            budget_tokens=200, tokenizer="bogus",
        )


def test_curation_exact_tokenizer_budget_via_seam(spark, tmp_path):
    """--tokenizer exact with an injected encoder (the tokenizer seam):
    the budget cut must be computed on the ENCODER's counts, not the
    whitespace count. The stand-in encoder splits letter/digit runs, so
    'a1b2' is 4 BPE tokens but 1 whitespace token — a budget sized in
    BPE tokens must cut earlier than the whitespace path would."""
    from llm_document_parser_spark.operators.tokenizers import RegexStandInEncoder

    # punctuation-rich corpus: every 'well-known' style word is 1
    # whitespace token but 3 encoder tokens, so the two definitions
    # diverge ~2x and the budget cut MUST move
    words = ("alpha-bridge castle's delta/engine forest, garden; harbor "
             "island-jungle kettle! lantern? meadow needle's orchard")
    rows = [
        (f"https://ex.com/q{i}",
         f"the well-known story (no. {i}) of this doc: "
         + " and the ".join(words.split()[i % 5:]))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "url string, extracted_text string")
    out_ws = str(tmp_path / "ws")
    out_ex = str(tmp_path / "ex")
    # threshold 0.99: docs differing by their number stay distinct, so the
    # budget (not near-dup collapse) is what differentiates the two paths
    kw = dict(num_buckets=4, min_quality=0.0, threshold=0.99, budget_tokens=200)
    rep_ws = run_curation(spark, docs, out_ws, job_id="tw", **kw)
    rep_ex = run_curation(
        spark, docs, out_ex, job_id="te", tokenizer="exact",
        encoder_factory=RegexStandInEncoder, **kw,
    )
    # same cascade, same budget number, ~2x bigger per-doc counts under
    # the encoder definition → the exact path keeps strictly fewer docs
    assert rep_ex["funnel"]["kept"] < rep_ws["funnel"]["kept"]
    assert rep_ex["funnel"]["budget_out"] > rep_ws["funnel"].get("budget_out", 0)
    # and the achieved budget is audited in ENCODER tokens
    enc = RegexStandInEncoder()
    kept_tok = [
        len(enc.encode(r["extracted_text"]))
        for r in spark.read.parquet(out_ex).collect()
    ]
    assert sum(kept_tok) - max(kept_tok) < 200 <= sum(kept_tok)


def test_curation_resume_after_kill(spark, tmp_path, monkeypatch):
    """The kept-corpus write survives a mid-job kill: phase-1 verdicts are
    reused (committed _SUCCESS table) and phase 2 resumes from the last
    committed bucket group, byte-equal to a one-shot run."""
    docs = _corpus(spark)

    ref_out = str(tmp_path / "ref_curated")
    run_curation(spark, docs, ref_out, job_id="ref", num_buckets=8,
                 buckets_per_commit=2, min_quality=0.0, threshold=0.9)
    want = _kept_snapshot(spark, ref_out)
    assert len(want) > 0

    from llm_document_parser_spark import lineage
    from llm_document_parser_spark.lineage import (
        job_progress,
        success_marker_exists,
    )

    run_with_lineage = lineage.run_with_lineage

    def killed_after_one_group(spark, pages, transform, *args, **kwargs):
        calls = []

        def dying(df):
            calls.append(df)
            if len(calls) == 2:
                raise RuntimeError("simulated failure")
            return transform(df)

        return run_with_lineage(spark, pages, dying, *args, **kwargs)

    out = str(tmp_path / "curated")
    with monkeypatch.context() as m:
        m.setattr(lineage, "run_with_lineage", killed_after_one_group)
        with pytest.raises(RuntimeError, match="simulated failure"):
            run_curation(spark, docs, out, job_id="j1", num_buckets=8,
                         buckets_per_commit=2, min_quality=0.0, threshold=0.9)
    # the kill left a committed verdict table and a partial kept corpus
    assert success_marker_exists(spark, out + "_verdicts")
    prog = job_progress(spark, out + "_lineage", "j1", 8)
    assert 0 < prog["completed_buckets"] < 8

    report = run_curation(spark, docs, out, job_id="j1", num_buckets=8,
                          buckets_per_commit=2, min_quality=0.0, threshold=0.9)
    assert job_progress(spark, out + "_lineage", "j1", 8)["progress"] == 1.0
    assert _kept_snapshot(spark, out) == want
    assert report["kept_rows"] == len(want)
    assert report["n_input"] == 40
    assert report["funnel"].get("kept") == len(want)


def test_curate_c4_gate(spark):
    base = (
        "the quick brown fox jumps over one lazy dog today. it then runs "
        "through the green fields quickly. at dusk the fox rests by the "
        "river bend quietly."
    )
    rows = [
        ("u1", base),                                  # clean -> kept
        ("u2", base + "\nlorem ipsum dolor sit amet."),  # C4 page veto
        ("u3", base + "\nfunction() { return 1; } done."),  # brace veto
        # stopword-rich (passes the earlier lang gate) but no terminal
        # punctuation anywhere -> 0 sentences after line filtering -> veto
        ("u4", "the fox and the dog have that to be with the cat of the barn"),
    ]
    docs = spark.createDataFrame(rows, "url string, extracted_text string")
    kept, labeled = curate(
        docs, min_quality=0.0, threshold=0.99, c4_min_sentences=2
    )
    verdicts = {r["url"]: r["verdict"] for r in labeled.collect()}
    assert verdicts["u1"] == "kept"
    assert verdicts["u2"] == "c4"
    assert verdicts["u3"] == "c4"
    assert verdicts["u4"] == "c4"
    # gate off by default: same corpus passes without the flag
    _, labeled_off = curate(docs, min_quality=0.0, threshold=0.99)
    off = {r["url"]: r["verdict"] for r in labeled_off.collect()}
    assert off["u2"] == "kept" and off["u4"] == "kept"


def test_curation_pack_plan(spark, tmp_path):
    """--pack-seq-len: a packing plan over the curated output lands at
    <output>_packplan, covers exactly the kept documents, and the report's
    packing stats agree with the plan."""
    docs = _corpus(spark)
    out = str(tmp_path / "packed")
    report = run_curation(
        spark, docs, out, job_id="p1", num_buckets=4,
        min_quality=0.0, threshold=0.9, pack_seq_len=64, pack_shards=4,
    )
    pk = report["packing"]
    assert pk["seq_len"] == 64 and pk["shards"] == 4
    plan = spark.read.parquet(out + "_packplan")
    kept_urls = {r["url"] for r in spark.read.parquet(out).collect()}
    plan_rows = plan.collect()
    assert {r["url"] for r in plan_rows} == kept_urls
    assert pk["docs"] == len(plan_rows) == report["funnel"]["kept"]
    assert pk["tokens"] == sum(r["n_tokens"] for r in plan_rows)
    # sequence accounting: per shard ceil(tokens/seq_len), summed
    per_shard: dict[int, int] = {}
    for r in plan_rows:
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + r["n_tokens"]
    assert pk["sequences"] == sum(-(-t // 64) for t in per_shard.values())
    assert 0.0 <= pk["boundary_cross_frac"] <= 1.0


def test_curation_pack_plan_rejects_unknown_tokenizer(spark, tmp_path):
    """The packing plan counts tokens like the budget does: an unknown
    ``tokenizer`` raises instead of silently counting whitespace tokens,
    and it raises before phase 1 writes anything."""
    with pytest.raises(ValueError, match="unknown tokenizer"):
        run_curation(
            spark, _corpus(spark), str(tmp_path / "packed"), num_buckets=4,
            min_quality=0.0, threshold=0.9, tokenizer="bpe", pack_seq_len=64,
        )
    assert not (tmp_path / "packed_verdicts").exists()
