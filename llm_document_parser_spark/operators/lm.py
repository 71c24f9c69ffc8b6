"""Unigram language-model quality scoring — a CCNet-style perplexity proxy.

Web-corpus curation pipelines (CCNet, RefinedWeb, Gopher) score documents
by language-model perplexity and drop or bucket the tails. The real thing
needs KenLM; the distributed SHAPE of the computation — train token
statistics over the corpus, broadcast the model, score every document —
is identical for a unigram LM, and a unigram avg(-log p) already separates
natural prose from boilerplate/gibberish. This module implements that
shape natively (no Python in the hot path), leaving the n-gram backoff
model as a drop-in replacement for the lm table.

Two stages:

* ``train_unigram_lm``: one explode + one groupBy (single shuffle) →
  ``(token, logp)`` with ``logp = ln(count/total)``. The total arrives by
  broadcast cross-join of the 1-row sum — no second shuffle, no collect.
* ``score_unigram_logprob``: explode + join tokens→lm + per-doc agg.
  The lm table is BROADCAST: a corpus vocabulary fits in executor
  memory, so the scoring pass is map-side only — the token join would
  otherwise shuffle on Zipf-skewed keys ('the' dominates), the classic
  skew trap at 10^12 rows.

Determinism: integer counts → one ln per vocab row → avg of doubles;
round(6) absorbs libm-ulp and summation-order noise (same policy as
textstats.quality_score).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        df.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )


def train_unigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram model: ``(token, logp)``, logp = ln(count/total)."""
    counts = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("double").alias("c"))
    )
    total = counts.agg(F.sum("c").alias("s"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", F.log(F.col("c") / F.col("s")).alias("logp")
    )


def score_unigram_logprob(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean negative log-probability under ``lm``:
    ``(id, n_tokens, avg_neg_logp)``. Lower = more typical of the corpus.
    The join is inner, the self-scoring case (every token in-vocab):
    out-of-vocabulary tokens drop out of both the count and the mean."""
    joined = _doc_tokens(df, id_col, text_col).join(F.broadcast(lm), "token")
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg(-F.col("logp")), 6).alias("avg_neg_logp"),
    )


def _pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Adjacent token pairs per document: ``(id, w1, w2)``. Empty tokens
    (runs of spaces) are dropped BEFORE pairing so adjacency matches a
    whitespace tokenizer's; docs with <2 tokens contribute no pairs.

    Index explode + two ``element_at`` lookups (whole-stage codegen)
    instead of exploding an ``arrays_zip`` over two slices — the slices
    allocated two arrays per row and the empty-token ``filter`` HOF was
    interpreted per element (``array_remove`` is the codegen
    equivalent); the pair multiset is identical."""
    toks = F.array_remove(tokens_col(F.col(text_col)), "")
    n = F.size("__ptk")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        df.select(F.col(id_col), toks.alias("__ptk"))
        .select(id_col, "__ptk", F.explode(idx).alias("__pi"))
        .select(
            id_col,
            F.try_element_at("__ptk", F.col("__pi")).alias("w1"),
            F.try_element_at("__ptk", F.col("__pi") + 1).alias("w2"),
        )
    )


def train_bigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram model: ``(w1, w2, logp)`` with
    ``logp = ln(c(w1,w2) / c(w1,·))`` — the conditional next-token
    probability. Training shuffles three times (pair counts, context
    totals, and the w1 join aligning them); the scored model is broadcast,
    so training cost is paid once per corpus."""
    pairs = _pairs(df.select(F.lit(0).alias("_i"), text_col), "_i", text_col)
    big = pairs.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c12"))
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return big.join(ctx, "w1").select(
        "w1", "w2", F.log(F.col("c12") / F.col("c1")).alias("logp")
    )


def score_interpolated_logprob(
    df: DataFrame,
    bigram_lm: DataFrame,
    unigram_lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.9,
    floor_p: float = 1e-9,
) -> DataFrame:
    """Per-document mean negative log-probability under the interpolated
    model ``p = lam * P(w2|w1) + (1-lam) * P(w2)`` — the CCNet scoring
    shape with a real conditional model instead of the unigram proxy.
    Returns ``(id, n_pairs, avg_neg_logp)``; docs with <2 tokens have no
    pairs and are absent (score them with the unigram path).

    Both model joins are left joins with broadcast (capped models fit in
    executor memory), so scoring is map-side only: explode → two
    broadcast-hash joins → one groupBy on the doc id. Unseen bigrams get
    probability mass only from the unigram term; unseen unigrams fall to
    ``floor_p``."""
    pairs = _pairs(df, id_col, text_col)
    big, uni = F.broadcast(bigram_lm), F.broadcast(unigram_lm)
    p_big = F.coalesce(F.exp(F.col("logp")), F.lit(0.0))
    p_uni = F.coalesce(F.exp(F.col("u_logp")), F.lit(float(floor_p)))
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(uni.select(F.col("token").alias("w2"), F.col("logp").alias("u_logp")),
              "w2", "left")
        .select(
            id_col,
            (-F.log(lam * p_big + (1.0 - lam) * p_uni)).alias("neg_logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("neg_logp"), 6).alias("avg_neg_logp"),
    )


def perplexity_buckets(
    scores: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    score_col: str = "avg_neg_logp",
) -> DataFrame:
    """CCNet's head/middle/tail split: within each language, rank documents
    by LM score and cut into 3 equal tiles (1 = most fluent).
    One window per language partition — languages are the parallelism
    unit, exactly how CCNet shards the corpus. Deterministic tie-break on
    the id keeps the tiling stable across engines and runs."""
    from pyspark.sql import Window

    labeled = scores.join(docs.select(id_col, lang_col), id_col)
    w = (
        Window.partitionBy(lang_col)
        .orderBy(F.col(score_col), F.col(id_col).cast("string"))
    )
    tile = F.ntile(3).over(w)
    label = F.when(tile == 1, "head").when(tile == 3, "tail").otherwise("middle")
    return labeled.select(
        id_col,
        lang_col,
        score_col,
        tile.cast("long").alias("ppl_tile"),
        label.alias("ppl_bucket"),
    )


def source_unigram_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """KL(p_source || p_corpus) per source over add-``alpha``-smoothed
    unigram distributions on the GLOBAL vocabulary — the dataset-mixture
    diagnostic (a source whose divergence spikes is off-distribution:
    wrong language, boilerplate flood, scraper bug) used when composing
    pretraining mixtures (Pile/ROOTS-style per-component audits).

    The textbook sum runs over every (source, vocab-token) pair including
    tokens the source never uses — a |sources| x V cross join, ruinous at
    web scale. Smoothing makes every absent token of a source share ONE
    probability p0 = alpha/D_s, so the absent part collapses in closed
    form:

        KL_s = SUM_present p_st ln(p_st/q_t)
             + p0 * [ (V - V_s) ln p0  -  (L - SUM_present ln q_t) ]

    with L = SUM over vocab of ln q_t (a 1-row global) — only
    present-token rows are ever materialized. The DuckDB oracle
    (queries.source_divergence_audit) deliberately computes the NAIVE
    full-vocabulary cross join instead; the match proves the
    decomposition, not just the arithmetic.

    Scale shape: one (source, token) groupBy; the vocab table derives
    from it by a second groupBy (no second corpus pass); the per-source
    pass joins aggregated counts to the vocab on token — both sides
    already aggregated, so Zipf skew hits bounded cardinalities, not raw
    rows. Globals ride as 1-row broadcast cross joins.
    """
    a = float(alpha)
    toks = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(tokens_col(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    cs = toks.groupBy("source", "token").agg(
        F.count("*").cast("double").alias("c")
    )
    ct = cs.groupBy("token").agg(F.sum("c").alias("c_t"))
    g1 = ct.agg(
        F.sum("c_t").alias("n"), F.count("*").cast("double").alias("v")
    )
    q = ct.crossJoin(F.broadcast(g1)).select(
        "token",
        "n",
        "v",
        F.log((F.col("c_t") + a) / (F.col("n") + a * F.col("v"))).alias("ln_q"),
    )
    g2 = q.agg(F.sum("ln_q").alias("l_total"))
    ns = cs.groupBy("source").agg(
        F.sum("c").alias("n_s"), F.count("*").cast("double").alias("v_s")
    )
    d_s = F.col("n_s") + a * F.col("v")
    p_st = (F.col("c") + a) / d_s
    per_src = (
        cs.join(q.select("token", "n", "v", "ln_q"), "token")
        .join(F.broadcast(ns), "source")
        .select(
            "source",
            "n_s",
            "v_s",
            "v",
            (p_st * (F.log(p_st) - F.col("ln_q"))).alias("term"),
            "ln_q",
        )
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_s"),
            F.first("v_s").alias("v_s"),
            F.first("v").alias("v"),
            F.sum("term").alias("sum_present"),
            F.sum("ln_q").alias("sum_ln_q_present"),
        )
    )
    p0 = a / (F.col("n_s") + a * F.col("v"))
    kl = F.col("sum_present") + p0 * (
        (F.col("v") - F.col("v_s")) * F.log(p0)
        - (F.col("l_total") - F.col("sum_ln_q_present"))
    )
    return per_src.crossJoin(F.broadcast(g2)).select(
        "source",
        F.col("n_s").cast("long").alias("n_tokens"),
        F.col("v_s").cast("long").alias("vocab_seen"),
        F.round(kl, 6).alias("kl_r"),
    )
