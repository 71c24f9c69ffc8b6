"""DSIR-style importance weighting + resampling — "make the web corpus
look like the target domain".

Data Selection via Importance Resampling (Xie et al., 2023, the method
behind many pretraining-mix pipelines) scores every raw document by how
much more likely it is under a TARGET distribution (e.g. curated books/
wiki) than under the RAW distribution (the crawl), then samples documents
with Gumbel-perturbed weights so the kept set follows the importance
distribution instead of just taking the argmax docs. The published
estimator uses hashed n-gram bag features; this module implements the
word-unigram variant — the same two-LM log-ratio shape, expressible
natively and verifiable in an ANSI-SQL oracle (hashed variants drop in by
swapping the token column; cf. operators/lm.py for the LM shape).

Weighting — ``importance_weights``:

    logw(doc) = Σ_tokens [ ln p_target(tok) − ln p_raw(tok) ]

with add-k smoothing over the UNION vocabulary so both models cover every
token (a token unseen in the target still gets a finite penalty, not
−inf). Scale shape: two token groupBys (one per corpus, single shuffle
each), a full-outer vocab join, totals by broadcast 1-row cross-join, and
one broadcast token→log-ratio join + per-doc agg for scoring — the
Zipf-skewed token join ships the (capped) ratio table, never shuffles the
corpus (same skew reasoning as lm.score_unigram_logprob).

Resampling — ``importance_resample``: the Gumbel-top-k trick. Adding an
independent Gumbel(0,1) to each log-weight and keeping the top k draws an
EXACT weighted sample without replacement from softmax(logw). The Gumbel
here is deterministic — u is derived arithmetically from the md5 of the
document id (the repo's deterministic-order idiom, cross-engine
reproducible digit-by-digit, no RNG state, no global window) and
g = −ln(−ln u). Top-k compiles to TakeOrderedAndProject (per-partition
top-k + k-row merge), not a global sort — safe at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col


def _tok(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )


def token_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    target_text_col: str | None = None,
) -> DataFrame:
    """(token, log_ratio) over the union vocabulary of both corpora:
    ``ln p_target − ln p_raw`` with add-k smoothed counts (k = 1),
    ``p(tok) = (c + k) / (total + k·V)``. Smoothing guarantees a finite
    ratio for every union-vocab token; scoring a corpus disjoint from
    both (not the DSIR setting) would need an OOV coalesce caller-side."""
    tcol = target_text_col or text_col
    raw_counts = _tok(raw, text_col).groupBy("token").agg(
        F.count("*").cast("double").alias("c_raw")
    )
    tgt_counts = _tok(target, tcol).groupBy("token").agg(
        F.count("*").cast("double").alias("c_tgt")
    )
    vocab = raw_counts.join(tgt_counts, "token", "full_outer").select(
        "token",
        F.coalesce("c_raw", F.lit(0.0)).alias("c_raw"),
        F.coalesce("c_tgt", F.lit(0.0)).alias("c_tgt"),
    )
    totals = vocab.agg(
        F.sum("c_raw").alias("t_raw"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count("*").cast("double").alias("v"),
    )
    k = 1.0
    return vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        (
            F.log((F.col("c_tgt") + k) / (F.col("t_tgt") + k * F.col("v")))
            - F.log((F.col("c_raw") + k) / (F.col("t_raw") + k * F.col("v")))
        ).alias("log_ratio"),
    )


def importance_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
) -> DataFrame:
    """(id, n_tokens, logw) per document: the summed add-1 smoothed
    unigram log-ratio of target vs raw likelihood. ``docs`` is both the
    raw corpus and the scored set (the DSIR setting); positive logw =
    more target-like. Every doc token is in the union vocab by
    construction, so the join is inner and total n_tokens is exact."""
    ratios = F.broadcast(token_log_ratios(
        docs, target, text_col=text_col, target_text_col=target_text_col
    ))
    toks = (
        docs.select(
            F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    return toks.join(ratios, "token").groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("log_ratio").alias("logw"),
    )


def _hash_unit(col: Column) -> Column:
    """Deterministic u ∈ (0,1) from the first 6 md5 hex digits of a
    column — computed digit-by-digit (strpos arithmetic), so the SAME
    value is reproducible in any engine with md5 + substring, with no
    hex-cast or RNG builtins. Adds 16^-7 so u is never exactly 0."""
    hexd = F.lit("0123456789abcdef")
    h = F.md5(col.cast("string"))
    u: Column = F.lit(16.0 ** -7)
    for i in range(1, 7):
        digit = F.position(F.substring(h, i, 1), hexd) - F.lit(1)
        u = u + digit.cast("double") * F.lit(16.0 ** -i)
    return u


def gumbel_key(logw: Column, id_col: Column) -> Column:
    """logw + Gumbel(0,1) with the deterministic hash-derived uniform:
    g = −ln(−ln u). Keeping the top-k of this key is an exact weighted
    sample without replacement from softmax(logw) (Gumbel-top-k)."""
    u = _hash_unit(id_col)
    return logw + (-F.log(-F.log(u)))


def importance_resample(
    weighted: DataFrame,
    n_keep: int,
    id_col: str = "doc_id",
    weight_col: str = "logw",
) -> DataFrame:
    """Top ``n_keep`` rows by Gumbel-perturbed log-weight — the DSIR
    selection step. Deterministic (hash-derived Gumbel), preserves input
    columns, adds ``sample_key``. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k, no global sort."""
    keyed = weighted.withColumn(
        "sample_key", gumbel_key(F.col(weight_col), F.col(id_col))
    )
    return keyed.orderBy(F.col("sample_key").desc(), F.col(id_col)).limit(n_keep)
