"""Sentence-level bitext alignment — the step after URL pair mining.

``operators/urls.bitext_url_pairs`` finds page pairs that differ only in
a language path segment (the ParaCrawl/CCMatrix prelude); this module
turns a matched pair's two texts into aligned sentence pairs — the unit
parallel-corpus training actually consumes. The aligner is the
Gale-Church diagonal baseline: sentences pair up positionally, and a
pair survives only if the two lengths agree within a ratio gate (real
translations track each other's length closely; boilerplate, truncated
pages and mis-paired content do not).

The ratio gate is INTEGER arithmetic (``max*den <= min*num``) so the
DuckDB oracle matches exactly — no float threshold in an admission
decision.

Scale shape: whatever join produced the pairs is the only shuffle;
splitting, zipping and gating are all narrow per-row expressions
(``split`` → ``transform``/``filter`` → ``zip_with`` → ``posexplode``),
zero Python. A page's sentence list lives in one row — no cross-row
state — so the operator streams at scan speed at 10^12 pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# portable sentence boundary (RE2-safe: no lookbehind): terminal
# punctuation run + whitespace; the last sentence keeps its terminal run,
# stripped during normalization below
SENT_SPLIT_RE = r"[.!?]+\s+"


def sentences(text: Column) -> Column:
    """Array of normalized sentences: boundary split, terminal
    punctuation stripped, trimmed, empties dropped."""
    return F.filter(
        F.transform(
            F.split(text, SENT_SPLIT_RE),
            lambda s: F.trim(F.regexp_replace(s, r"[.!?]+$", "")),
        ),
        lambda s: s != "",
    )


def align_sentences(
    pairs: DataFrame,
    id_col: str = "pair_id",
    a_col: str = "text_a",
    b_col: str = "text_b",
) -> DataFrame:
    """Positionally aligned sentence pairs with the length-ratio verdict.

    Output: ``(pair_id, idx, sent_a, sent_b, len_a, len_b, aligned)`` for
    every index present in BOTH texts (the shorter side truncates).
    ``aligned`` = 1 when ``max(len) <= 2 * min(len)`` or both sentences
    are ≤ 15 chars (short UI strings pair loosely — the standard
    Gale-Church small-segment exemption)."""
    sa, sb = sentences(F.col(a_col)), sentences(F.col(b_col))
    z = F.zip_with(sa, sb, lambda x, y: F.struct(x.alias("sa"), y.alias("sb")))
    rows = (
        pairs.select(F.col(id_col).alias("pair_id"), F.posexplode(z))
        .select(
            "pair_id",
            F.col("pos").cast("long").alias("idx"),
            F.col("col.sa").alias("sent_a"),
            F.col("col.sb").alias("sent_b"),
        )
        .where(F.col("sent_a").isNotNull() & F.col("sent_b").isNotNull())
    )
    la = F.length("sent_a").cast("long")
    lb = F.length("sent_b").cast("long")
    big, small = F.greatest(la, lb), F.least(la, lb)
    ok = (big <= small * 2) | (big <= 15)
    return rows.select(
        "pair_id",
        "idx",
        "sent_a",
        "sent_b",
        la.alias("len_a"),
        lb.alias("len_b"),
        ok.cast("int").alias("aligned"),
    )


# ---------------------------------------------------------------------------
# margin-based mining over embeddings — the CCMatrix/LASER criterion
# ---------------------------------------------------------------------------
# URL pairing (urls.bitext_url_pairs) only finds translations that share a
# site; global mining (CCMatrix, NLLB) instead embeds every sentence and
# pairs x with y when cos(x,y) stands OUT of both neighborhoods:
#
#     margin(x,y) = cos(x,y) / ((avgk_fwd(x) + avgk_bwd(y)) / 2)
#
# (Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
# Multilingual Sentence Embeddings", ACL 2019 — the "ratio" variant).
# A hub sentence that is everyone's near-neighbor has a high denominator
# everywhere, so raw-cosine false positives are suppressed.


def margin_mined_pairs(
    a: DataFrame,
    b: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Forward-best margin pairs from ``a`` into ``b``:
    (a_id, b_id, margin, mutual) — for each a-row its argmax-margin
    b-row, kept when margin >= ``threshold``; ``mutual`` marks pairs that
    are ALSO the b-row's argmax (the intersection strategy, mining's
    highest-precision setting).

    Cosines are rounded to 6 before every ranking (the catalog's
    determinism policy — ordering never depends on sub-round float
    noise); ties break on the partner id.

    This is the ALL-PAIRS verification tier (same standing as
    similarity.embedding_near_dup_pairs): both sides cross-join, so use
    it to verify and to mine small shards. The 10^12-scale path feeds the
    same margin algebra with k-NN candidates from lsh_cosine_topk /
    ivf_topk per direction instead of the cross join — the denominator
    then averages the retrieved top-k, exactly how CCMatrix runs FAISS.
    """
    from .similarity import cosine

    qa = a.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("qv"))
    qb = b.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("cv"))
    s = qa.crossJoin(qb).select(
        "a_id", "b_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos")
    )
    wf = Window.partitionBy("a_id").orderBy(F.desc("cos"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("cos"), F.asc("a_id"))
    fk = (
        s.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= k)
        .groupBy("a_id")
        .agg(F.avg("cos").alias("fwd"))
    )
    bk = (
        s.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= k)
        .groupBy("b_id")
        .agg(F.avg("cos").alias("bwd"))
    )
    m = (
        s.join(fk, "a_id")
        .join(bk, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("cos") / ((F.col("fwd") + F.col("bwd")) / 2.0), 6
            ).alias("margin"),
        )
    )
    mf = Window.partitionBy("a_id").orderBy(F.desc("margin"), F.asc("b_id"))
    mb = Window.partitionBy("b_id").orderBy(F.desc("margin"), F.asc("a_id"))
    ranked = m.withColumn("fr", F.row_number().over(mf)).withColumn(
        "br", F.row_number().over(mb)
    )
    return (
        ranked.filter((F.col("fr") == 1) & (F.col("margin") >= threshold))
        .select("a_id", "b_id", "margin", (F.col("br") == 1).alias("mutual"))
    )
