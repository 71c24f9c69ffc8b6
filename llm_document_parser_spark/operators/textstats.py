"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, fingerprinting.

All native column expressions (JVM-side). Hash-based primitives use md5 hex
strings so an ANSI-SQL oracle (DuckDB) can reproduce them exactly —
engine-specific hashes (xxhash64) are reserved for partitioning where
cross-engine equality doesn't matter.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# deliberately tiny, deterministic stopword lexicons for the n-gram/stopword
# language heuristic; order = tie-break priority
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "les", "des", "est", "une", "dans", "pour", "que"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased text (portable: single-space split)."""
    return F.split(F.lower(text), " ")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text)).cast("long")


# A BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Portable BPE approximation (pre-tokenizer unit count) — native and
    oracle-reproducible. True tokenizer counts live behind the gated seam
    in operators/tokenizers.exact_token_counts; the two definitions must
    not be mixed within one token budget."""
    return F.size(
        F.coalesce(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0), F.array())
    ).cast("long")


def _stopword_hits(text: Column, lang: str) -> Column:
    pat = r"\b(?:" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.size(
        F.coalesce(F.regexp_extract_all(F.lower(text), F.lit(pat), 0), F.array())
    ).cast("long")


def lang_id(text: Column) -> Column:
    """Argmax of per-language stopword hits; ties break in LANG_STOPWORDS
    order; zero hits everywhere → 'und' (undetermined)."""
    hits = {lang: _stopword_hits(text, lang) for lang in LANG_STOPWORDS}
    best = F.greatest(*hits.values())
    # earlier langs win ties: build the WHEN chain in priority order
    result = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):
        result = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(result)
    return result


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: length signal, alpha ratio,
    punctuation ratio, mean word length band. Integer counts + fixed-order
    double arithmetic → bit-stable across engines; round(6) for comparison."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    words = F.size(tokens_col(text)).cast("double")
    mean_word = F.when(words > 0, (n - (words - 1)) / words).otherwise(F.lit(0.0))
    length_sig = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_ok = F.when(
        F.when(n > 0, punct / n).otherwise(F.lit(0.0)) <= 0.1, F.lit(1.0)
    ).otherwise(F.lit(0.0))
    word_ok = F.when((mean_word >= 3.0) & (mean_word <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return F.round(
        length_sig * 0.3 + alpha_ratio * 0.4 + punct_ok * 0.15 + word_ok * 0.15, 6
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Table A1) — the full rule set
# ---------------------------------------------------------------------------
# quality_score above is a scalar heuristic; production curation gates on
# the individual Gopher rules with hard thresholds. repetition_stats
# covers the dup-line/top-bigram family; this block covers the rest:
# word-count bounds, mean word length band, symbol-to-word ratio
# (# and ellipsis), bullet-line and ellipsis-line fractions,
# alphabetic-word fraction, and the required-stopword floor. Everything
# is native array/HOF expressions — no Python, no shuffle.

GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
) -> DataFrame:
    """Per-document Gopher rule metrics + the combined ``passes`` verdict.
    Thresholds are the paper's; callers tune ``min_words`` per corpus.
    Fractions round(6) for cross-engine comparison (same policy as
    quality_score)."""
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    n_words = F.size(words).cast("long")
    nf = n_words.cast("double")
    mean_word = F.round(
        F.when(
            n_words > 0,
            F.aggregate(
                words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / nf,
        ).otherwise(F.lit(0.0)),
        6,
    )
    hashes = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    ellipses = F.size(
        F.coalesce(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0), F.array())
    ).cast("long")
    symbol_ratio = F.round(
        F.when(n_words > 0, (hashes + ellipses).cast("double") / nf).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    lines = F.filter(F.split(t, r"\n"), lambda x: x != "")
    n_lines = F.size(lines).cast("double")
    bullet_frac = F.round(
        F.when(
            F.size(lines) > 0,
            F.size(
                F.filter(
                    lines, lambda x: F.substring(x, 1, 2).isin("- ", "* ", "• ")
                )
            ).cast("double")
            / n_lines,
        ).otherwise(F.lit(0.0)),
        6,
    )
    ellipsis_frac = F.round(
        F.when(
            F.size(lines) > 0,
            F.size(F.filter(lines, lambda x: F.endswith(x, F.lit("..."))))
            .cast("double")
            / n_lines,
        ).otherwise(F.lit(0.0)),
        6,
    )
    alpha_frac = F.round(
        F.when(
            n_words > 0,
            F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))).cast("double")
            / nf,
        ).otherwise(F.lit(0.0)),
        6,
    )
    lowered = F.transform(words, F.lower)
    stop_hits = None
    for sw in GOPHER_REQUIRED_STOPWORDS:
        hit = F.array_contains(lowered, sw).cast("long")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    stop_hits = stop_hits.cast("long")
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stopword_hits") >= 2)
    )
    return out.withColumn("passes", passes)


# ---------------------------------------------------------------------------
# writing-system (Unicode script) profile
# ---------------------------------------------------------------------------
# Statistical lang_id above is stopword-based and only speaks
# space-separated Latin-script languages; a multilingual crawl needs the
# script tier first (CJK/Arabic/Cyrillic pages would all fall to 'und').
# Counting is one native regexp_replace per script — Java regex
# \p{IsXxx} here, RE2 \p{Xxx} in the oracle: two independent Unicode
# script-property tables checking each other.

SCRIPT_ORDER = ("latin", "cyrillic", "han", "arabic")
_JAVA_SCRIPT = {
    "latin": "IsLatin",
    "cyrillic": "IsCyrillic",
    "han": "IsHan",
    "arabic": "IsArabic",
}


def script_char_count(text: Column, script: str) -> Column:
    return F.length(
        F.regexp_replace(text, f"[^\\p{{{_JAVA_SCRIPT[script]}}}]", "")
    ).cast("long")


def dominant_script(text: Column) -> Column:
    """Argmax script by character count; ties break in SCRIPT_ORDER;
    zero letters in every tracked script → 'none'."""
    counts = {s: script_char_count(text, s) for s in SCRIPT_ORDER}
    best = F.greatest(*counts.values())
    result = F.lit("none")
    for s in reversed(SCRIPT_ORDER):
        result = F.when((best > 0) & (counts[s] == best), F.lit(s)).otherwise(result)
    return result


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text
    (portable rolling-hash stand-in; see dedup.simhash_bits for the
    locality-sensitive variant)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit_sep: str = "\n",
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 repetition filters), the standard web-corpus quality gate that
    ``quality_score`` doesn't cover: boilerplate-heavy and spam pages show
    high duplicate-line and top-n-gram fractions.

    Per document: ``n_units`` (non-empty trimmed units split on
    ``unit_sep`` — lines by default; pass ``" "`` for token-level
    duplication on single-line corpora), ``dup_unit_frac`` (fraction of
    units that are repeats), ``dup_unit_char_frac`` (fraction of unit
    characters inside repeated units), and the most frequent word bigram
    with its count and character-coverage fraction of the whole text.

    Shape: two explodes, two hash aggregations, one window over
    (id, bigram-count) — all native, shuffles keyed on the id so AQE
    coalesces them; no per-row Python and no cross products, so the plan
    holds at corpus scale. Documents with zero non-empty units (empty
    text) have no repetition signal and are dropped from the output —
    gate on length upstream.
    """
    base = df.select(
        F.col(id_col).alias("_rid"), F.col(text_col).alias("_text")
    )
    sep_pat = re.escape(unit_sep)

    # explode first, trim/drop-empties after: the explode of the plain
    # split array plus a scalar trim + filter is whole-stage codegen,
    # where the transform/filter HOF pair is interpreted per element
    # (identical rows either way; downstream is an unordered groupBy)
    units = (
        base.select("_rid", F.explode(F.split("_text", sep_pat)).alias("_u"))
        .select("_rid", F.trim("_u").alias("unit"))
        .filter(F.col("unit") != "")
    )
    unit_counts = units.groupBy("_rid", "unit").agg(
        F.count("*").alias("c")
    ).withColumn("chars", F.length("unit"))
    unit_stats = unit_counts.groupBy("_rid").agg(
        F.sum("c").cast("long").alias("n_units"),
        F.round(F.lit(1.0) - F.count("*") / F.sum("c"), 6).alias("dup_unit_frac"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("chars")).otherwise(0))
            / F.greatest(F.sum(F.col("c") * F.col("chars")), F.lit(1)),
            6,
        ).alias("dup_unit_char_frac"),
    )

    # empty-token removal via array_remove (a plain codegen expression)
    # instead of the filter HOF, and bigram formation via an index
    # explode + two element_at lookups instead of the interpreted
    # zip_with-over-slices — same (token_i, token_i+1) multiset per doc,
    # all whole-stage codegen
    toks = F.array_remove(F.split(F.lower(F.col("_text")), r"\s+"), "")
    idx = F.when(F.size("_tk") >= 2, F.sequence(F.lit(1), F.size("_tk") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigram_counts = (
        base.select("_rid", toks.alias("_tk"))
        .select("_rid", "_tk", F.explode(idx).alias("_i"))
        .select(
            "_rid",
            F.concat_ws(
                " ",
                F.try_element_at("_tk", F.col("_i")),
                F.try_element_at("_tk", F.col("_i") + 1),
            ).alias("bigram"),
        )
        .groupBy("_rid", "bigram")
        .agg(F.count("*").alias("c"))
    )
    # argmax by (c DESC, bigram ASC) as a min-struct aggregation instead
    # of a row_number window: structs order field-by-field, so
    # min(struct(-c, bigram)) picks exactly the window's rn=1 row —
    # deterministic ties included — while replacing the exchange+sort+
    # window pass with one hash agg whose partials run map-side
    top = (
        bigram_counts.groupBy("_rid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("c")).alias("_negc"), F.col("bigram").alias("_bg")
                )
            ).alias("_top")
        )
        .select(
            "_rid",
            F.col("_top._bg").alias("top_bigram"),
            (-F.col("_top._negc")).alias("top_c"),
        )
    )

    return (
        base.select("_rid", F.length("_text").alias("_text_len"))
        .join(unit_stats, "_rid")
        .join(top, "_rid", "left")
        .select(
            F.col("_rid").alias(id_col),
            "n_units",
            "dup_unit_frac",
            "dup_unit_char_frac",
            F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
            F.coalesce(F.col("top_c"), F.lit(0)).cast("long").alias(
                "top_bigram_count"
            ),
            F.round(
                F.coalesce(F.col("top_c") * F.length("top_bigram"), F.lit(0))
                / F.greatest(F.col("_text_len"), F.lit(1)),
                6,
            ).alias("top_bigram_char_frac"),
        )
    )


ZIPF_TOP_N = 500


def zipf_fit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level Zipf rank-frequency fit — one summary row:

    ``n_types``, ``n_tokens``, ``zipf_slope`` / ``zipf_intercept`` /
    ``zipf_r2`` (OLS of ln(freq) on ln(rank) over the ``ZIPF_TOP_N`` most
    frequent types), and ``top_coverage`` (token share of those types).

    Natural text follows slope ≈ -1 with high r²; machine-generated spam,
    template farms, and OCR noise bend the curve — a cheap corpus-health
    gate run per source/snapshot before expensive curation stages.

    Tokenization is the corpus-standard lowercase non-alphanumeric split
    (same as the inverted-index/TF-IDF tier, so type counts agree across
    catalog queries).

    Scale shape: explode → ONE token-keyed count shuffle → top-N via
    orderBy+limit (TakeOrdered: per-partition heaps, no global sort) →
    rank window and regression over ``ZIPF_TOP_N`` rows (bounded by the
    constant, NOT the corpus — the single-partition window holds
    ≤ZIPF_TOP_N rows by construction) → one-row cross joins. Corpus-sized data never
    passes through an unpartitioned stage."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    top = counts.orderBy(F.desc("n"), "tok").limit(ZIPF_TOP_N)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n"), "tok"))
    )
    ln_n, ln_r = F.log(F.col("n")), F.log(F.col("r"))
    fit = ranked.agg(
        F.regr_slope(ln_n, ln_r).alias("slope"),
        F.regr_intercept(ln_n, ln_r).alias("icept"),
        F.regr_r2(ln_n, ln_r).alias("r2"),
        F.sum("n").cast("long").alias("top_tokens"),
    )
    return fit.crossJoin(totals).select(
        "n_types",
        "n_tokens",
        F.round("slope", 6).alias("zipf_slope"),
        F.round("icept", 6).alias("zipf_intercept"),
        F.round("r2", 6).alias("zipf_r2"),
        F.round(
            F.col("top_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("top_coverage"),
    )


def build_vocab(
    df: DataFrame, text_col: str = "text", k: int = 50_000
) -> DataFrame:
    """Top-``k`` corpus tokens by frequency (deterministic tie-break:
    count desc, token asc) — one count shuffle + TakeOrdered heap."""
    return (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(k)
        .select("tok")
    )


def oov_rate_by_group(
    df: DataFrame,
    vocab: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary accounting per group: ``n_docs``, ``n_tokens``,
    ``n_oov``, micro-averaged ``oov_rate`` (Σoov/Σtokens — integer sums,
    so no float-accumulation-order drift) and ``max_doc_oov_rate`` (the
    worst single document). The tokenizer-coverage gate: a source whose
    OOV rate jumps after a vocab change is about to waste token budget
    on fragment sequences.

    Scale shape: token explode → LEFT JOIN against the (broadcast-sized)
    vocab — Catalyst broadcasts it map-side, corpus tokens never shuffle
    for membership — then one doc-keyed and one group-keyed agg."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_rid"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")
    joined = toks.join(
        F.broadcast(vocab.select(F.col("tok"), F.lit(1).alias("_in"))),
        "tok",
        "left",
    )
    per_doc = joined.groupBy("grp", "_rid").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    return per_doc.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_oov").cast("long").alias("n_oov"),
        F.round(
            F.sum("n_oov").cast("double") / F.sum("n_toks").cast("double"), 6
        ).alias("oov_rate"),
        F.round(
            F.max(F.col("n_oov").cast("double") / F.col("n_toks")), 6
        ).alias("max_doc_oov_rate"),
    )


# ---------------------------------------------------------------------------
# readability — grade-level scoring for curriculum ordering
# ---------------------------------------------------------------------------
# Curriculum-ordered pretraining and kids/simple-English corpus carving
# (e.g. deduped simple.wikipedia tiers) need a cheap monotone difficulty
# signal. Flesch Reading Ease / Flesch-Kincaid grade are the standard
# heuristics; the only non-trivial input is the syllable count, which
# this engine approximates the classic way: count VOWEL GROUPS (maximal
# runs of [aeiouy]) per word, minus a trailing silent-e correction, min
# 1 per word. That is the same approximation every readability library
# ships; it is deterministic and expressible natively on both engines
# (regexp_extract_all on Spark / regexp_extract_all on DuckDB), so the
# score is oracle-checkable to the decimal — no Python anywhere.


def word_syllables(word: Column) -> Column:
    """Approximate syllables of one lowercased word: vowel-group count
    ([aeiouy]+ runs), minus one for a silent-e ending (consonant + final
    'e' with an earlier vowel group), floored at 1 — every word speaks at
    least one syllable, including all-consonant/digit tokens."""
    groups = F.size(F.regexp_extract_all(word, F.lit("[aeiouy]+"), 0))
    silent_e = word.rlike("[aeiouy][a-z]*[bcdfghjkmnpqrstvwxz]e$").cast("int")
    return F.greatest(groups - silent_e, F.lit(1))


def syllable_count(text: Column) -> Column:
    """Total approximate syllables: per-word vowel-group counting with
    the silent-e correction and the 1-per-word floor, summed by one HOF
    fold over the whitespace tokens — zero Python, zero shuffle."""
    words = F.filter(tokens_col(text), lambda t: t != "")
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + word_syllables(w).cast("long"),
    )


def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_words, n_sentences, n_syllables, flesch_ease_r, fk_grade_r)
    per document. Sentences = terminal-punctuation runs ([.!?]+), min 1;
    scores use the canonical coefficients:

        ease  = 206.835 - 1.015 * words/sentence - 84.6 * syllables/word
        grade = 0.39 * words/sentence + 11.8 * syllables/word - 15.59

    Zero-word documents are dropped (no ratio is defined). Pure per-row
    expressions — zero shuffle, zero Python, scan-speed at any corpus
    size; rounded to 4 (the catalog float policy)."""
    t = F.col(text_col)
    words = F.size(F.filter(tokens_col(t), lambda x: x != "")).cast("long")
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    sylls = syllable_count(t)
    wps = words.cast("double") / sents.cast("double")
    spw = sylls.cast("double") / words.cast("double")
    return (
        df.select(
            F.col(id_col),
            words.alias("n_words"),
            sents.alias("n_sentences"),
            sylls.alias("n_syllables"),
            F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias(
                "flesch_ease_r"
            ),
            F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade_r"),
        )
        .filter(F.col("n_words") > 0)
    )
