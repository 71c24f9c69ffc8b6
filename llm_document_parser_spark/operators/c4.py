"""C4-style cleaning (Raffel et al. 2020, the C4 corpus rules) — the
second canonical web-corpus filter family next to Gopher
(textstats.gopher_quality). Line-level rules REWRITE the document
(C4 keeps a page but drops offending lines); page-level rules VETO it:

line rules (drop the line):
  L1 terminal punctuation — keep only lines ending in . ! ? or "
  L2 short lines — keep only lines with >= 3 words
  L3 the word "javascript" (case-insensitive) anywhere in the line

page rules (drop the page):
  P1 "lorem ipsum" anywhere (case-insensitive, pre-filter text)
  P2 a curly brace '{' anywhere (code markers, pre-filter text)
  P3 any token on the blocked-word list (case-insensitive token match,
     pre-filter text; C4 uses the LDNOOBW list)
  P4 fewer than ``min_sentences`` sentences AFTER line filtering
     (sentence ~ terminal-punctuation occurrence, C4's proxy)

Everything is native array/HOF expressions over one ``split`` — zero
Python, zero shuffle, embarrassingly parallel at any scale. The same
algebra is reproduced in SQL by the `c4_clean_docs` oracle (DuckDB
list lambdas), value-for-value per document.

Reference scope note: the reference engine has no corpus-filter tier;
this extends SURVEY.md §2's text-analysis family for the LLM-training
pipeline the same way gopher_quality does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic placeholder for the LDNOOBW blocklist
C4_BLOCKED_WORDS: tuple[str, ...] = ("viagra", "casino", "bet365")

_TERMINALS = (".", "!", "?", '"')


def _line_words(line: Column) -> Column:
    return F.filter(F.split(line, r"\s+"), lambda x: x != "")


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sentences: int = 3,
) -> DataFrame:
    """Per-document C4 verdict: ``(id, clean_text, n_lines, n_kept,
    has_lorem_ipsum, has_brace, has_blocked_word, n_sentences, passes)``.

    ``clean_text`` is the surviving lines joined with ``\\n`` (empty
    string when nothing survives); ``passes`` is the page verdict (P1-P4
    all clear). Callers keep ``passes`` rows and train on ``clean_text``.
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, r"\n"), lambda x: x != "")

    def keep_line(x: Column) -> Column:
        trimmed = F.trim(x)
        ends_ok = F.lit(False)
        for term in _TERMINALS:
            ends_ok = ends_ok | F.endswith(trimmed, F.lit(term))
        long_enough = F.size(_line_words(x)) >= 3
        no_js = ~F.lower(x).contains("javascript")
        return ends_ok & long_enough & no_js

    kept = F.filter(lines, keep_line)
    clean_text = F.array_join(kept, "\n")
    words_lower = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    has_blocked = F.arrays_overlap(
        words_lower, F.array(*[F.lit(w) for w in C4_BLOCKED_WORDS])
    )
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    n_sentences = F.size(
        F.coalesce(F.regexp_extract_all(clean_text, F.lit(r"[.!?]"), 0), F.array())
    ).cast("long")
    passes = (
        ~has_lorem & ~has_brace & ~has_blocked & (n_sentences >= min_sentences)
    )
    return df.select(
        F.col(id_col),
        clean_text.alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        has_blocked.alias("has_blocked_word"),
        n_sentences.alias("n_sentences"),
        passes.alias("passes"),
    )
