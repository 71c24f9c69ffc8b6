"""X7/W1 — document-holder-name extraction with position ranking, native.

Mirrors ``extract_document_holder_name`` (reference:
src/document_parser.py:507-548): six anchored name regexes + NER PERSON
union, dedup, plausibility filter (>= 2 words, length > 4), then score by
earliest text position ``max(0, 1 - pos/len)`` and sort descending — a
within-row top-k (SURVEY.md §2.5 W1): ``transform`` → ``array_sort`` →
``element_at`` instead of an explode/window shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .matches import Shared, find_all

HOLDER_PATTERNS = [
    r"(?i)(?:name|holder|account holder|contact):\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)(?:mr\.|mrs\.|ms\.|dr\.)\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)prepared by:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)issued to:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)attention:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)attn:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
]


def holder_candidates(text: Column, persons: Column) -> Column:
    """ARRAY<STRING> of the plausible holder names, best first. ``persons``
    is the NER PERSON match array (deduped here with the pattern names)."""
    pattern_names = F.concat(*[find_all(text, p, 1) for p in HOLDER_PATTERNS])
    all_names = F.array_distinct(F.concat(pattern_names, persons))
    filtered = F.filter(
        all_names,
        lambda n: (F.size(F.split(F.trim(n), r"\s+")) >= 2) & (F.length(n) > 4),
    )
    # score = max(0, 1 - pos/len) with 0-based pos; not-found -> 0
    scored = F.transform(
        filtered,
        lambda n, i: F.struct(
            F.when(
                F.instr(text, n) > 0,
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - (F.instr(text, n) - 1).cast("double") / F.length(text),
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("score"),
            i.alias("idx"),
            n.alias("name"),
        ),
    )
    # Equal scores tie-break on original position: Spark's comparator sort
    # is not guaranteed stable, while the reference semantics (Python
    # sorted()) are — pinning by idx makes primary_name deterministic.
    ranked = F.array_sort(
        scored,
        lambda l, r: F.when(l["score"] > r["score"], -1)
        .when(l["score"] < r["score"], 1)
        .when(l["idx"] < r["idx"], -1)
        .when(l["idx"] > r["idx"], 1)
        .otherwise(0),
    )
    return F.transform(ranked, lambda s: s["name"])


def holder_names_struct(text: Column, shared: Shared | None = None) -> Column:
    """STRUCT<candidate_names ARRAY<STRING>, primary_name STRING>, reading
    ``shared``'s ranked candidates when set."""
    if shared is None:
        shared = Shared.of(text)
    candidates = shared.candidates
    if candidates is None:
        candidates = holder_candidates(text, shared.person)
    primary = F.try_element_at(candidates, F.lit(1))
    return F.struct(
        candidates.alias("candidate_names"), primary.alias("primary_name")
    )
