"""PII redaction for training corpora — scrub contact identifiers from
extracted text before it ships to a training run.

The extraction side of the engine FINDS emails/phones/SSNs
(operators/patterns.py, reference: src/document_parser.py:58-105); this
module is the curation-side complement: replace them with stable
placeholder tokens so downstream dedup/fingerprints stay deterministic.

Spec (documented, applied in order — SSN first so the phone pattern can
never consume an SSN's digit groups):

1. SSNs ``ddd-dd-dddd`` (not digit-adjacent)          → ``[SSN]``
2. emails (same atom set as the extraction pattern)   → ``[EMAIL]``
3. phones: optional ``+cc``, then 3-3-4 digit groups
   with ``-``/``.``/space separators, optional parens  → ``[PHONE]``

All native ``regexp_replace`` — zero Python. The Spark patterns carry the
same leading negative-lookbehind guards as operators/patterns.py (found
by the hostile-payload battery: a leading unbounded class is O(n²) on
long same-class runs; an in-run start can never beat the leftmost
run-start match, so the guard is semantics-preserving except for the
documented adjacent-token case). Lookarounds are Java-regex-only, so the
DuckDB oracle uses the unguarded equivalents over constructed
whitespace-separated text, where the two are provably identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (java_pattern, placeholder), applied in order
REDACTIONS: list[tuple[str, str]] = [
    (r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)", "[SSN]"),
    (
        r"(?<![A-Za-z0-9._%+-])[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "[EMAIL]",
    ),
    (
        r"(?<![\d.+])(?:\+\d{1,3}[-.\s])?\(?\d{3}\)?[-.\s]\d{3}[-.\s]\d{4}(?!\d)",
        "[PHONE]",
    ),
]


def redact_pii(text: Column) -> Column:
    """Text with SSNs, then emails, then phones replaced by placeholders."""
    out = text
    for pattern, placeholder in REDACTIONS:
        out = F.regexp_replace(out, pattern, placeholder)
    return out
