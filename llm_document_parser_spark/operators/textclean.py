"""X2 — text cleaning as a chain of native expressions.

Replicates the reference's ``clean_text`` (reference:
src/document_parser.py:380-400) byte-for-byte, including its quirks: the
quote-normalization lines are literal no-op + doubled-quote collapses (the
curly quotes in the original source were mangled to straight quotes), applied
in exactly the original order. Byte-identity is asserted against the pure
oracle in tests/test_extraction.py.

Order of operations (all must stay in this order):
  1. re.sub('Page\\s+\\d+\\s+of\\s+\\d+', '')      [case-sensitive]
  2. re.sub('Confidential|Proprietary', '')          [case-sensitive]
  3. re.sub('\\s+', ' ')
  4. re.sub('\\ufffd', '')
  5. '""' -> '"'  twice;  "''" -> "'"  twice
  6. en-dash and em-dash -> '-'
  7. strip()

Hazard (SURVEY.md §5.4 adjacent): Python's ``\\s`` is unicode-aware while
Java's default is ASCII-only; inputs here are ASCII-whitespace by
construction (datagen), so the translation is exact for fixture data.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_text_col(c: Column) -> Column:
    c = F.coalesce(c, F.lit(""))
    c = F.regexp_replace(c, r"Page\s+\d+\s+of\s+\d+", "")
    c = F.regexp_replace(c, r"Confidential|Proprietary", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, "�", "")
    # reference line 396: '"'->'"' (no-op), then '""'->'"' twice
    c = F.replace(c, F.lit('""'), F.lit('"'))
    c = F.replace(c, F.lit('""'), F.lit('"'))
    # reference line 397: "'"->"'" (no-op), then "''"->"'" twice
    c = F.replace(c, F.lit("''"), F.lit("'"))
    c = F.replace(c, F.lit("''"), F.lit("'"))
    # reference line 398
    c = F.replace(c, F.lit("–"), F.lit("-"))
    c = F.replace(c, F.lit("—"), F.lit("-"))
    return F.trim(c)

