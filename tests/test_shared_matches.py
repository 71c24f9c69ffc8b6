"""The regexes folded into one shared match array match the same strings.

``operators/matches.py`` runs one regex where two columns used to run two:
``features``' case-sensitive group-0 email/phone/currency/date patterns
read the ``(?i)`` group-1 arrays of ``patterns``, and NER ``MONEY`` reads
the general ``currency`` array. Each pair must give identical match arrays
on every input, or it must stay two regexes. The inputs are the hostile
payloads, generated pages, and text with the characters a Unicode-aware
``(?i)`` would fold onto ASCII letters.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.datagen import generate_page
from llm_document_parser_spark.operators import matches
from llm_document_parser_spark.operators.ner import NER_PATTERNS
from test_hostile_payloads import HOSTILE

# the features column's patterns before they were folded into the shared arrays
FEATURES_EMAIL = (r"(?<![a-zA-Z0-9._%+-])[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", 0)
FEATURES_PHONE = (r"(\+?\d{1,3}[-.\s]?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4})", 0)
FEATURES_CURRENCY = (r"(\$\d+(?:,\d{3})*(?:\.\d{2})?)", 0)
FEATURES_DATE = (r"(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 0)

MERGED = {
    "features-email": (FEATURES_EMAIL, matches.EMAIL),
    "features-phone": (FEATURES_PHONE, matches.PHONE),
    "features-currency": (FEATURES_CURRENCY, matches.CURRENCY),
    "features-date": (FEATURES_DATE, matches.DATE),
    "ner-money": (NER_PATTERNS["MONEY"], matches.CURRENCY),
}

# U+212A KELVIN SIGN folds to k, U+017F LONG S to s, U+0130 to i under
# Unicode case folding; Java's (?i) without UNICODE_CASE folds ASCII only
UNICODE_CASE = [
    "mail Kelvin@example.com or ops@K.io or a@b.Kom today",
    "ſam@mail.ſe and sam@mail.se",
    "İstanbul@x.com, ıstanbul@x.com, istanbul@x.com",
    "Total $1,234.56 due 12/31/2024; call +1 (555) 234-5678 or 555.234.5678",
    "Kſİ $5 1/2/03 jo.doe+tag@EXAMPLE.ORG 44 20 7946 0958",
]


def _corpus() -> list[str | None]:
    texts: list[str | None] = [None if p is None else p.decode("utf-8", "replace") for _, p in HOSTILE]
    texts += [generate_page(0, i)[2].decode("utf-8", "replace") for i in range(60)]
    return texts + UNICODE_CASE


def _arrays(spark, regexes: list[tuple[str, int]], texts) -> list[list]:
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    cols = [F.regexp_extract_all("t", F.lit(p), g).alias(f"c{i}") for i, (p, g) in enumerate(regexes)]
    rows = df.select(*cols).collect()
    return [[r[i] for r in rows] for i in range(len(regexes))]


def test_java_case_insensitive_folds_ascii_only(spark):
    """What the merges rely on: under ``(?i)`` alone [a-z] does not match
    the Kelvin sign, and only ``(?iu)`` makes it."""
    df = spark.createDataFrame([("K",)], "t string")
    row = df.select(F.col("t").rlike("(?i)^[a-z]$"), F.col("t").rlike("(?iu)^[a-z]$")).first()
    assert tuple(row) == (False, True)


@pytest.mark.parametrize("pair", sorted(MERGED))
def test_merged_regexes_match_identically(spark, pair):
    texts = _corpus()
    old, shared = MERGED[pair]
    got_old, got_shared = _arrays(spark, [old, shared], texts)
    assert got_old == got_shared
    assert sum(len(a or []) for a in got_shared) > 0, "the corpus never matches"

