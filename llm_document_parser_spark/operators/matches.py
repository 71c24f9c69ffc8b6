"""The match arrays that more than one battery column reads.

Spark eliminates common subexpressions neither inside CASE WHEN branches
nor inside higher-order-function lambdas, so a regex that ``patterns``,
``contacts``, ``features``, ``names`` and ``entities`` each build runs once
per column per row. ``Shared`` names those arrays once:

* ``email``, ``phone``, ``currency``, ``date``, ``address``: the regexes of
  ``patterns.PATTERNS`` that another column also runs. ``features`` counts
  the same arrays: its case-sensitive group-0 patterns match exactly what
  these ``(?i)`` group-1 patterns match, since Java's ``(?i)`` folds only
  ASCII and their letters are already ASCII ranges of both cases; NER
  ``MONEY`` is the currency pattern itself (tests/test_shared_matches.py).
* ``person``, ``org``, ``gpe``: the NER match arrays before dedup.
* ``contact``, ``invoice``, ``candidates``: values derived from the arrays
  above that are read more than once (the contact pattern map, the invoice
  base map, the ranked holder names). They are left ``None`` by
  ``Shared.of``; each reader then builds its own.

``Shared.of(text)`` holds the inline expressions, which is what every
battery function uses when called without a ``shared`` argument;
``pipeline.extract_pipeline`` computes them as hidden columns one
projection ahead of the battery and passes a ``Shared`` of column
references instead.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ner import entity_matches

# (java_pattern, group) of each regex more than one column runs
EMAIL = (r"(?i)((?<![a-zA-Z0-9._%+-])[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})", 1)
PHONE = (r"(?i)(\+?\d{1,3}[-.\s]?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4})", 1)
CURRENCY = (r"(?i)(\$\d+(?:,\d{3})*(?:\.\d{2})?)", 1)
DATE = (r"(?i)(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1)
ADDRESS = (r"(?i)((?<!\d)\d{1,6}\s+[\w\s]{1,100},?\s*[A-Za-z\s]{1,60},?\s*[A-Z]{2}\s*\d{5})", 1)

REGEXES = {"email": EMAIL, "phone": PHONE, "currency": CURRENCY, "date": DATE, "address": ADDRESS}
_NAME_OF = {regex: name for name, regex in REGEXES.items()}


def find_all(text: Column, pattern: str, group: int) -> Column:
    """ARRAY<STRING> of every match of ``pattern``'s ``group`` in ``text``;
    empty, not NULL, for a NULL text."""
    return F.coalesce(F.regexp_extract_all(text, F.lit(pattern), group), F.array())


@dataclass(frozen=True)
class Shared:
    email: Column
    phone: Column
    currency: Column
    date: Column
    address: Column
    person: Column
    org: Column
    gpe: Column
    contact: Column | None = None
    invoice: Column | None = None
    candidates: Column | None = None

    @classmethod
    def of(cls, text: Column) -> "Shared":
        """The match arrays as inline expressions over ``text``."""
        return cls(
            **{name: find_all(text, *regex) for name, regex in REGEXES.items()},
            person=entity_matches(text, "PERSON", dedup=False),
            org=entity_matches(text, "ORG", dedup=False),
            gpe=entity_matches(text, "GPE", dedup=False),
        )

    def arrays(self) -> dict[str, Column]:
        """The match arrays by field name, without the derived values."""
        return {
            f.name: getattr(self, f.name)
            for f in fields(self)
            if f.name not in ("contact", "invoice", "candidates")
        }

    def find_all(self, text: Column, pattern: str, group: int) -> Column:
        """``find_all(text, pattern, group)``, read from the shared array
        when this (pattern, group) is one of them."""
        name = _NAME_OF.get((pattern, group))
        return getattr(self, name) if name else find_all(text, pattern, group)
