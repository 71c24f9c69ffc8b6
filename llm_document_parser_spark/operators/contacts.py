"""X5/X6 — contact-info extraction: contact patterns + phone canonicalization
+ contact-block capture, all native expressions.

Mirrors ``extract_contact_info`` (reference: src/document_parser.py:462-505).
The reference canonicalizes phones with the ``phonenumbers`` library (not
available here); the engine's deterministic spec:

* a number whose digits form a valid NANP number (10 digits, or 11 with
  leading '1', area code and exchange starting [2-9]) is formatted
  ``+1 AAA-EEE-NNNN`` (the library's INTERNATIONAL format for US numbers);
* a ``+CC``-prefixed number with a recognized country code and an 8-12
  digit national part is formatted ``+CC NNNNNNNNN`` (country code, one
  space, undelimited national digits). phonenumbers' per-region digit
  grouping needs its metadata database, so the engine pins this normalized
  grouping instead — a documented deviation with the same
  valid→canonicalize / invalid→passthrough contract (reference :470-478);
* anything else passes through unchanged.

The oracle implements the identical spec.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .matches import Shared, find_all
from .patterns import patterns_map_for

# recognized non-NANP calling codes (two-digit first so the regex
# alternation prefers the longest match; '7' last)
INTL_CCS = ("44", "49", "91", "33", "34", "39", "81", "86", "61", "52", "55", "7")
_INTL_CC_RE = r"^\+(" + "|".join(INTL_CCS) + r")"

# (?is) = re.IGNORECASE | re.DOTALL; Python \Z -> Java \z
CONTACT_BLOCK_PATTERNS = [
    r"(?is)contact.*?information:?(.*?)(?=\n\n|\n[A-Z]|\z)",
    r"(?is)details:?(.*?)(?=\n\n|\n[A-Z]|\z)",
    r"(?is)for more.*?information:?(.*?)(?=\n\n|\n[A-Z]|\z)",
]


def canonical_phone(p: Column) -> Column:
    digits = F.regexp_replace(p, r"[^0-9]", "")
    ten = F.when(
        (F.length(digits) == 11) & digits.startswith("1"), F.substring(digits, 2, 10)
    ).when(F.length(digits) == 10, digits)
    valid = ten.isNotNull() & ten.rlike("^[2-9][0-9]{2}[2-9][0-9]{6}$")
    formatted = F.format_string(
        "+1 %s-%s-%s",
        F.substring(ten, 1, 3),
        F.substring(ten, 4, 3),
        F.substring(ten, 7, 4),
    )
    cc = F.regexp_extract(F.trim(p), _INTL_CC_RE, 1)
    national = F.regexp_replace(digits, F.concat(F.lit("^"), cc), F.lit(""))
    intl_valid = (cc != "") & F.length(national).between(8, 12)
    intl_formatted = F.concat(F.lit("+"), cc, F.lit(" "), national)
    return F.when(valid, formatted).when(intl_valid, intl_formatted).otherwise(p)


def contact_blocks(text: Column) -> Column:
    """Concatenate the three block captures, collapse whitespace, keep
    blocks longer than 10 chars (reference: src/document_parser.py:484-503)."""
    blocks = F.concat(*[find_all(text, p, 1) for p in CONTACT_BLOCK_PATTERNS])
    cleaned = F.transform(blocks, lambda b: F.trim(F.regexp_replace(b, r"\s+", " ")))
    return F.filter(cleaned, lambda b: F.length(b) > 10)


def contacts_map(text: Column, shared: Shared | None = None) -> Column:
    """The contact pattern map (``shared``'s when set) with phones
    canonicalized, plus ``contact_blocks`` when any block was captured."""
    base = shared.contact if shared is not None else None
    if base is None:
        base = patterns_map_for(text, "contact", shared)
    # canonicalize the phone list in place
    base = F.transform_values(
        base,
        lambda k, v: F.when(
            k == "phone", F.transform(v, canonical_phone)
        ).otherwise(v),
    )
    # the entry is filtered out when empty, so the block chain appears once
    blocks = F.map_filter(
        F.create_map(F.lit("contact_blocks"), contact_blocks(text)),
        lambda _, v: F.size(v) > 0,
    )
    return F.map_concat(base, blocks)
