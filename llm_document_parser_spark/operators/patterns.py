"""X1/X3 — per-doc-type regex field extraction, fully native.

The pattern dictionary mirrors the reference's (reference:
src/document_parser.py:58-105) with Java-regex translations:

* ``re.IGNORECASE`` becomes an embedded ``(?i)`` prefix;
* Python ``\\Z`` becomes Java ``\\z`` (absolute end of input);
* the two-capture-group ``parties`` pattern extracts group 1 only
  (``regexp_extract_all`` is single-group; the reference's tuple-valued
  output cannot be represented in ARRAY<STRING> — deviation documented in
  the oracle too, so fixture comparison is apples-to-apples);
* group-less patterns (``zip_code``) extract group 0.

Application semantics match ``extract_with_patterns`` (reference:
src/document_parser.py:402-414): findall per field, drop fields with no
matches, dedup. The reference dedups via ``list(set(...))`` whose order is
PYTHONHASHSEED-dependent (SURVEY.md §5.4); here ``array_distinct`` keeps
first-occurrence order and tests compare order-insensitively.

Adversarial-input guards (deviations the reference NEEDS — its own regexes
are superlinear on crawl-scale degenerate lines; measured in
tests/test_hostile_payloads.py):

* ``email`` carries a leading negative lookbehind on its own class: without
  it every position inside a long letter run re-consumes the remainder —
  O(n²), minutes per 200 KB single-token line. For any email preceded by a
  delimiter the guard is exact (an in-run start would imply a longer
  leftmost match, which findall already prefers). Known deviation: two
  emails ABUTTING with no delimiter (``a@b.com2@c.net``) — the reference's
  findall resumes after the first match and also returns ``2@c.net``; the
  lookbehind sees the consumed ``m`` and suppresses it. Like the address
  bounds, accepted: the suppressed "email" is a torn fragment of a
  degenerate token, and the oracle mirrors the guard.
* ``address`` bounds its inner spans (``[\\w\\s]{1,100}``,
  ``[A-Za-z\\s]{1,60}``, street number ≤6 digits, digit-run lookbehind) —
  the unbounded original's overlapping classes backtrack superlinearly
  (measured 28 s on ONE 32 KB digit+word line). Only degenerate >100-char
  "addresses" change behavior; the oracle mirrors the bounds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .matches import ADDRESS, CURRENCY, DATE, EMAIL, PHONE, Shared, find_all

# (field, java_pattern, group_index) per doc type
PATTERNS: dict[str, list[tuple[str, str, int]]] = {
    "invoice": [
        ("invoice_number", r"(?i)(?:invoice|inv)\.?\s*#?\s*([A-Z0-9-]+)", 1),
        ("date", r"(?i)(?:date|invoice date):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("due_date", r"(?i)(?:due date|due):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("total_amount", r"(?i)(?:total|amount due|balance):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("tax", r"(?i)(?:tax|vat):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("first_name", r"(?i)(?:first name|given name):?\s*([A-Z][a-z]+)", 1),
        ("last_name", r"(?i)(?:last name|surname|family name):?\s*([A-Z][a-z]+)", 1),
        ("email", *EMAIL),
        ("product_id", r"(?i)(?:product id|product code|item #):?\s*([A-Z0-9-]+)", 1),
        ("qty", r"(?i)(?:quantity|qty):?\s*(\d+)", 1),
        ("amount", r"(?i)(?:amount|price):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("invoice_date", r"(?i)(?:invoice date|date issued):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("address", *ADDRESS),
        ("city", r"(?i)(?:city):?\s*([A-Za-z\s]+)(?=\s*[,]|\s*[A-Z]{2})", 1),
        ("stock_code", r"(?i)(?:stock code|sku):?\s*([A-Z0-9-]+)", 1),
        ("job", r"(?i)(?:job|project|work order):?\s*([A-Z0-9-]+)", 1),
    ],
    "receipt": [
        ("date", r"(?i)(?:date):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("total", r"(?i)(?:total|amount):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("payment_method", r"(?i)(?:payment method|paid with):?\s*([A-Za-z\s]+)", 1),
    ],
    "contract": [
        ("contract_id", r"(?i)(?:contract|agreement)\s*#?\s*([A-Z0-9-]+)", 1),
        ("date", r"(?i)(?:date|effective date):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("parties", r"(?i)(?:between|parties):?\s*([A-Za-z0-9\s,&]+)(?:\s+and\s+)(?:[A-Za-z0-9\s,&]+)", 1),
        ("amount", r"(?i)(?:amount|value):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("term", r"(?i)(?:term|duration):?\s*(\d+\s+(?:years?|months?|days?))", 1),
        ("buyer", r"(?i)(?:buyer|client):?\s*([A-Za-z0-9\s,&]+)", 1),
        ("supplier", r"(?i)(?:supplier|vendor):?\s*([A-Za-z0-9\s,&]+)", 1),
    ],
    "contact": [
        ("email", *EMAIL),
        ("phone", *PHONE),
        ("website", r"(?i)(https?://[^\s]+)", 1),
        ("name", r"(?i)(?:name|contact):?\s*([A-Z][a-z]+\s+[A-Z][a-z]+)", 1),
        ("company", r"(?i)(?:company|firm|organization):?\s*([A-Za-z0-9\s&.,]+)", 1),
        ("address", *ADDRESS),
        ("zip_code", r"(?i)\b\d{5}(?:-\d{4})?\b", 0),
    ],
    "general": [
        ("currency", *CURRENCY),
        ("percentage", r"(?i)((?<!\d)\d+(?:\.\d+)?%)", 1),
        ("date", *DATE),
    ],
}


def patterns_map_for(text: Column, doc_type: str, shared: Shared | None = None) -> Column:
    """MAP<STRING, ARRAY<STRING>> of deduped matches for one doc type,
    keeping only fields that matched (reference: src/document_parser.py:409-412).
    Fields whose regex is one of ``shared``'s arrays read that array."""
    find = shared.find_all if shared is not None else find_all
    fields = PATTERNS[doc_type]
    keys = F.array(*[F.lit(f) for f, _, _ in fields])
    vals = F.array(*[F.array_distinct(find(text, p, g)) for _, p, g in fields])
    m = F.map_from_arrays(keys, vals)
    return F.map_filter(m, lambda _, v: F.size(v) > 0)


def enrich_invoice_patterns(text: Column, base: Column, persons: Column, gpes: Column) -> Column:
    """X3 — invoice NER backfill (reference: ``extract_invoice_details``,
    src/document_parser.py:416-441): the first PERSON entity with ≥2 name
    parts fills missing ``first_name``/``last_name``; GPE entities fill a
    missing ``city``. ``persons``/``gpes`` are the (non-deduped) NER match
    arrays, mirroring the reference's entity lists."""
    two_part = F.filter(persons, lambda p: F.size(F.split(F.trim(p), r"\s+")) >= 2)
    fp = F.try_element_at(two_part, F.lit(1))
    fp_parts = F.split(F.trim(fp), r"\s+")
    with_first = F.when(
        fp.isNotNull() & ~F.map_contains_key(base, F.lit("first_name")),
        F.create_map(F.lit("first_name"), F.array(F.try_element_at(fp_parts, F.lit(1)))),
    ).otherwise(F.create_map().cast("map<string,array<string>>"))
    with_last = F.when(
        fp.isNotNull() & ~F.map_contains_key(base, F.lit("last_name")),
        F.create_map(F.lit("last_name"), F.array(F.try_element_at(fp_parts, F.lit(-1)))),
    ).otherwise(F.create_map().cast("map<string,array<string>>"))
    with_city = F.when(
        (F.size(gpes) > 0) & ~F.map_contains_key(base, F.lit("city")),
        F.create_map(F.lit("city"), gpes),
    ).otherwise(F.create_map().cast("map<string,array<string>>"))
    return F.map_concat(base, with_first, with_last, with_city)


def patterns_map(text: Column, doc_type: Column, shared: Shared | None = None) -> Column:
    """Doc-type-dispatched pattern extraction; unknown types fall back to
    'general' (reference: src/document_parser.py:406-407). Invoices get the
    X3 NER backfill (reference: src/document_parser.py:778-781 dispatches
    invoices through extract_invoice_details). ``shared``'s contact and
    invoice base maps are read when set."""
    if shared is None:
        shared = Shared.of(text)
    contact = shared.contact
    if contact is None:
        contact = patterns_map_for(text, "contact", shared)
    invoice = shared.invoice
    if invoice is None:
        invoice = patterns_map_for(text, "invoice", shared)

    expr = patterns_map_for(text, "general", shared)
    for dt in ("receipt", "contract"):
        expr = F.when(doc_type == dt, patterns_map_for(text, dt, shared)).otherwise(expr)
    expr = F.when(doc_type == "contact", contact).otherwise(expr)
    invoice = enrich_invoice_patterns(text, invoice, shared.person, shared.gpe)
    return F.when(doc_type == "invoice", invoice).otherwise(expr)
