"""A7 — per-document feature counts, native (reference:
src/document_parser.py:729-750 ``extract_features``).

The four regex counts are case-sensitive (the reference's ``re.findall``
carries no flag there). They count ``Shared``'s ``(?i)`` email, phone,
currency and date arrays, which match the same strings: Java's ``(?i)``
folds only ASCII, and those patterns' only letters are ASCII ranges that
already hold both cases. Person/org counts are occurrence counts (not
deduped) over the NER patterns, matching the reference's ``len([ent ...])``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .matches import Shared


def features_struct(text: Column, shared: Shared | None = None) -> Column:
    if shared is None:
        shared = Shared.of(text)

    def count(arr: Column) -> Column:
        return F.size(arr).cast("long")

    return F.struct(
        count(shared.email).alias("email_count"),
        count(shared.phone).alias("phone_count"),
        count(shared.currency).alias("currency_count"),
        count(shared.date).alias("date_count"),
        count(shared.person).alias("person_count"),
        count(shared.org).alias("org_count"),
        F.length(text).cast("long").alias("text_length"),
    )
