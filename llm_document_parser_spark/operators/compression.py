"""Compression-ratio quality signal — the cheap repetition detector.

Machine-generated and template-stuffed pages (keyword spam, scraped
boilerplate, token-repetition loops) compress far better than natural
prose; quality pipelines threshold on ``deflated_bytes / raw_bytes``
as a one-pass complement to the n-gram repetition fractions in
``textstats.repetition_stats`` (which catch LOCAL repeats; zlib's
32 KB window also catches long-range and approximate structure).
Reference analog: the reference's quality surface is rule counts
(``src/document_parser.py:729`` ``extract_features``); this is the
corpus-scale statistical sibling.

One Arrow-batched ``pandas_udf`` over stdlib ``zlib`` — the sanctioned
slow-path shape (same as operators/normalize.py): one ArrowEvalPython
stage, no shuffle, no state; deterministic for a fixed level, so
resumed partitions are idempotent. No cross-engine SQL oracle exists
(DuckDB has no compression scalar), so verification is pytest: pinned
hand values via an independent direct-zlib computation, ordering
properties (repetitive ≪ prose), and null/empty degrade.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

#: zlib level 6 (the library default) — pinned explicitly so the signal
#: is stable across Python builds that might change the default.
LEVEL = 6


@pandas_udf(DoubleType())
def compression_ratio_udf(s: pd.Series) -> pd.Series:
    def ratio(t):
        if t is None or len(t) == 0:
            return None
        raw = t.encode("utf-8")
        return len(zlib.compress(raw, LEVEL)) / len(raw)

    return s.map(ratio)


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "compression_ratio"
) -> DataFrame:
    """Append ``deflate(text)/len(text)`` (UTF-8 octets). NULL for
    null/empty text. Lower = more redundant; natural prose lands
    ~0.4-0.7, hard repetition < 0.1."""
    return df.withColumn(out_col, compression_ratio_udf(F.col(text_col)))
