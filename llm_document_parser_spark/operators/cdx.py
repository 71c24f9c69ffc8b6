"""Common Crawl index (CDXJ) source and WARC range-fetch planning.

The reference ingests documents one upload at a time
(``src/api_server.py`` ``/api/documents/parse`` and ``/batch_parse``
routes → ``src/document_parser.py:752`` ``parse_document``); at web
scale the entry point is the crawl *index*: CDXJ lines of the form

    <urlkey> <14-digit timestamp> <compact JSON>

where the JSON carries ``url mime status digest length offset filename``
— everything needed to locate one capture inside a ~1 GB WARC file.
This module turns those lines into typed rows and fetch plans with zero
per-row Python:

* :func:`parse_cdxj` — one limit-3 ``split`` + ``from_json``; stays
  inside whole-stage codegen end-to-end.
* :func:`surt_key` — SURT urlkey (Sort-friendly URI Reordering
  Transform) for NEW urls, so a freshly discovered link can be probed
  against the index's urlkey ordering. Entirely native column algebra.
* :func:`plan_warc_fetches` — coalesces per-file ``(offset, length)``
  records into ranged fetch tasks: the step that turns 10^12 index rows
  into bounded HTTP range requests. One shuffle (by WARC filename) and
  one window; WARC files are size-bounded (~1 GB / ≲100k records), so
  the per-filename partition can never skew unboundedly.

SURT rules implemented (documented subset of the IA canonicalizer):
host lowercased, userinfo and default port dropped (via
``urls.host_of``), leading ``www[0-9]*.`` stripped, labels reversed and
comma-joined, non-default port kept after the reversed host
(``net,example,cdn:8080)``); path normalized as in
``urls.canonicalize_url`` (collapse ``//``, strip trailing slash, empty
→ ``/``) and lowercased; fragment dropped; tracking params removed
(same ``utm_*``/``fbclid`` policy as ``canonicalize_url``), the rest
lowercased and sorted. Bracketed IPv6 authorities are out of scope
(NULL, like other unparseable URLs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .urls import _path_and_query, host_of


def parse_cdxj(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse CDXJ index lines into typed columns.

    ``split(line, ' ', 3)`` keeps the JSON blob intact even if a field
    inside it contains spaces (urls with unencoded spaces exist in real
    indexes). Rows whose JSON fails to parse keep their urlkey/timestamp
    and carry NULL fields — callers count them, never throw. ``try_``
    variants throughout: under Spark 4 ANSI mode, plain ``element_at``
    on a short line and ``to_timestamp`` on a malformed timestamp THROW
    (hypothesis-caught in tests/test_cdx.py).

    The JSON blob is extracted with ONE ``json_tuple`` generator rather
    than ``from_json``: every CDX field is string-typed, and the
    optimizer's json-expression rule rewrites a multi-field
    ``from_json(...).field`` projection into one SINGLE-FIELD parse per
    consumed column — three consumed columns meant three full Jackson
    tokenizations of every line (measured 2.1 s → 1.3 s on the 1M-line
    bench leg; ``json_tuple`` parses each line exactly once regardless
    of how many columns survive pruning).
    """
    parts = F.split(F.col(line_col), " ", 3)
    staged = df.select(
        F.try_element_at(parts, F.lit(1)).alias("urlkey"),
        F.try_element_at(parts, F.lit(2)).alias("_ts"),
        F.try_element_at(parts, F.lit(3)).alias("_js"),
    )
    jt = staged.select(
        "urlkey",
        "_ts",
        F.json_tuple(
            F.col("_js"), "url", "mime", "status", "digest", "length",
            "offset", "filename",
        ).alias(
            "url", "mime", "_status", "digest", "_length", "_offset",
            "filename",
        ),
    )
    return jt.select(
        "urlkey",
        F.try_to_timestamp(F.col("_ts"), F.lit("yyyyMMddHHmmss")).alias(
            "capture_ts"
        ),
        "url",
        "mime",
        F.col("_status").try_cast("int").alias("status"),
        "digest",
        F.col("_length").try_cast("long").alias("length"),
        F.col("_offset").try_cast("long").alias("offset"),
        "filename",
    )


def surt_key(url: Column) -> Column:
    """SURT urlkey for ``url`` (rules in the module docstring); NULL for
    URLs with no parseable ``scheme://authority``."""
    host = host_of(url)
    port = F.regexp_extract(host, r":(\d+)$", 1)
    bare = F.regexp_replace(
        F.regexp_replace(host, r":\d+$", ""), r"^www[0-9]*\.", ""
    )
    revhost = F.concat_ws(",", F.reverse(F.split(bare, r"\.")))
    path, query = _path_and_query(url)
    qsorted = F.concat_ws("&", F.array_sort(F.split(F.lower(query), "&")))
    key = F.concat(
        revhost,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.lit(")"),
        F.lower(path),
        F.when(query == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qsorted)
        ),
    )
    return F.when(host == "", F.lit(None).cast("string")).otherwise(key)


def plan_warc_fetches(cdx: DataFrame, max_gap: int = 0) -> DataFrame:
    """Coalesce index records into ranged WARC fetch tasks.

    Input needs ``filename``, ``offset``, ``length`` (as from
    :func:`parse_cdxj`). Two records in the same file merge into one
    range when the byte gap between them is ≤ ``max_gap`` (real indexes
    have small framing gaps between consecutive records; a fetcher also
    passes its per-request overhead here to trade wasted bytes for fewer
    requests). Returns one row per task: ``filename, fetch_start,
    fetch_end, fetch_bytes, n_records``.

    Plan shape: one Exchange (hash by filename) feeding both the lag
    and the running-sum window, then a partial/final agg on
    ``(filename, grp)`` — the same single-shuffle sessionization shape
    as ``operators/sessions.py``.
    """
    w = Window.partitionBy("filename").orderBy("offset")
    prev_end = F.lag(F.col("offset") + F.col("length")).over(w)
    starts_new = (
        prev_end.isNull() | (F.col("offset") > prev_end + F.lit(max_gap))
    ).cast("long")
    grp = F.sum(starts_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cdx.withColumn("_grp", grp)
        .groupBy("filename", "_grp")
        .agg(
            F.min("offset").alias("fetch_start"),
            F.max(F.col("offset") + F.col("length")).alias("fetch_end"),
            F.count(F.lit(1)).alias("n_records"),
        )
        .select(
            "filename",
            "fetch_start",
            "fetch_end",
            (F.col("fetch_end") - F.col("fetch_start")).alias("fetch_bytes"),
            "n_records",
        )
    )
