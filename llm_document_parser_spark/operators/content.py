"""Main-content extraction by link density — the jusText/Readability
family's core signal, relationally.

Boilerplate in web pages (navigation, footers, tag clouds, "related
links") is short and link-dense; article text is long and link-sparse.
This module splits the page into blocks at block-level tag boundaries,
scores each block by visible-text length and anchor-text share, and keeps
the content blocks. It complements ``operators/dedup.strip_boilerplate_
lines`` (cross-document frequent-line removal): link density works on a
SINGLE page with no corpus pass, frequent-line removal catches site
chrome that survives it.

Shape: one regex split + one explode; every score is a native column
expression over the block (``regexp_extract_all`` + higher-order
``aggregate``) — zero Python, zero shuffles until the caller's
re-assembly groupBy.

All three regexes are RE2-portable (no lookarounds), so the DuckDB
oracle (queries.py ``content_block_extract``) runs the SAME patterns over
the SAME synthesized markup and the two engines must agree per block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# block-level boundaries: opening OR closing forms of structural tags
BLOCK_SPLIT_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|table|thead|tbody|tr|td|th|section"
    r"|article|aside|header|footer|nav|blockquote|pre|form|br|hr)\b[^>]*>"
)
# anchor text (group 1), non-greedy across newlines
ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
# any remaining (inline) tag
TAG_RE = r"(?s)<[^>]*>"


def _visible_len(raw: Column) -> Column:
    """Characters of visible text: strip tags, collapse whitespace, trim."""
    return F.length(
        F.trim(
            F.regexp_replace(F.regexp_replace(raw, TAG_RE, " "), r"\s+", " ")
        )
    ).cast("long")


def score_blocks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per block: ``(url, block_idx, n_chars, link_chars, link_density)``.
    ``n_chars`` counts visible text (anchors' own text included — it IS
    visible); ``link_chars`` counts just the anchor text; density is their
    ratio (0 for empty blocks)."""
    blocks = pages.select(
        F.col(url_col),
        F.posexplode(F.split(F.col(html_col), BLOCK_SPLIT_RE)).alias(
            "block_idx", "raw"
        ),
    )
    anchors = F.regexp_extract_all(F.col("raw"), F.lit(ANCHOR_RE), 1)
    link_chars = F.aggregate(
        F.transform(anchors, lambda a: _visible_len(a)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_chars = _visible_len(F.col("raw"))
    return blocks.select(
        url_col,
        F.col("block_idx").cast("long").alias("block_idx"),
        n_chars.alias("n_chars"),
        link_chars.alias("link_chars"),
        F.when(n_chars > 0, F.round(link_chars / n_chars, 6))
        .otherwise(F.lit(0.0))
        .alias("link_density"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("raw"), TAG_RE, " "), r"\s+", " "
            )
        ).alias("block_text"),
    )


def content_blocks(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_chars: int = 30,
    max_link_density: float = 0.4,
) -> DataFrame:
    """``score_blocks`` plus the keep verdict: a block is content when it
    has at least ``min_chars`` visible characters and at most
    ``max_link_density`` of them inside anchors. Thresholds are the
    jusText defaults' order of magnitude; tune per corpus."""
    scored = score_blocks(pages, url_col, html_col)
    return scored.withColumn(
        "kept",
        (
            (F.col("n_chars") >= min_chars)
            & (F.col("link_chars") <= max_link_density * F.col("n_chars"))
        ).cast("int"),
    )


# ===========================================================================
# heading outline — document structure for section-aware chunking
# ===========================================================================
#
# Training-data pipelines that chunk documents by section (RAG corpora,
# curriculum ordering by heading depth, title-conditioned generation) need
# each heading's hierarchical path, with the HTML5-outline RESET rule: an
# <h2> that appears BEFORE the governing <h1> is stale and must not appear
# in a later <h3>'s path. Reference semantics analog: the per-document
# field hierarchy of src/document_parser.py (nested section dicts), here
# re-expressed relationally at corpus scale.
#
# Shape: one regexp_extract_all pair + one posexplode, then TEN window
# expressions that all share the SAME (partition url, order pos) window —
# Catalyst plans ONE Exchange + ONE Window operator for all of them. The
# ancestor-chain reset is an unrolled running-max over included positions
# (levels are bounded at 6, so the unroll is total). Zero Python.

HEADING_LEVEL_RE = r"(?is)<h([1-6])[^>]*>(.*?)</h[1-6]\s*>"


def extract_headings(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """``(url, pos, level, heading)`` per <h1>-<h6> in document order.
    ``heading`` is the visible text (inline tags stripped, whitespace
    collapsed); ``pos`` is the 0-based heading index within the page."""
    h = F.col(html_col)
    levels = F.regexp_extract_all(h, F.lit(HEADING_LEVEL_RE), 1)
    texts = F.regexp_extract_all(h, F.lit(HEADING_LEVEL_RE), 2)
    rows = pages.select(
        F.col(url_col),
        F.posexplode(F.arrays_zip(levels.alias("lvl"), texts.alias("txt"))).alias(
            "pos", "ht"
        ),
    )
    return rows.select(
        url_col,
        F.col("pos").cast("long").alias("pos"),
        F.col("ht.lvl").cast("int").alias("level"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("ht.txt"), TAG_RE, " "), r"\s+", " "
            )
        ).alias("heading"),
    )


def heading_outline(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """``extract_headings`` plus ``section_path``: the ' > '-joined chain
    of governing ancestor headings (nearest preceding h1..h(L-1), each
    ancestor required to appear AFTER the previously-included one — the
    HTML5 outline reset). The current heading itself is not part of its
    own path; top-level headings get an empty path.

    All ancestor lookups are ``last(..., ignorenulls)`` over ONE shared
    running window, so the whole outline costs a single shuffle on the
    page key regardless of how many levels a corpus uses."""
    from pyspark.sql.window import Window

    hs = extract_headings(pages, url_col, html_col)
    w = (
        Window.partitionBy(url_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cols = [hs[url_col], hs["pos"], hs["level"], hs["heading"]]
    for lv in range(1, 6):
        tagged_t = F.when(F.col("level") == lv, F.col("heading"))
        tagged_p = F.when(F.col("level") == lv, F.col("pos"))
        cols.append(F.last(tagged_t, ignorenulls=True).over(w).alias(f"lt{lv}"))
        cols.append(F.last(tagged_p, ignorenulls=True).over(w).alias(f"lp{lv}"))
    wide = hs.select(*cols)

    # unrolled reset: include level-l ancestor iff it exists, is below the
    # current heading's level, and appears after every included ancestor
    # above it (running max of included positions, seeded at -1)
    run_max = F.lit(-1).cast("long")
    parts = []
    for lv in range(1, 6):
        inc = (
            (F.col("level") > lv)
            & F.col(f"lp{lv}").isNotNull()
            & (F.col(f"lp{lv}") > run_max)
        )
        parts.append(F.when(inc, F.col(f"lt{lv}")))
        run_max = F.when(
            inc & (F.col(f"lp{lv}") > run_max), F.col(f"lp{lv}")
        ).otherwise(run_max)
    path = F.concat_ws(" > ", F.array([p for p in parts]))
    return wide.select(
        url_col,
        "pos",
        "level",
        "heading",
        path.alias("section_path"),
    )
