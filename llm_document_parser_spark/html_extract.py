"""HTML main-content extraction — Boilerpipe/trafilatura-style block scoring.

The reference has no HTML path (it parses PDFs/images); BASELINE.json's
north_star specifies a DOM boilerplate stripper using text-density and
link-density heuristics over block-level nodes. This module is that spec,
as a deterministic pure function over one HTML string. The engine applies it
in Arrow batches via ``mapInPandas`` (see operators/extract_udfs.py); the test
oracle applies it row-by-row — byte-identical output is asserted in
tests/test_extraction.py.

Spec v1 (deterministic; all steps order-sensitive):
  1. Drop <script>/<style>/<noscript> subtrees and <!-- --> comments.
  2. Prune boilerplate container subtrees: <nav> <footer> <aside> <form>.
  3. Split the remaining markup into blocks at block-level tag boundaries
     (p, div, h1-h6, li, ul, ol, table, tr, td, th, br, section, article,
     header, main, blockquote, pre, title, body, html, figure).
  4. Per block: link_text = length of tag-stripped text inside <a> elements;
     text = tag-stripped, entity-decoded, whitespace-collapsed, trimmed.
  5. Keep a block iff len(text) >= MIN_BLOCK_CHARS and
     link_density (link_text/len(text)) <= MAX_LINK_DENSITY.
  6. Output = kept block texts joined with '\n'.
"""

from __future__ import annotations

import re

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.4

_DROP_SUBTREE_RE = re.compile(
    r"(?is)<(script|style|noscript|nav|footer|aside|form)\b[^>]*>.*?</\1\s*>"
)
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_BLOCK_SPLIT_RE = re.compile(
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|br|section|article|"
    r"header|main|blockquote|pre|title|body|html|figure)\b[^>]*/?>"
)
_ANCHOR_RE = re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}


def _decode_entities(s: str) -> str:
    for k, v in _ENTITIES.items():
        s = s.replace(k, v)
    return s


def _block_text(fragment: str) -> str:
    return _WS_RE.sub(" ", _decode_entities(_TAG_RE.sub(" ", fragment))).strip()


def extract_main_text(html: str) -> str:
    """Extract main content from an HTML string per spec v1 above."""
    if not html:
        return ""
    stripped = _COMMENT_RE.sub(" ", html)
    stripped = _DROP_SUBTREE_RE.sub(" ", stripped)

    kept: list[str] = []
    for fragment in _BLOCK_SPLIT_RE.split(stripped):
        if not fragment or fragment.isspace():
            continue
        text = _block_text(fragment)
        if len(text) < MIN_BLOCK_CHARS:
            continue
        link_text = sum(len(_block_text(m)) for m in _ANCHOR_RE.findall(fragment))
        if link_text / len(text) > MAX_LINK_DENSITY:
            continue
        kept.append(text)
    return "\n".join(kept)


# ---------------------------------------------------------------------------
# doc-kind sniffing (magic bytes + MIME heuristics)
# ---------------------------------------------------------------------------
# Generalizes the reference's extension dispatch (reference:
# src/api_server.py:1936-1941, src/document_parser.py:756-759) into
# content-based detection. The engine-side equivalent is a native column
# expression (operators/kind.py); this pure function is the oracle.

_HTML_MARKER_RE = re.compile(r"(?i)<!doctype\s+html|<html[\s>]|<head[\s>]|<body[\s>]")


def sniff_doc_kind(payload: bytes | None) -> str:
    from .operators.kind import is_image_payload

    if not payload:
        return "empty"
    if payload.startswith(b"%PDF-"):
        return "pdf"
    if is_image_payload(payload):
        return "image"
    head_bytes = payload[:1024]
    if head_bytes[:2] in (b"\xff\xfe", b"\xfe\xff") or head_bytes[:4] == (
        b"\x00\x00\xfe\xff"
    ):
        # UTF-16/32 BOM: the ASCII marker bytes are NUL-interleaved; strip
        # NULs before matching (same rule as the native column expression)
        head_bytes = head_bytes.replace(b"\x00", b"")
    head = head_bytes.decode("utf-8", errors="replace")
    if _HTML_MARKER_RE.search(head):
        return "html"
    return "text"
