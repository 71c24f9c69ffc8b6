"""Charset sniffing + decoding for Common-Crawl-style page payloads.

The reference reads local files and lets Python's open()/libraries pick the
encoding (reference: src/document_parser.py:148-159 hands bytes to pdfplumber;
its text path assumes platform UTF-8). At crawl scale that assumption breaks:
a large fraction of real web pages are legacy-encoded (windows-125x, shift_jis,
gbk, euc-kr, …), and decoding them as UTF-8 silently destroys the text the
north rule requires byte-identical. This module is the WHATWG-encoding-sniff
restatement of that gap, as pure functions so the engine (Arrow batches) and
the pytest oracle share one implementation.

Detection order (first hit wins; labels are normalized per the WHATWG
encoding registry before use):

1. **BOM** — UTF-32 LE/BE checked before UTF-16 LE/BE (the UTF-32-LE BOM has
   the UTF-16-LE BOM as a prefix), then UTF-8.
2. **In-document declaration** in the first ``_SNIFF_BYTES`` bytes, scanned
   through a latin-1 view (transparent to ASCII-compatible bytes):
   ``<meta charset=…>`` / ``<meta http-equiv="Content-Type" …charset=…>`` /
   ``<?xml … encoding="…">``. A declared ``utf-16``/``utf-32`` label is
   remapped to UTF-8 per WHATWG §13.2.3.3 — a declaration readable in an
   ASCII scan proves the body is NOT 16/32-bit-encoded.
3. **Strict UTF-8 probe** — valid UTF-8 is taken as UTF-8 (covers pure ASCII).
4. **windows-1252 fallback** — the de-facto web default; the final decode
   uses errors="replace" so it can never throw (five 1252 code points are
   unmapped).

A declared-but-wrong charset (decode raises) falls through to steps 3-4
instead of erroring the row — crawl data lies about itself constantly.
"""

from __future__ import annotations

import codecs
import re

_SNIFF_BYTES = 2048

# (BOM bytes, canonical label) — order matters: UTF-32 before UTF-16.
BOMS: tuple[tuple[bytes, str], ...] = (
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)

# WHATWG label → canonical codec overrides (subset covering the dominant
# legacy web encodings; everything else resolves through codecs.lookup).
_LABEL_OVERRIDES: dict[str, str] = {
    "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252",
    "latin1": "windows-1252",
    "latin-1": "windows-1252",
    "l1": "windows-1252",
    "us-ascii": "windows-1252",
    "ascii": "windows-1252",
    "ansi_x3.4-1968": "windows-1252",
    "gb2312": "gbk",  # WHATWG maps the gb2312 label to the gbk decoder
    "gb_2312-80": "gbk",
    "iso-8859-9": "windows-1254",
    "shift-jis": "shift_jis",
    "x-sjis": "shift_jis",
    "sjis": "shift_jis",
    "ks_c_5601-1987": "cp949",
    "korean": "cp949",
    "euc-kr": "cp949",  # WHATWG euc-kr is the cp949 superset
}

_DECL_RES = (
    re.compile(r"(?i)<meta[^>]+charset\s*=\s*[\"']?\s*([a-z0-9][a-z0-9._+:-]*)"),
    re.compile(r"(?i)^\s*<\?xml[^>]*\bencoding\s*=\s*[\"']([a-z0-9][a-z0-9._+:-]*)"),
)


def normalize_label(label: str) -> str | None:
    """Canonical codec name for a declared charset label, or None if the
    label doesn't resolve to a Python codec (→ ignore the declaration)."""
    lab = label.strip().strip("\"'").lower()
    if not lab:
        return None
    if lab.startswith("utf-16") or lab.startswith("utf-32") or lab.startswith(
        "utf16"
    ) or lab.startswith("utf32"):
        # WHATWG §13.2.3.3: an ASCII-visible 16/32-bit declaration is a lie
        return "utf-8"
    lab = _LABEL_OVERRIDES.get(lab, lab)
    try:
        name = codecs.lookup(lab).name
    except LookupError:
        return None
    # report WHATWG-style names, not Python's cp-aliases, so the label
    # column is consistent with the fallback path
    if re.fullmatch(r"cp125[0-8]", name):
        return "windows-" + name[2:]
    return name


def declared_charset(head: bytes) -> str | None:
    """Charset label declared in a meta/xml prolog within ``head``, or None."""
    view = head.decode("latin-1")
    for pattern in _DECL_RES:
        m = pattern.search(view)
        if m:
            norm = normalize_label(m.group(1))
            if norm is not None:
                return norm
    return None


def decode_payload(payload: bytes | None) -> tuple[str, str]:
    """(text, charset_used) for a page payload.

    BOM bytes are stripped from the decoded text. A declared charset that
    fails to decode falls through to the UTF-8 probe / 1252 fallback; the
    fallback itself decodes with errors="replace" so this never raises.
    """
    if not payload:
        return "", "utf-8"
    for bom, label in BOMS:
        if payload.startswith(bom):
            try:
                return payload[len(bom):].decode(label, errors="strict"), label
            except UnicodeDecodeError:
                # BOM'd but corrupt body: salvage what's salvageable
                return payload[len(bom):].decode(label, errors="replace"), label
    declared = declared_charset(payload[:_SNIFF_BYTES])
    if declared is not None and declared != "utf-8":
        try:
            return payload.decode(declared, errors="strict"), declared
        except (UnicodeDecodeError, LookupError):
            pass
    try:
        return payload.decode("utf-8", errors="strict"), "utf-8"
    except UnicodeDecodeError:
        return payload.decode("windows-1252", errors="replace"), "windows-1252"
