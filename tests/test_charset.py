"""Charset sniffing/decoding tests (operators/charset.py).

The reference hands local-file bytes straight to Python's default decoding
(reference: src/document_parser.py:148-159); at crawl scale payloads are
legacy-encoded and lie about it, so the engine sniffs WHATWG-style:
BOM -> in-document declaration -> strict-UTF-8 probe -> windows-1252.
These tests pin that order, the BOM'd-HTML kind-sniff parity between the
pure-Python sniffer and the native Spark column, and the batch UDF shape.
"""

from __future__ import annotations

import pandas as pd
import pytest

from llm_document_parser_spark.html_extract import sniff_doc_kind
from llm_document_parser_spark.operators.charset import (
    decode_payload,
    declared_charset,
    normalize_label,
)


# ---------------------------------------------------------------- label map
def test_normalize_label_aliases():
    assert normalize_label("ISO-8859-1") == "windows-1252"
    assert normalize_label("latin1") == "windows-1252"
    assert normalize_label("US-ASCII") == "windows-1252"
    assert normalize_label("GB2312") == "gbk"
    assert normalize_label("EUC-KR") == "cp949"
    assert normalize_label("Shift-JIS") == "shift_jis"
    assert normalize_label("uTf-8") == "utf-8"
    # WHATWG 13.2.3.3: an ASCII-visible utf-16/32 declaration is a lie
    assert normalize_label("utf-16") == "utf-8"
    assert normalize_label("UTF-32LE") == "utf-8"
    assert normalize_label("no-such-charset") is None
    assert normalize_label("") is None


def test_declared_charset_meta_and_xml():
    assert (
        declared_charset(b'<html><head><meta charset="windows-1251">')
        == "windows-1251"
    )
    assert (
        declared_charset(
            b'<meta http-equiv="Content-Type" content="text/html; '
            b'charset=iso-8859-1">'
        )
        == "windows-1252"
    )
    assert (
        declared_charset(b'<?xml version="1.0" encoding="Shift_JIS"?><root/>')
        == "shift_jis"
    )
    assert declared_charset(b"<html><body>no decl</body>") is None
    # unresolvable label -> ignored, not an error
    assert declared_charset(b'<meta charset="bogus-enc-9000">') is None


# ------------------------------------------------------------- detect order
def test_bom_precedence_utf32_before_utf16():
    # UTF-32-LE BOM starts with the UTF-16-LE BOM; longest-match must win
    payload32 = b"\xff\xfe\x00\x00" + "hi".encode("utf-32-le")
    assert decode_payload(payload32)[1] == "utf-32-le"
    payload16 = b"\xff\xfe" + "hi".encode("utf-16-le")
    assert decode_payload(payload16)[1] == "utf-16-le"
    payload8 = b"\xef\xbb\xbfhi"
    assert decode_payload(payload8)[1] == "utf-8"


def test_detect_declaration_beats_probe():
    # body is valid UTF-8 *and* declares 1251 -> declaration wins
    payload = b'<meta charset="windows-1251"><p>\xcf\xf0\xe8</p>'
    assert decode_payload(payload)[1] == "windows-1251"


def test_detect_agrees_with_decode_on_lying_declaration():
    # declares shift_jis but the body is NOT valid shift_jis; decode_payload
    # falls through to its UTF-8 probe instead of trusting the declaration
    lying = b'<meta charset="shift_jis"><p>\x81\x39 ok</p>'
    try:
        lying.decode("shift_jis", errors="strict")
        raise AssertionError("fixture must be invalid shift_jis")
    except UnicodeDecodeError:
        pass
    # \x81 alone is not UTF-8 either -> 1252
    assert decode_payload(lying)[1] == "windows-1252"
    lying_utf8 = '<meta charset="shift_jis"><p>\x81\x39 café</p>'.encode("utf-8")
    assert decode_payload(lying_utf8)[1] == "utf-8"
    # and one that lies AND isn't UTF-8 either -> 1252
    lying2 = b'<meta charset="shift_jis"><p>\x81\x39 caf\xe9</p>'
    assert decode_payload(lying2)[1] == "windows-1252"
    # truthful declaration still wins
    truthful = "<meta charset=\"windows-1251\"><p>При</p>".encode("windows-1251")
    assert decode_payload(truthful)[1] == "windows-1251"


def test_detect_fallback_1252():
    assert decode_payload(b"plain ascii")[1] == "utf-8"
    assert decode_payload("café".encode("utf-8"))[1] == "utf-8"
    # bare 0xE9 is invalid UTF-8 -> 1252 fallback
    assert decode_payload(b"caf\xe9")[1] == "windows-1252"
    assert decode_payload(b"")[1] == "utf-8"
    assert decode_payload(None)[1] == "utf-8"


# ------------------------------------------------------------------ decode
def test_decode_roundtrips():
    assert decode_payload("héllo".encode("utf-8")) == ("héllo", "utf-8")
    assert decode_payload(b"\xef\xbb\xbfhi") == ("hi", "utf-8")  # BOM stripped
    text = "wide chars é–☃"
    for enc in ("utf-16-le", "utf-16-be", "utf-32-le", "utf-32-be"):
        bom = {
            "utf-16-le": b"\xff\xfe",
            "utf-16-be": b"\xfe\xff",
            "utf-32-le": b"\xff\xfe\x00\x00",
            "utf-32-be": b"\x00\x00\xfe\xff",
        }[enc]
        got_text, got_cs = decode_payload(bom + text.encode(enc))
        assert (got_text, got_cs) == (text, enc)
    assert decode_payload(b"caf\xe9") == ("café", "windows-1252")
    assert decode_payload(b"") == ("", "utf-8")
    assert decode_payload(None) == ("", "utf-8")


def test_decode_declared_legacy():
    body = "Привет мир"
    payload = b'<meta charset="windows-1251">' + body.encode("windows-1251")
    got_text, got_cs = decode_payload(payload)
    assert got_cs == "windows-1251"
    assert body in got_text


def test_decode_wrong_declaration_falls_through():
    # declares shift_jis but the bytes are invalid shift_jis AND invalid
    # UTF-8 -> terminal 1252 replace-decode; never raises
    payload = b'<meta charset="shift_jis">\x81\x39caf\xe9'
    got_text, got_cs = decode_payload(payload)
    assert got_cs == "windows-1252"
    assert "café" in got_text


def test_decode_valid_utf8_is_byte_identical_to_plain_path():
    # the byte-parity invariant: for valid UTF-8 payloads the charset-aware
    # decode returns exactly payload.decode('utf-8')
    for raw in (b"hello", "mixé ☃ text".encode("utf-8"), b"<p>x</p>"):
        assert decode_payload(raw)[0] == raw.decode("utf-8")


# ----------------------------------------------------- BOM'd HTML kind sniff
def test_sniff_doc_kind_wide_bom_html():
    html = "<!DOCTYPE html><html><body>hi</body></html>"
    assert sniff_doc_kind(b"\xff\xfe" + html.encode("utf-16-le")) == "html"
    assert sniff_doc_kind(b"\xfe\xff" + html.encode("utf-16-be")) == "html"
    assert (
        sniff_doc_kind(b"\x00\x00\xfe\xff" + html.encode("utf-32-be")) == "html"
    )
    # no BOM -> NULs are NOT stripped; binary junk can't assemble a marker
    assert sniff_doc_kind(b"<h\x00tml>" ) == "text"
    # BOM'd plain text stays text
    assert sniff_doc_kind(b"\xff\xfe" + "words".encode("utf-16-le")) == "text"


@pytest.mark.usefixtures("spark")
def test_doc_kind_col_bom_parity(spark):
    """Native doc_kind_col matches sniff_doc_kind on BOM'd payloads."""
    import pyspark.sql.functions as F

    from llm_document_parser_spark.operators.kind import doc_kind_col

    html = "<!DOCTYPE html><html><body>hi</body></html>"
    payloads = [
        html.encode("utf-8"),
        b"\xff\xfe" + html.encode("utf-16-le"),
        b"\xfe\xff" + html.encode("utf-16-be"),
        b"\x00\x00\xfe\xff" + html.encode("utf-32-be"),
        b"\xff\xfe" + "plain".encode("utf-16-le"),
        b"<h\x00tml>",
        b"%PDF-1.7 x",
        b"plain words",
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "i int, payload binary"
    )
    got = {
        r["i"]: r["kind"]
        for r in df.select(
            "i", doc_kind_col(F.col("payload")).alias("kind")
        ).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == sniff_doc_kind(p), (i, p)


def test_decode_page_udf_shape(spark):
    """Batch decode UDF: (text, charset) struct per payload, null-safe."""
    from llm_document_parser_spark.operators.extract_udfs import decode_page_udf

    rows = [
        (0, "plain".encode("utf-8")),
        (1, b"\xff\xfe" + "wide é".encode("utf-16-le")),
        (2, b"caf\xe9"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "i int, payload binary")
    out = {
        r["i"]: (r["d"]["text"], r["d"]["charset"])
        for r in df.select(
            "i", decode_page_udf("payload").alias("d")
        ).collect()
    }
    assert out[0] == ("plain", "utf-8")
    assert out[1] == ("wide é", "utf-16-le")
    assert out[2] == ("café", "windows-1252")
    assert out[3] == ("", "utf-8")
