"""WARC parser tests (warc.py): framing roundtrip, CC-style per-record gzip
members, HTTP body decoding (chunked/gzip) and corrupt-record degradation."""

from __future__ import annotations

import gzip

from llm_document_parser_spark.warc import (
    WarcParseStats,
    iter_warc_records,
    split_http_response,
    warc_bytes_to_rows,
)

RECORDS = [
    (
        "https://a.example/one",
        "2024-03-01T00:00:00Z",
        b"<html><body><p>first page body text goes here</p></body></html>",
    ),
    ("https://b.example/two", "2024-03-02T12:30:45Z", b"plain text page"),
    ("https://c.example/three", "2024-03-03T23:59:59Z", b"%PDF-1.4 fake"),
]


def _warc_record(url: str, ts: str, body: bytes) -> bytes:
    """One framed WARC/1.0 response record around an HTTP 200 envelope."""
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Length: %d\r\n\r\n" % len(body) + body
    )
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: %s\r\nWARC-Date: %s\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: %d\r\n\r\n" % (url.encode(), ts.encode(), len(http))
        + http
        + b"\r\n\r\n"
    )


def test_record_roundtrip_plain():
    raw = b"".join(_warc_record(u, t, b) for u, t, b in RECORDS)
    stats = WarcParseStats()
    rows = list(warc_bytes_to_rows("f.warc", raw, stats))
    assert stats.n_records == 3 and stats.n_responses == 3
    assert [r["url"] for r in rows] == [u for u, _, _ in RECORDS]
    assert [r["html"] for r in rows] == [b for _, _, b in RECORDS]
    assert rows[0]["warc_ts"].isoformat() == "2024-03-01T00:00:00"
    assert rows[0]["content_type"] == "text/html"
    assert rows[0]["record_offset"] == 0
    assert rows[1]["record_offset"] > 0


def test_gzip_members_roundtrip():
    raw = b"".join(gzip.compress(_warc_record(*r), mtime=0) for r in RECORDS)
    # it must be a REAL multi-member gzip stream (CC convention)
    assert raw[:2] == b"\x1f\x8b" and raw.count(b"\x1f\x8b\x08") >= 3
    rows = list(warc_bytes_to_rows("f.warc.gz", raw))
    assert [r["url"] for r in rows] == [u for u, _, _ in RECORDS]
    assert [r["html"] for r in rows] == [b for _, _, b in RECORDS]


def test_http_body_decodings():
    # chunked
    chunked = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    )
    h, body = split_http_response(chunked)
    assert body == b"hello world"
    # gzip content-encoding
    gz = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + gzip.compress(b"compressed body", mtime=0)
    )
    h, body = split_http_response(gz)
    assert body == b"compressed body"
    # lying content-encoding: raw bytes kept, no throw
    lie = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip"
    _, body = split_http_response(lie)
    assert body == b"not gzip"
    # no HTTP envelope at all: block IS the body
    _, body = split_http_response(b"bare block bytes")
    assert body == b"bare block bytes"


def test_corrupt_records_degrade_not_throw():
    good = _warc_record(*RECORDS[0])
    garbage = b"NOT A WARC RECORD AT ALL\r\n"
    truncated = _warc_record(*RECORDS[1])[:40]
    stats = WarcParseStats()
    rows = list(
        warc_bytes_to_rows("f.warc", garbage + good + truncated, stats)
    )
    assert [r["url"] for r in rows] == [RECORDS[0][0]]
    assert stats.n_skipped >= 1 and stats.errors
    # bad content-length
    bad_cl = good.replace(b"Content-Length: ", b"Content-Length: x", 1)
    stats2 = WarcParseStats()
    assert list(iter_warc_records(bad_cl, stats2)) == []
    # two skips: the bad header, then the orphaned HTTP block fails magic
    assert stats2.n_skipped >= 1
    assert any("Content-Length" in e for e in stats2.errors)
    # unreadable gzip
    stats3 = WarcParseStats()
    assert list(warc_bytes_to_rows("f", b"\x1f\x8b\x08junk", stats3)) == []
    assert stats3.n_skipped == 1


def test_non_response_records_skipped():
    req = _warc_record(*RECORDS[0]).replace(
        b"WARC-Type: response", b"WARC-Type: request", 1
    )
    resp = _warc_record(*RECORDS[1])
    rows = list(warc_bytes_to_rows("f", req + resp))
    assert [r["url"] for r in rows] == [RECORDS[1][0]]

