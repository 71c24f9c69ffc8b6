"""WARC (ISO 28500) record parser — the on-disk format Common Crawl ships.

The reference ingests local files one path at a time (reference:
src/training_pipeline.py:10-43, src/batch_processor.py:13-69); a crawl-scale
user starts from ``*.warc.gz`` archives. This module parses WARC response
records into the pages shape (schemas.PAGES_SCHEMA: url, timestamp, payload)
that the extraction pipeline consumes. ``parse_warc_record_udf`` runs the
parser Arrow-batched, one record per binary value; the ``warc_roundtrip``
catalog query and ``bench.py`` drive it.

Format facts the parser relies on (WARC/1.0-1.1):

- a record = ``WARC/1.x CRLF`` + header lines (``Name: value``) + empty line
  + ``Content-Length`` octets of block + ``CRLF CRLF`` separator;
- ``WARC-Type: response`` blocks hold a full HTTP response (status line,
  headers, CRLFCRLF, body) — the page payload is the HTTP body;
- Common Crawl gzips each record as its OWN gzip member, so a ``.warc.gz``
  is a valid multi-member gzip stream; plain ``.warc`` is also accepted.

Corrupt/truncated records degrade to skips counted in ``n_skipped`` —
crawl archives contain garbage; a job that throws on record 10^11 is
useless.

Compressed-payload note: HTTP bodies advertising Content-Encoding gzip are
decompressed; Transfer-Encoding chunked bodies are de-chunked — both appear
in real crawls (Common Crawl stores what the server sent).
"""

from __future__ import annotations

import io
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


@dataclass
class WarcRecord:
    headers: dict[str, str]
    block: bytes
    offset: int = 0

    @property
    def record_type(self) -> str:
        return self.headers.get("warc-type", "")

    @property
    def target_uri(self) -> str:
        # WARC/1.0 writers often wrap the URI in <...>; 1.1 forbids it
        return self.headers.get("warc-target-uri", "").strip("<>")


@dataclass
class WarcParseStats:
    n_records: int = 0
    n_responses: int = 0
    n_skipped: int = 0
    errors: list[str] = field(default_factory=list)


def _gunzip_members(raw: bytes) -> bytes:
    """Concatenated decompression of a (possibly multi-member) gzip stream.
    Per-record members simply concatenate back into one WARC byte stream."""
    out = io.BytesIO()
    pos = 0
    while pos < len(raw):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.write(d.decompress(raw[pos:]))
        out.write(d.flush())
        consumed = len(raw) - pos - len(d.unused_data)
        if consumed <= 0:  # trailing garbage — stop rather than spin
            break
        pos += consumed
    return out.getvalue()


def iter_warc_records(
    data: bytes, stats: WarcParseStats | None = None
) -> Iterator[WarcRecord]:
    """Yield WarcRecords from raw (already-decompressed) WARC bytes.
    Malformed tails/records are skipped and counted, never raised."""
    stats = stats if stats is not None else WarcParseStats()
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        start = pos
        if not data.startswith(b"WARC/", pos):
            stats.n_skipped += 1
            stats.errors.append(f"no WARC magic at offset {pos}")
            nxt = data.find(b"\r\nWARC/", pos)
            if nxt < 0:
                break
            pos = nxt + 2
            continue
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            stats.n_skipped += 1
            stats.errors.append("truncated header")
            break
        headers: dict[str, str] = {}
        lines = data[pos:hdr_end].split(b"\r\n")[1:]  # drop the version line
        for line in lines:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1")
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            stats.n_skipped += 1
            stats.errors.append("missing/invalid Content-Length")
            pos = hdr_end + 4
            continue
        block_start = hdr_end + 4
        block_end = block_start + clen
        if block_end > n:
            stats.n_skipped += 1
            stats.errors.append("truncated block")
            break
        stats.n_records += 1
        yield WarcRecord(headers, data[block_start:block_end], offset=start)
        pos = block_end


def _dechunk(body: bytes) -> bytes:
    out = io.BytesIO()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        try:
            size = int(body[pos:eol].split(b";")[0], 16)
        except ValueError:
            break
        if size == 0:
            break
        out.write(body[eol + 2 : eol + 2 + size])
        pos = eol + 2 + size + 2
    return out.getvalue()


def split_http_response(block: bytes) -> tuple[dict[str, str], bytes]:
    """(http_headers, body) from a response record's block; decodes
    Content-Encoding gzip and Transfer-Encoding chunked. A block without an
    HTTP status line is returned whole as the body (warc writers vary)."""
    if not block.startswith(b"HTTP/"):
        return {}, block
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return {}, block
    headers: dict[str, str] = {}
    for line in block[:sep].split(b"\r\n")[1:]:
        k, s, v = line.partition(b":")
        if s:
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("latin-1")
            )
    body = block[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    if headers.get("content-encoding", "").lower() in ("gzip", "x-gzip"):
        try:
            body = _gunzip_members(body)
        except Exception:  # noqa: BLE001 — lying servers; keep raw bytes
            pass
    return headers, body


def _parse_warc_ts(value: str) -> datetime | None:
    # WARC-Date is ISO-8601 Zulu: 2024-03-01T00:00:00Z (1.1 allows frac)
    try:
        return datetime.fromisoformat(value.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
    except ValueError:
        return None


def warc_bytes_to_rows(
    name: str, raw: bytes, stats: WarcParseStats | None = None
) -> Iterator[dict]:
    """Pages-shaped dicts for every response record in one WARC file's
    bytes (gzip auto-detected)."""
    stats = stats if stats is not None else WarcParseStats()
    if raw[:2] == b"\x1f\x8b":
        try:
            raw = _gunzip_members(raw)
        except Exception:  # noqa: BLE001
            stats.n_skipped += 1
            stats.errors.append("gzip stream unreadable")
            return
    for rec in iter_warc_records(raw, stats):
        if rec.record_type != "response" or not rec.target_uri:
            continue
        http_headers, body = split_http_response(rec.block)
        stats.n_responses += 1
        yield {
            "url": rec.target_uri,
            "warc_ts": _parse_warc_ts(rec.headers.get("warc-date", "")),
            "html": body,
            "content_type": http_headers.get(
                "content-type", rec.headers.get("content-type", "")
            ),
            "warc_file": name,
            "record_offset": rec.offset,
        }


# explicit StructType: a DDL string would need a live SparkContext at
# import time (same constraint as extract_udfs._DECODE_SCHEMA)
_PARSE_ONE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("content_type", StringType()),
    ]
)


@F.pandas_udf(_PARSE_ONE_SCHEMA)
def parse_warc_record_udf(raw: pd.Series) -> pd.DataFrame:
    """Parse ONE WARC record per binary value (Arrow-batched) — the seam the
    `warc_roundtrip` oracle drives. Unparseable input yields nulls."""
    out = {"url": [], "warc_ts": [], "html": [], "content_type": []}
    for b in raw:
        row = next(
            warc_bytes_to_rows("", bytes(b) if b is not None else b""), None
        )
        out["url"].append(row["url"] if row else None)
        out["warc_ts"].append(row["warc_ts"] if row else None)
        out["html"].append(row["html"] if row else None)
        out["content_type"].append(row["content_type"] if row else None)
    return pd.DataFrame(out)
