"""Output checks. None of this is timed.

An extraction result is reduced to one digest per url over
``(url, doc_kind, document_type, extracted_text)``; ``processing_time`` is
left out because it is a timestamp. The same pages must give the same
digests through the batch job and the stream, and, for the default seed,
the digest set must match the one stored in ``reference.json``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REFERENCE = Path(__file__).resolve().parent / "reference.json"
DIGEST_COLUMNS = ("url", "doc_kind", "document_type", "extracted_text")


def digest_rows(results: DataFrame) -> list[tuple[str, str, bool]]:
    """``(url, digest, success)`` for every result row."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\u0000")) for c in DIGEST_COLUMNS]
    return [
        (r[0], r[1], bool(r[2]))
        for r in results.select(
            "url", F.sha2(F.concat_ws("\u001f", *cols), 256), "success"
        ).collect()
    ]


def check_rows(rows: list[tuple[str, str, bool]], expected_urls: set[str]) -> list[str]:
    """Every expected url exactly once, nothing else, all ``success``."""
    problems = []
    seen: dict[str, int] = {}
    for url, _, _ in rows:
        seen[url] = seen.get(url, 0) + 1
    missing = expected_urls - seen.keys()
    extra = seen.keys() - expected_urls
    dups = [u for u, n in seen.items() if n > 1]
    failed = [u for u, _, ok in rows if not ok]
    for label, urls in (("missing", missing), ("unexpected", extra),
                        ("duplicated", dups), ("success=false", failed)):
        if urls:
            problems.append(f"{len(urls)} {label} url(s), e.g. {sorted(urls)[0]}")
    return problems


def compare_digests(a: list[tuple[str, str, bool]], b: list[tuple[str, str, bool]],
                    label: str) -> list[str]:
    """Per-url digest equality between two result sets of the same pages."""
    da = {u: d for u, d, _ in a}
    db = {u: d for u, d, _ in b}
    diff = sorted(u for u in da.keys() | db.keys() if da.get(u) != db.get(u))
    if diff:
        return [f"{label}: {len(diff)} url digest(s) differ, e.g. {diff[0]}"]
    return []


def combined_digest(rows) -> str:
    """One order-free digest over a set of key/value rows."""
    h = hashlib.sha256()
    for line in sorted(f"{r[0]}\t{r[1]}" for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def reference(workload: str, seed: int, n: int) -> str | None:
    """The stored digest for this input, when one is stored."""
    ref = json.loads(REFERENCE.read_text()).get(workload, {})
    if ref.get("seed") == seed and ref.get("n") == n:
        return ref["sha256"]
    return None


def check_reference(workload: str, seed: int, n: int, digest: str) -> list[str]:
    want = reference(workload, seed, n)
    if want is not None and want != digest:
        return [f"{workload}: digest {digest[:12]} != stored {want[:12]} (seed {seed})"]
    return []
