"""End-to-end extraction parity: Spark pipeline vs pure-Python oracle.

The north_rule invariant — byte-identical extracted text per url — is
asserted here, along with order-insensitive equality for the
PYTHONHASHSEED-hazardous collections (SURVEY.md §5.4).
"""

from __future__ import annotations

import pytest

import oracle_ref
from llm_document_parser_spark.datagen import generate_page, generate_pages
from llm_document_parser_spark.html_extract import extract_main_text, sniff_doc_kind
from llm_document_parser_spark.minipdf import extract_pdf_text
from llm_document_parser_spark.pipeline import extract_pipeline
from llm_document_parser_spark.schemas import RESULTS_SCHEMA

N_DOCS = 80
SEED = 7


def oracle_expected(seed: int, i: int) -> dict:
    url, _ts, payload, _text, _lang = generate_page(seed, i)
    kind = sniff_doc_kind(payload)
    if kind == "pdf":
        raw = extract_pdf_text(payload)
    elif kind == "html":
        raw = extract_main_text(payload.decode("utf-8", errors="replace"))
    else:
        raw = payload.decode("utf-8", errors="replace")
    cleaned = oracle_ref.clean_text(raw)
    doc_type = oracle_ref.heuristic_document_type(cleaned)
    parsed = oracle_ref.parse_text(cleaned, doc_type)
    parsed.update(url=url, doc_kind=kind, extracted_text=cleaned)
    return parsed


@pytest.fixture(scope="module")
def results(spark):
    pages = generate_pages(spark, N_DOCS, seed=SEED, partitions=4)
    rows = extract_pipeline(pages, repartition_to=4).collect()
    return {r["url"]: r for r in rows}


@pytest.fixture(scope="module")
def expected():
    exp = [oracle_expected(SEED, i) for i in range(N_DOCS)]
    return {e["url"]: e for e in exp}


def test_output_has_results_schema_names_and_types(spark):
    out = extract_pipeline(generate_pages(spark, 4, seed=SEED, partitions=1))
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        (f.name, f.dataType.simpleString()) for f in RESULTS_SCHEMA
    ]


def test_row_count(results, expected):
    assert len(results) == N_DOCS
    assert set(results) == set(expected)


def test_extracted_text_byte_identical(results, expected):
    for url, exp in expected.items():
        got = results[url]["extracted_text"]
        assert got == exp["extracted_text"], f"text mismatch for {url!r}"


def test_doc_kind_and_type(results, expected):
    kinds = set()
    for url, exp in expected.items():
        assert results[url]["doc_kind"] == exp["doc_kind"], url
        assert results[url]["document_type"] == exp["document_type"], url
        kinds.add(exp["doc_kind"])
    assert {"html", "pdf", "text"} <= kinds  # generator exercised all kinds


def test_patterns_match_oracle(results, expected):
    for url, exp in expected.items():
        got = {k: sorted(v) for k, v in (results[url]["patterns"] or {}).items()}
        want = {k: sorted(v) for k, v in exp["patterns"].items()}
        assert got == want, f"patterns mismatch for {url!r}"


def test_contacts_match_oracle(results, expected):
    for url, exp in expected.items():
        got = {k: sorted(v) for k, v in (results[url]["contacts"] or {}).items()}
        want = {k: sorted(v) for k, v in exp["contacts"].items()}
        assert got == want, f"contacts mismatch for {url!r}"


def test_entities_match_oracle(results, expected):
    for url, exp in expected.items():
        got = {k: v for k, v in (results[url]["entities"] or {}).items()}
        assert got == exp["entities"], f"entities mismatch for {url!r}"


def test_names_match_oracle(results, expected):
    for url, exp in expected.items():
        got = results[url]["names"]
        want = exp["names"]
        assert sorted(got["candidate_names"]) == sorted(want["candidate_names"]), url
        # primary comparable only when the top score is unique in the oracle
        assert got["primary_name"] == want["primary_name"], url


def test_features_match_oracle(results, expected):
    for url, exp in expected.items():
        got = results[url]["features"].asDict()
        assert got == exp["features"], f"features mismatch for {url!r}"


def test_success_flags_and_spans(results, expected):
    for url, exp in expected.items():
        r = results[url]
        assert r["success"] == (len(exp["extracted_text"]) > 0), url
        for span in r["text_spans"]:
            s, e = span["start"], span["end"]
            sub = r["extracted_text"][s:e]
            vals = (r["patterns"] or {}).get(span["field"], [])
            assert vals and sub == vals[0], (url, span)
