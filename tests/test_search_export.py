"""Search layer (F5/F6/O1-O3/A2/A8) + export sinks (S10-S13)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.operators.export import (
    export_json_docs,
    export_long,
    export_wide,
    flatten_first_values,
    select_for_export,
)
from llm_document_parser_spark.operators.search import (
    build_search_filter,
    date_range,
    search_documents,
    search_facets,
)
from llm_document_parser_spark.pipeline import extract_pipeline


@pytest.fixture(scope="module")
def results(spark):
    pages = generate_pages(spark, 100, seed=17, partitions=4)
    return extract_pipeline(pages, repartition_to=4).cache()


def test_search_filter_and_pagination(results):
    total = results.filter(build_search_filter(document_types=["invoice"])).count()
    assert 0 < total < 100
    p1 = search_documents(results, page=1, per_page=5, document_types=["invoice"])
    rows1 = p1.collect()
    assert len(rows1) == 5
    assert all("..." in r["preview"] or len(r["preview"]) <= 203 for r in rows1)
    p2 = search_documents(results, page=2, per_page=5, document_types=["invoice"])
    assert {r["url"] for r in rows1}.isdisjoint({r["url"] for r in p2.collect()})


def test_search_text_query(results):
    n = results.filter(build_search_filter(text_query="invoice")).count()
    assert n > 0
    rows = search_documents(results, per_page=100, text_query="invoice").collect()
    assert len(rows) == min(n, 100)


def test_per_page_clamped(results):
    rows = search_documents(results, per_page=10_000).collect()
    assert len(rows) <= 100  # reference clamp: max 100/page


def test_facets_single_pass(results):
    f = {(r["facet"], r["key"]): r["n"] for r in search_facets(results).collect()}
    total = f[("total", "__total__")]
    assert total == 100
    type_sum = sum(v for (facet, _), v in f.items() if facet == "document_type")
    assert type_sum == 100


def test_date_range(results):
    r = date_range(results).collect()[0]
    assert r["min_ts"] <= r["max_ts"]


def test_export_wide_and_selection(results):
    urls = results.select("url").limit(10)
    wide = export_wide(select_for_export(results, urls))
    rows = wide.collect()
    assert len(rows) == 10
    assert "pattern_invoice_number" in wide.columns
    inv = [r for r in rows if r["pattern_invoice_number"]]
    for r in inv:
        assert r["pattern_invoice_number"].startswith("INV-")


def test_export_long_and_flatten(results):
    long_df = export_long(results.limit(5))
    assert long_df.columns == ["url", "key", "values"]
    assert long_df.count() >= 5
    flat = flatten_first_values(results.limit(5))
    assert flat.count() == 5


def test_export_json_envelope(results):
    import json

    row = export_json_docs(results.limit(1)).collect()[0]
    doc = json.loads(row["document_json"])
    assert doc["url"] == row["url"]
    assert "features" in doc and "version" in doc


def test_quick_search_relevance_ranking(spark):
    """O2 — tf ranking, OR semantics, stopword drop, deterministic
    tie-break, and snippet truncation."""
    from llm_document_parser_spark.operators.search import (
        quick_search,
        tokenize_query,
    )

    rows = [
        ("u1", "general", "alpha beta alpha gamma " + "pad " * 40),
        ("u2", "general", "alpha beta"),
        ("u0", "general", "alpha beta"),          # ties with u2 -> id order
        ("u3", "general", "beta beta beta beta"),  # tf=4 on one term
        ("u4", "general", "delta only"),           # no match
        ("u5", "general", "the and with"),         # all stopwords
    ]
    df = spark.createDataFrame(
        rows, "url string, document_type string, extracted_text string"
    )
    # stopwords never enter the query either
    assert tokenize_query("the alpha AND beta!") == ["alpha", "beta"]

    got = quick_search(df, "the alpha AND beta!", limit=3).collect()
    assert [r["doc_id"] for r in got] == ["u3", "u1", "u0"]
    assert [r["score"] for r in got] == [4, 3, 2]
    assert got[0]["n_terms_matched"] == 1  # OR semantics: beta only
    assert got[1]["n_terms_matched"] == 2
    assert got[1]["text_snippet"].endswith("...")
    assert len(got[1]["text_snippet"]) == 103

    # empty-after-stopwords query matches nothing
    assert quick_search(df, "the and", limit=3).count() == 0


def test_excel_export_sheets(spark, tmp_path, monkeypatch):
    """S11 — the four reference sheets materialize; CSV fallback without
    openpyxl, xlsx branch selected when the gate is open."""
    import pandas as pd

    from llm_document_parser_spark.datagen import generate_pages
    from llm_document_parser_spark.operators import export as ex
    from llm_document_parser_spark.pipeline import extract_pipeline

    results = extract_pipeline(generate_pages(spark, 20, seed=17, partitions=2))

    out = ex.write_excel_export(results, str(tmp_path / "exp"))
    assert out["format"] == "csv-fallback"
    assert set(out["files"]) == set(ex.EXCEL_SHEETS)

    info = pd.read_csv(out["files"]["Document Info"])
    assert len(info) == 20
    assert list(info.columns) == [
        "url", "document_type", "doc_kind", "crawled_at", "text_length"
    ]
    pat = pd.read_csv(out["files"]["Extraction Patterns"])
    assert list(pat.columns) == ["url", "pattern_type", "values_joined"]
    # long rows match the export_long derivation exactly
    want = {
        (r["url"], r["key"], r["values"])
        for r in ex.export_long(results, "patterns").filter("key is not null").collect()
    }
    got = {tuple(x) for x in pat.itertuples(index=False, name=None)}
    assert got == want
    prev = pd.read_csv(out["files"]["Text Preview"])
    assert len(prev) == 20

    # xlsx branch: seam only (openpyxl not installed here)
    calls = {}
    monkeypatch.setattr(ex, "HAS_OPENPYXL", True)
    monkeypatch.setattr(
        ex, "_write_xlsx", lambda frames, p: calls.update(path=p, sheets=list(frames))
    )
    out2 = ex.write_excel_export(results.limit(3), str(tmp_path / "exp2"))
    assert out2["format"] == "xlsx"
    assert calls["sheets"] == ex.EXCEL_SHEETS
    assert calls["path"].endswith("export.xlsx")


def test_excel_xlsx_writer_call_pattern(spark, tmp_path):
    """S11 — drive the REAL ``_write_xlsx`` body (``pd.ExcelWriter`` engine
    dispatch + per-sheet ``to_excel``) against a registered fake "openpyxl"
    engine: pandas routes through its genuine workbook-formatting path and
    our fake records what openpyxl would have been asked to write. Verifies
    sheet names/order and the 32767-char Excel cell limit on Text Preview
    (reference: src/export_manager.py:111-184, limit at :173)."""
    import pandas as pd
    import pandas.io.excel._util as xlutil
    from pandas.io.excel import ExcelWriter, register_writer

    from llm_document_parser_spark.datagen import generate_pages
    from llm_document_parser_spark.operators import export as ex
    from llm_document_parser_spark.pipeline import extract_pipeline

    results = extract_pipeline(generate_pages(spark, 5, seed=23, partitions=1))
    # pad every document's text past the Excel cell limit so the preview
    # sheet must truncate
    results = results.withColumn(
        "extracted_text", F.rpad("extracted_text", 40000, "x")
    )
    frames = {s: df.toPandas() for s, df in ex.excel_sheet_frames(results).items()}

    recorded: list[tuple] = []

    class FakeOpenpyxlWriter(ExcelWriter):
        _engine = "openpyxl"
        _supported_extensions = (".xlsx",)

        def __init__(self, path, engine=None, **kw):
            self._book = object()
            self._sheet_map = {}
            super().__init__(path, engine=engine, **kw)

        @property
        def engine(self):
            return "openpyxl"

        @property
        def supported_extensions(self):
            return self._supported_extensions

        @property
        def book(self):
            return self._book

        @property
        def sheets(self):
            return self._sheet_map

        def _write_cells(self, cells, sheet_name=None, startrow=0,
                         startcol=0, freeze_panes=None):
            recorded.append((sheet_name, [(c.row, c.col, c.val) for c in cells]))
            self._sheet_map[sheet_name] = True

        def _save(self):
            recorded.append(("__save__", None))

    orig_writers = dict(xlutil._writers)
    try:
        register_writer(FakeOpenpyxlWriter)
        out_path = str(tmp_path / "export.xlsx")
        ex._write_xlsx(frames, out_path)
    finally:
        xlutil._writers.clear()
        xlutil._writers.update(orig_writers)

    # one _write_cells per sheet, in EXCEL_SHEETS order, then one save
    assert [name for name, _ in recorded] == ex.EXCEL_SHEETS + ["__save__"]
    # header row of Document Info matches the frame's columns, index omitted
    info_cells = recorded[0][1]
    header = [v for r, c, v in info_cells if r == 0]
    assert header == ["url", "document_type", "doc_kind", "crawled_at", "text_length"]
    # every Text Preview payload cell obeys the Excel cell limit, and the
    # padded document was truncated to exactly the limit
    prev_cells = recorded[3][1]
    lens = [len(v) for r, c, v in prev_cells if r > 0 and c == 1]
    assert max(lens) == ex.EXCEL_CELL_LIMIT
    assert all(n <= ex.EXCEL_CELL_LIMIT for n in lens)
