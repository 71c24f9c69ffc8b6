"""Iceberg pages-table seam — the north-rule input format, gated on the
iceberg-spark-runtime jar (absent in this sandbox, so the dispatch seam is
driven with fakes, same pattern as the pdfplumber/OCR/Pillow gates)."""

from __future__ import annotations

import pytest

from llm_document_parser_spark import iceberg as ib
from llm_document_parser_spark.datagen import write_pages
from llm_document_parser_spark.schemas import PAGES_SCHEMA


def test_environment_has_no_iceberg_jar():
    # this sandbox ships no iceberg-spark-runtime; the fallback branch is
    # the live one here and the seam tests below cover the gated branch
    assert ib.iceberg_available() is False


def test_jar_detection_via_extra_jars(tmp_path, monkeypatch):
    jar = tmp_path / "iceberg-spark-runtime-3.5_2.12-1.5.0.jar"
    jar.write_bytes(b"PK\x03\x04")
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_JARS", str(jar))
    assert ib.iceberg_available() is True
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_JARS", str(tmp_path / "other.jar"))
    assert ib.iceberg_available() is False


@pytest.mark.parametrize(
    "source,expect",
    [
        ("local.db.pages", True),
        ("glue.crawl.pages_2024", True),
        ("/data/pages", False),
        ("s3://bucket/pages/", False),
        ("pages.parquet", False),  # single dot = relative filename
        ("pages", False),
        ("C:\\data\\pages", False),
    ],
)
def test_is_table_identifier(source, expect):
    assert ib.is_table_identifier(source) is expect


def test_load_pages_parquet_fallback(spark, tmp_path):
    path = str(tmp_path / "pages")
    write_pages(spark, path, 20, seed=7, partitions=2)
    df = ib.load_pages(spark, path)
    # parquet scans relax nullability; names + types are the contract
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in PAGES_SCHEMA.fields
    ]
    assert df.count() == 20


def test_load_pages_identifier_without_jar_raises(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        ib.load_pages(spark, "local.db.pages")


def test_load_pages_rejects_non_pages_parquet(spark, tmp_path):
    """Pointing --input at an unrelated parquet must fail fast, not
    null-fill the pinned schema into all-'empty' extraction rows."""
    path = str(tmp_path / "not_pages")
    spark.createDataFrame([(1, "x")], "id long, something string").write.parquet(path)
    with pytest.raises(ValueError, match="not a pages table"):
        ib.load_pages(spark, path)


class _ReaderRecorder:
    def __init__(self, calls):
        self.calls = calls

    def format(self, fmt):
        self.calls.append(("format", fmt))
        return self

    def load(self, ident):
        self.calls.append(("load", ident))
        return "DF"


class _FakeSpark:
    def __init__(self, calls):
        self._calls = calls

    @property
    def read(self):
        return _ReaderRecorder(self._calls)


def test_load_pages_iceberg_dispatch(monkeypatch):
    """With the jar present, an identifier goes through
    spark.read.format('iceberg').load(identifier) — recorded via a fake
    session, since the real reader would need the JVM-side catalog."""
    monkeypatch.setattr(ib, "iceberg_available", lambda: True)
    calls: list[tuple] = []
    out = ib.load_pages(_FakeSpark(calls), "local.db.pages")
    assert out == "DF"
    assert calls == [("format", "iceberg"), ("load", "local.db.pages")]
