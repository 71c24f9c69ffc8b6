"""A Spark Python worker that imports the package keeps its zip archive
directories: PySpark's per-task ``importlib.invalidate_caches()`` re-reads
none of them."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from llm_document_parser_spark.zipcache import keep_zip_directories


def test_invalidate_caches_keeps_zip_directories(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_mod.py", "X = 1\n")
    path = str(archive)
    monkeypatch.setitem(sys.path_importer_cache, path, zipimport.zipimporter(path))
    # restored after the test: the driver keeps stock behaviour
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )

    keep_zip_directories()

    def no_read(archive_path):
        raise AssertionError(f"re-read {archive_path}")

    monkeypatch.setattr(zipimport, "_read_directory", no_read)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path].find_spec("zipped_mod") is not None


def test_session_workers_keep_zip_directories(spark):
    @pandas_udf("long")
    def reads_per_invalidate(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import llm_document_parser_spark  # noqa: F401  (as a by-reference UDF does)

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([len(reads)] * len(x))

    rows = spark.range(8, numPartitions=4).select(reads_per_invalidate("id").alias("n"))
    assert {r["n"] for r in rows.collect()} == {0}
