"""Iceberg pages-table support — the north-rule input format, gated on the
``iceberg-spark-runtime`` jar exactly like the optional Python libraries
(pdfplumber / spaCy / Pillow) are gated on import success.

The engine's plans are format-agnostic (every operator consumes a
DataFrame of ``PAGES_SCHEMA`` shape); this module is the single dispatch
point between an Iceberg catalog table and a plain parquet path:

* with the runtime jar on the classpath, ``load_pages`` reads
  ``spark.read.format("iceberg").load("catalog.db.pages")``;
* without it, ``load_pages`` reads a parquet path with the same schema
  and the same downstream plan. The dispatch seam is what the tests drive.

At 10¹² rows the Iceberg path additionally buys: snapshot-isolated reads
while a crawl appends, metadata-level partition pruning on ``bucket(url)``
(lineage resume prunes at file level instead of directory listing), and
hidden-partitioning so queries never hand-write bucket predicates.
"""

from __future__ import annotations

import fnmatch
import glob
import os

from pyspark.sql import DataFrame, SparkSession

from .schemas import PAGES_SCHEMA

#: table identifiers look like ``catalog.db.table``; filesystem paths do not
_ICEBERG_JAR_GLOB = "iceberg-spark-runtime*.jar"


def iceberg_available() -> bool:
    """True when an iceberg-spark-runtime jar is on the Spark classpath.

    Checked at the file level (``$SPARK_HOME/jars`` plus ``--jars``-style
    entries in ``SPARK_GRAFT_EXTRA_JARS``) so it can run before any
    SparkSession exists — session configs must be chosen up front.
    """
    jar_dirs = []
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        jar_dirs.append(os.path.join(spark_home, "jars"))
    try:  # the pyspark wheel's bundled jars dir
        import pyspark

        jar_dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except Exception:  # pragma: no cover
        pass
    for extra in os.environ.get("SPARK_GRAFT_EXTRA_JARS", "").split(","):
        extra = extra.strip()
        # explicit --jars-style entries are matched by their own filename,
        # not by whatever else shares their directory
        if extra and fnmatch.fnmatch(os.path.basename(extra), _ICEBERG_JAR_GLOB):
            if os.path.exists(extra):
                return True
    return any(glob.glob(os.path.join(d, _ICEBERG_JAR_GLOB)) for d in jar_dirs)


def is_table_identifier(source: str) -> bool:
    """``catalog.db.table`` vs filesystem/URI path: paths contain a
    separator or scheme (``s3://…``, ``/data/pages``); identifiers are
    bare names with at least catalog+namespace dots (``local.db.pages``),
    which also keeps ``pages.parquet``-style relative filenames on the
    path branch."""
    if "/" in source or "\\" in source or ":" in source:
        return False
    return source.count(".") >= 2


def load_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read a pages table from an Iceberg table identifier or a parquet
    path, whichever ``source`` denotes. The parquet branch pins
    PAGES_SCHEMA so both branches produce byte-identical plans downstream.

    The files' own schema is checked against PAGES_SCHEMA first: a pinned
    read over a wrong/unrelated parquet would otherwise NULL-fill every
    missing column and flow all-null "pages" through extraction as empty
    rows instead of failing fast at the source.
    """
    if is_table_identifier(source):
        if not iceberg_available():
            raise RuntimeError(
                f"'{source}' is a table identifier but no iceberg-spark-runtime "
                "jar is on the classpath; pass a parquet path or add the jar"
            )
        return spark.read.format("iceberg").load(source)
    found = set(spark.read.parquet(source).schema.names)
    missing = [f.name for f in PAGES_SCHEMA.fields if f.name not in found]
    if missing:
        raise ValueError(
            f"'{source}' is not a pages table: columns {missing} are absent "
            f"(found {sorted(found)}); refusing the pinned-schema read that "
            "would null-fill them"
        )
    return spark.read.schema(PAGES_SCHEMA).parquet(source)
