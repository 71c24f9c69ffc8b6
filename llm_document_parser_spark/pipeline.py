"""End-to-end extraction pipeline: pages DataFrame → results DataFrame.

The Spark restatement of the reference's ``parse_document`` (reference:
src/document_parser.py:752-813) — one declarative plan instead of a per-file
driver loop (reference: src/batch_processor.py:13-69):

  pages
    → doc_kind (native magic-bytes)                       [kind.py]
    → repartition by xxhash64(url) (+optional salt)       [skew balance]
    → payload_text_udf (Arrow pandas UDF: PDF/HTML/text)  [extract_udfs.py]
    → clean_text (native chain, X2)                       [textclean.py]
    → document_type (heuristic keyword rules)             [kind.py]
    → patterns/contacts/names/entities/features (native)  [operators/*]
    → text_spans (native, from patterns)
    → results schema

Everything after the single pandas UDF is whole-stage-codegen'd JVM work; the
reference's 4× spaCy re-parse per document (reference:
src/document_parser.py:422,444,525,738) collapses into shared native
subexpressions here.

The column expressions are built once per live ``SparkContext``; see
``extract_pipeline`` for why.
"""

from __future__ import annotations

import threading
import weakref

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .operators.contacts import contacts_map
from .operators.extract_udfs import payload_text_udf
from .operators.features import features_struct
from .operators.kind import doc_kind_col, document_type_col
from .operators.names import holder_names_struct
from .operators import ner
from .operators.ner import entities_map, spacy_entities_stage
from .operators.patterns import patterns_map
from .operators.textclean import clean_text_col

RESULT_COLUMNS = [
    "url",
    "warc_ts",
    "doc_kind",
    "document_type",
    "extracted_text",
    "text_spans",
    "patterns",
    "contacts",
    "names",
    "entities",
    "features",
    "success",
    "error",
    "processing_time",
]


def text_spans_col(text: Column, patterns: Column) -> Column:
    """ARRAY<STRUCT<field,start,end>> — first-occurrence character span of
    each extracted pattern field's first value in the extracted text
    (0-based, end exclusive). Fields whose value doesn't occur verbatim are
    dropped."""
    # two-level transform so the O(text) instr scan runs ONCE per field:
    # HOF lambdas get no subexpression elimination, so a single-level
    # struct(start, end) would re-scan the text for the end position
    located = F.transform(
        F.map_entries(patterns),
        lambda e: F.struct(
            e["key"].alias("field"),
            (F.instr(text, F.try_element_at(e["value"], F.lit(1))) - 1)
            .cast("long")
            .alias("start"),
            F.length(F.try_element_at(e["value"], F.lit(1)))
            .cast("long")
            .alias("vlen"),
        ),
    )
    spans = F.transform(
        located,
        lambda s: F.struct(
            s["field"].alias("field"),
            s["start"].alias("start"),
            (s["start"] + s["vlen"]).alias("end"),
        ),
    )
    return F.filter(spans, lambda s: s["start"] >= 0)


_PlanColumns = tuple[Column, list[tuple[str, Column]]]


def _plan_columns(use_spacy_ner: bool) -> _PlanColumns:
    """The plan's column expressions: ``doc_kind`` (applied before the
    optional repartition) and every later column in ``withColumn`` order.
    The spaCy path leaves ``entities`` to its own Python stage."""
    doc_kind = doc_kind_col(F.col("html"))
    text = F.col("extracted_text")
    after = [
        ("raw_text", payload_text_udf(F.col("html"), F.col("doc_kind"))),
        ("extracted_text", clean_text_col(F.col("raw_text"))),
        ("document_type", document_type_col(text)),
        ("patterns", patterns_map(text, F.col("document_type"))),
        ("contacts", contacts_map(text)),
        ("names", holder_names_struct(text)),
        ("features", features_struct(text)),
        ("text_spans", text_spans_col(text, F.col("patterns"))),
        ("success", F.length(text) > 0),
        (
            "error",
            F.when(
                F.length(text) == 0,
                F.lit("No text could be extracted from the document"),
            ),
        ),
        ("processing_time", F.current_timestamp()),
    ]
    if not use_spacy_ner:
        after.append(("entities", entities_map(text)))
    return doc_kind, after


# SparkContext -> {use_spacy_ner: _plan_columns(...)}. Weak keys: a stopped
# context's entry goes with it.
_PLAN_COLUMNS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PLAN_COLUMNS_LOCK = threading.Lock()


def _plan_columns_for(sc: SparkContext, use_spacy_ner: bool) -> _PlanColumns:
    """``_plan_columns(use_spacy_ner)``, built under a lock so concurrent
    first calls (a stream's ``foreachBatch`` thread and the driver thread)
    share one build."""
    with _PLAN_COLUMNS_LOCK:
        by_mode = _PLAN_COLUMNS.setdefault(sc, {})
        if use_spacy_ner not in by_mode:
            by_mode[use_spacy_ner] = _plan_columns(use_spacy_ner)
        return by_mode[use_spacy_ner]


def extract_pipeline(
    pages: DataFrame,
    repartition_to: int | None = None,
    use_spacy_ner: bool | None = None,
    nlp_factory=None,
) -> DataFrame:
    """Build the full extraction plan over a pages DataFrame.

    The column expressions are built once per live ``SparkContext`` and NER
    mode, then reused: building them costs thousands of py4j round trips
    of serial driver time, and the lineage runner, the stream and the
    catalog queries call this once per commit group, micro-batch or
    query. A ``Column`` is an unresolved, immutable expression, so reuse
    across queries and threads is safe; the cached columns are applied in
    the same ``withColumn`` order, so the analyzed and optimized plans are
    unchanged.

    ``repartition_to``: explicit pre-UDF repartition width. At cluster scale
    this is set to ~2-3× total cores; pass None to keep scan partitioning
    (AQE still balances downstream shuffles). The repartition key is
    ``xxhash64(url)`` so hot hosts (zipfian skew) spread uniformly — the
    moral equivalent of salting the host key (SURVEY.md §4.2 item 2).

    ``use_spacy_ner``: None = auto (real spaCy NER when the library AND its
    model package are both installed — ``ner.spacy_model_available`` — rule-
    NER otherwise; a bare ``import spacy`` success without the model would
    otherwise OSError on every executor). The spaCy path adds a second Python
    stage AFTER the final projection — it sees only result columns, never
    the binary payload. Pattern backfill and feature person/org counts stay
    rule-based either way (they're part of the native codegen span).
    ``nlp_factory`` (executor-side model loader) implies the spaCy path and
    is how tests drive the seam without the library.
    """
    if use_spacy_ner is None:
        use_spacy_ner = nlp_factory is not None or ner.spacy_model_available()
    doc_kind, after = _plan_columns_for(pages.sparkSession.sparkContext, use_spacy_ner)

    df = pages.withColumn("doc_kind", doc_kind)
    if repartition_to:
        df = df.repartition(repartition_to, F.xxhash64("url"))
    for name, col in after:
        df = df.withColumn(name, col)
    if use_spacy_ner:
        df = df.select([c for c in RESULT_COLUMNS if c != "entities"])
        df = spacy_entities_stage(
            df, text_col="extracted_text", out_col="entities", nlp_factory=nlp_factory
        )
    return df.select(*RESULT_COLUMNS)
