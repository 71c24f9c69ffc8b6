"""llm_document_parser_spark — a PySpark-native document/web-page extraction engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo Swarup-Ingale/LLM-Document-Parser, re-expressed Spark-first:

* input = Common-Crawl-style pages table ``(url, warc_ts, html binary, text, lang)``
* per-document compute = native column expressions + Arrow-batched pandas UDFs
  (zero per-row Python on the driver)
* scale features = url-hash repartitioning, skew salting, AQE, per-partition
  lineage/checkpoint tables with idempotent anti-join resume.

Package map:
  session       SparkSession factory (AQE / Arrow / shuffle tuning)
  zipcache      keeps a Spark Python worker's zip directories across tasks
  schemas       explicit StructType schemas (pages, results, lineage)
  minipdf       deterministic minimal PDF writer + content-stream text extractor
  html_extract  boilerplate-strip spec (text-density / link-density block scoring)
  datagen       deterministic synthetic pages-table generator (seeded; no external data)
  pipeline      end-to-end extract pipeline assembly (pages -> results DataFrame)
  lineage       checkpoint/lineage table + idempotent resume
  operators.*   the operator inventory from SURVEY.md §2
  ml.*          Spark ML document-type classifier (TF-IDF + RandomForest)
  streaming.*   Structured Streaming ingest (readStream + foreachBatch)
"""

from pyspark import TaskContext

__version__ = "0.1.0"

if TaskContext.get() is not None:
    # a Spark Python worker unpickling a UDF: stop every later task
    # re-reading Spark's zip archives (zipcache.py)
    from .zipcache import keep_zip_directories

    keep_zip_directories()
