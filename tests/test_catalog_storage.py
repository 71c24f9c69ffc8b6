"""Every catalog query whose operators checkpoint through
``materialize`` leaves no persisted RDD behind once its action runs inside
a ``storage_scope``."""

from __future__ import annotations

import os

import pytest

from __spark_entry__ import SF0001 as SF_DIR
from llm_document_parser_spark.materialize import storage_scope
from llm_document_parser_spark.queries import REGISTRY

CHECKPOINTING_QUERIES = [
    "curation_funnel",
    "near_dup_clusters",
    "decontaminate_docs_bloom",
    "host_pagerank",
    "host_trust_propagation",
    "host_hits_scores",
    "redirect_resolution",
    "bpe_merge_learning",
    "phrase_search_hits",
    "winnow_overlap_pairs",
    "semantic_dedup",
    "kmeans_cell_centroids",
    "lr_langid_fit",
    "pq_vector_codes",
    "pq_adc_neighbors",
    "ivf_adc_search",
]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
@pytest.mark.parametrize("name", CHECKPOINTING_QUERIES)
def test_query_storage_returns_to_baseline(spark, name):
    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    before = persisted()
    with storage_scope():
        REGISTRY[name](spark, SF_DIR).collect()
    assert persisted() - before == set()
