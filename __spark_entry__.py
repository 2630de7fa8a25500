"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction job on the synthetic
Common-Crawl-style corpus. ``queries()`` exposes the 50 driver-window
queries, ``extra_queries()`` every other registered query, and
``oracle_sql()`` the DuckDB twin of each query that has one. All three
derive from the records in ``historicaldatadocumentparsersystem_spark/
queries/``, one module per family. Column names/aliases match exactly
between the two sides (the driver sorts columns by name and
value-hashes).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# import-safe from any CWD (driver may load this file by path)
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# Python WORKERS spawn fresh interpreters that must import the package
# by name: when the driver's cwd is the repo (the driver harness) the
# workers resolve it via cwd, but a session created from elsewhere
# needs the repo on PYTHONPATH before the JVM launches — set it here
# (import precedes session creation in every entry-point flow; no-op
# for an already-running JVM, where cwd must cover it).
if _REPO not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else _REPO)

from historicaldatadocumentparsersystem_spark import fixtures, pipeline
from historicaldatadocumentparsersystem_spark.queries import records


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction pipeline over the synthetic corpus +
    sf0.001 documents as fallback-text rows; returns extracted rows."""
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    out = pipeline.extract_df(docs, num_buckets=8)
    return out.select("url", "doc_kind", "extracted_text", "n_blocks",
                      "score")


# The correctness driver checks at most 50 queries: these, in this
# order. Every other registered query is an extra, oracle-checked by
# pytest only (tests/test_entry_oracle.py runs the union).
_DRIVER_ORDER = [
    # owed a first driver check: demoted before a round-end window
    "charset_stats", "microdata_records", "dhash_near_pairs",
    "publish_date", "pack_greedy", "cms_term_counts",
    "table_records", "surt_urlkey",
    # PDF and office metadata, and the extraction roll-ups over it
    "pdf_info", "pdf_outline", "office_metadata",
    "legacy_office_extract", "extract_kind_stats", "structured_records",
    # keep-set witnesses on the reference's document-to-record trace
    "docx_elements", "pptx_elements", "ppt_elements", "doc_elements",
    "odt_elements", "epub_chapters", "rtf_elements", "exact_dedup",
    "simhash_near_pairs", "cdx_fetch_plan", "html_section_chunks",
    # bm25 tie fix, broadcast-centroid k-means, sole family witnesses
    "bm25_scores", "kmeans_clusters", "semantic_dedup",
    "hll_url_distinct", "frontier_candidates", "pack_offsets",
    # the flagship and sentinel rows, stable so bench deltas compare
    "extract_corpus",
    "lang_id_trigram", "quality_classifier",
    "host_pagerank", "text_profile",
    "minhash_lsh_pairs", "dedup_clusters",
    "chunk_token_budget", "lsh_topk",
    # page structure, sections, links and metadata of one document
    "page_artifacts_stats", "image_dhash",
    "extract_av", "extract_forms", "idn_hosts", "arc_documents",
    "section_chunks", "extract_links", "extract_meta",
    "pdf_modern_info",
]

_QueryFn = Callable[[SparkSession, str], DataFrame]


def _all_queries() -> dict[str, _QueryFn]:
    return {name: rec.build for name, rec in records().items()}


def queries() -> dict[str, _QueryFn]:
    q = _all_queries()
    return {k: q[k] for k in _DRIVER_ORDER}


def extra_queries() -> dict[str, _QueryFn]:
    """Every registered query outside the driver window."""
    window = set(_DRIVER_ORDER)
    return {k: f for k, f in _all_queries().items() if k not in window}


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every query that has one, built on call."""
    return {name: rec.oracle() for name, rec in records().items()
            if rec.oracle is not None}
