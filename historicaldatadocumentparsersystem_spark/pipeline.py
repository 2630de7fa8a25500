"""Flagship Spark extraction job (SURVEY.md §3.1 re-expression).

Plan shape (SURVEY.md §4.3 target):

    Scan documents (prune cols; partitions NOT IN lineage.done)
     └─ Exchange hashpartitioning(xxhash64(url), N)   <- the only shuffle
         └─ MapInPandas extract_batch()               <- DOM/PDF parse,
             └─ write extracted (partitionBy part_id)    classify, spans
             └─ lineage rows aggregated from the written output

All per-document logic is Arrow-batched (``mapInPandas``) — no per-row
Python at the DataFrame level (north rule). Skew: url is unique so
xxhash64(url) spreads rows uniformly even when one host owns 30% of
urls; host-level aggregations use ``operators.skew.salted_key``.

Reference trace generalized: ``main.py:91-104`` batch walk ->
``base_parser.py:20-50`` per-file parse -> ``batch_processor.py:39-65``
grouped sink. Lineage mirrors the registry status machine
``utils/document.py:29-35`` (Expected→…→ContentExtracted).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

from .extractor import extract_document

# ---------------------------------------------------------------------------
# schemas

SPAN_TYPE = StructType([
    StructField("start", LongType(), False),
    StructField("end", LongType(), False),
    StructField("kind", StringType(), False),
])

EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("lang", StringType(), True),
    StructField("doc_kind", StringType(), False),
    StructField("title", StringType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("spans", ArrayType(SPAN_TYPE, False), True),
    StructField("n_blocks", IntegerType(), False),
    StructField("score", DoubleType(), False),
    StructField("failed", IntegerType(), False),   # 1 if fallback-on-error
    StructField("bytes_in", LongType(), False),    # lineage metric
    StructField("part_id", IntegerType(), False),  # stable resume bucket
])

_IN_COLS = ["url", "warc_ts", "lang", "html", "text", "part_id"]


def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: Arrow batch of documents -> extracted rows.

    Heavy setup (none here — regexes are module-level, compiled once per
    executor at import) follows the reference's lesson NOT to re-init
    per row (tokenizer reloaded per call, ``doc_processor.py:96-99``).
    """
    for pdf_in in batches:
        # .tolist() once per column: per-row .iloc is ~2x slower than the
        # extraction itself; bytes are passed through without copying
        # (extractor accepts any bytes-like)
        payloads = pdf_in["html"].tolist()
        fallbacks = pdf_in["text"].tolist()
        kinds, titles, texts, spans_col = [], [], [], []
        n_blocks, scores, failed, bytes_in = [], [], [], []
        for payload, fb in zip(payloads, fallbacks):
            res = extract_document(payload if payload else None, fb)
            kinds.append(res.doc_kind)
            titles.append(res.title)
            texts.append(res.extracted_text)
            spans_col.append(res.spans_as_dicts())
            n_blocks.append(res.n_blocks)
            scores.append(res.score)
            failed.append(1 if res.failed else 0)
            bytes_in.append(len(payload) if payload else 0)
        yield pd.DataFrame({
            "url": pdf_in["url"],
            "warc_ts": pdf_in["warc_ts"],
            "lang": pdf_in["lang"],
            "doc_kind": kinds,
            "title": titles,
            "extracted_text": texts,
            "spans": spans_col,
            "n_blocks": n_blocks,
            "score": scores,
            "failed": failed,
            "bytes_in": bytes_in,
            "part_id": pdf_in["part_id"],
        })


# ---------------------------------------------------------------------------
# plan builders


def with_part_id(df: DataFrame, num_buckets: int) -> DataFrame:
    """Stable resume bucket: pmod(xxhash64(url), num_buckets).

    Content-defined (not spark_partition_id), so re-runs assign every
    url to the same bucket — the MERGE/resume key (SURVEY.md §2.8).
    """
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets))
        .cast("int"))


def extract_df(docs: DataFrame, num_buckets: int = 64,
               shuffle: bool = True) -> DataFrame:
    """documents DataFrame -> extracted DataFrame (lazy; no side effects).

    Narrow select FIRST so column pruning reaches the scan, then the one
    explicit shuffle on xxhash64(url) (north rule), then the fused
    Arrow-batched extraction stage.
    """
    df = with_part_id(
        docs.select("url", "warc_ts", "lang", "html", "text"), num_buckets)
    if shuffle:
        df = df.repartition(num_buckets, F.xxhash64(F.col("url")))
    return df.select(*_IN_COLS).mapInPandas(extract_batch, EXTRACTED_SCHEMA)


LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("snapshot_id", StringType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("input_rows", LongType(), False),
    StructField("output_rows", LongType(), False),
    StructField("failed_rows", LongType(), False),
    StructField("bytes_in", LongType(), False),
    StructField("chars_out", LongType(), False),
    StructField("wall_ms", LongType(), False),
    StructField("status", StringType(), False),
])


def lineage_from_extracted(extracted: DataFrame, run_id: str,
                           snapshot_id: str, wall_ms: int) -> DataFrame:
    """Per-partition lineage metrics (FIXTURES.md §3) from extracted rows.

    Analog of the reference's document registry INSERTs
    (``pg_vector_db.py:364-409``) with the status enum of
    ``utils/document.py:29-35``; status 'ContentExtracted' marks a
    bucket done for resume.

    A bucket with zero rows in the given frame gets NO lineage row and
    so stays not-done: an empty bucket in this run's input is
    indistinguishable from a partial input (a killed job resumed with
    a fuller snapshot must still process it), so it is retried — a
    cheap no-op when genuinely empty — rather than marked done.
    """
    agg = (extracted
           .groupBy(F.col("part_id").alias("partition_id"))
           .agg(F.count("*").alias("input_rows"),
                F.count("*").alias("output_rows"),
                F.sum("failed").cast("long").alias("failed_rows"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum(F.length("extracted_text")).cast("long")
                 .alias("chars_out")))
    return (agg
            .select(F.lit(run_id).alias("run_id"),
                    F.lit(snapshot_id).alias("snapshot_id"),
                    "partition_id", "input_rows", "output_rows",
                    "failed_rows", "bytes_in", "chars_out",
                    F.lit(wall_ms).cast("long").alias("wall_ms"),
                    F.lit("ContentExtracted").alias("status")))


def run_extraction(spark: SparkSession, docs: DataFrame, out_dir: str,
                   run_id: str, snapshot_id: str = "snap-0",
                   num_buckets: int = 64) -> dict:
    """Execute the flagship job with exact resume-from-checkpoint.

    1. read lineage; buckets already ContentExtracted for this snapshot
       are skipped (partition pruning via part_id predicate)
    2. extract remaining buckets; write parquet partitioned by part_id
       with dynamic partition overwrite (idempotent re-runs)
    3. append lineage rows marking those buckets done — aggregated from
       a PARTITION-PRUNED read of just this run's buckets (part_id IN
       todo carries to the scan as a PartitionFilter), FILTERED to this
       run's run_id (each extracted row carries it): a todo bucket that
       received zero rows this snapshot is not rewritten by dynamic
       overwrite, so without the run filter a previous snapshot's
       leftover rows in that partition would be counted into this
       snapshot's lineage (and the bucket wrongly marked done with
       foreign data). Totals come from the lineage rows.
       An incremental run never re-scans previously extracted
       partitions.
    """
    from .catalog import Catalog
    cat = Catalog(out_dir)
    done = cat.done_partitions(spark, snapshot_id)
    todo_parts = sorted(set(range(num_buckets)) - done)
    t0 = time.monotonic()
    if todo_parts:
        if done:
            # IN over a small set: stays a pushable scan predicate, so
            # it lands below extract_df's exchange
            docs = (with_part_id(docs, num_buckets)
                    .where(F.col("part_id").isin(todo_parts)))
        extracted = (extract_df(docs, num_buckets)
                     .withColumn("run_id", F.lit(run_id)))
        cat.write_extracted(extracted)
        wall_ms = int((time.monotonic() - t0) * 1000)
        lineage = lineage_from_extracted(
            cat.read_extracted_parts(spark, todo_parts)
            .where(F.col("run_id") == run_id),
            run_id, snapshot_id, wall_ms)
        cat.append_lineage(lineage)
    else:
        wall_ms = int((time.monotonic() - t0) * 1000)
    n_total = cat.snapshot_output_rows(spark, snapshot_id)
    cat.commit_snapshot(snapshot_id, {
        "run_id": run_id, "rows_total": n_total,
        "num_buckets": num_buckets,
        "buckets_done": sorted(cat.done_partitions(spark, snapshot_id))})
    return {"rows_written": n_total, "wall_ms": wall_ms,
            "skipped_partitions": len(done)}
