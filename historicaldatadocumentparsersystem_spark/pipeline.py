"""Flagship Spark extraction job (SURVEY.md §3.1 re-expression).

Plan shape (SURVEY.md §4.3 target), lineage observed during the write:

    Scan documents (prune cols; buckets NOT IN lineage.done)
     └─ Exchange hashpartitioning(xxhash64(url), N)   <- the only shuffle;
         │                                               partition k = bucket k
         └─ CollectMetrics input rows per bucket
             └─ MapInPandas extract_batch()           <- DOM/PDF parse,
                 │                                       classify, spans
                 └─ CollectMetrics output, failed, bytes, chars per bucket
                     └─ write extracted (partitionBy part_id): one file
                        per bucket; lineage rows come from the two
                        observations, never from re-reading the output

All per-document logic is Arrow-batched (``mapInPandas``) — no per-row
Python at the DataFrame level (north rule). The fixed cost of a UDF
task is not pandas or Arrow: it is PySpark's per-task
``importlib.invalidate_caches()``, which re-reads the directory of
pyspark.zip and the Spark jar (~0.3 s per task). The package
``__init__`` keys that re-read on each archive's stat, so on a reused
Python worker only the first tasks pay it. Skew: url is unique so
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
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
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
    The same holds per task: unpickling this function imports the
    package, whose ``__init__`` keys zip-cache invalidation on the
    archive's stat, so later tasks on the worker skip re-reading
    pyspark.zip and the Spark jar.
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


# The exchange's HashPartitioning sends a row to partition
# pmod(murmur3(key, seed 42), N), and F.hash is that Murmur3 with seed 42,
# so with key xxhash64(url) bucket k is exactly exchange partition k.
BUCKETING = "pmod(hash(xxhash64(url)), num_buckets)"


def with_part_id(df: DataFrame, num_buckets: int) -> DataFrame:
    """Stable resume bucket: pmod(hash(xxhash64(url)), num_buckets).

    Content-defined (not spark_partition_id), so re-runs assign every
    url to the same bucket — the MERGE/resume key (SURVEY.md §2.8) —
    and equal to the partition ``extract_df``'s exchange sends the url
    to, so each write task holds one bucket and writes one file.
    """
    return df.withColumn(
        "part_id", F.pmod(F.hash(F.xxhash64(F.col("url"))),
                          F.lit(num_buckets)).cast("int"))


def _bucketed(docs: DataFrame, num_buckets: int) -> DataFrame:
    return (with_part_id(docs.select("url", "warc_ts", "lang", "html",
                                     "text"), num_buckets)
            .repartition(num_buckets, F.xxhash64(F.col("url")))
            .select(*_IN_COLS))


def extract_df(docs: DataFrame, num_buckets: int = 64) -> DataFrame:
    """documents DataFrame -> extracted DataFrame (lazy; no side effects).

    Narrow select FIRST so column pruning reaches the scan, then the one
    explicit shuffle on xxhash64(url) (north rule), which leaves bucket
    k in partition k, then the fused Arrow-batched extraction stage.
    """
    return _bucketed(docs, num_buckets).mapInPandas(
        extract_batch, EXTRACTED_SCHEMA)


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


def _per_bucket(todo: list[int], **metrics: str) -> list:
    """Aggregates for ``DataFrame.observe``, which has no group-by: per
    metric one array whose i-th element sums the metric's SQL
    expression over the rows of bucket ``todo[i]`` (NULL when it has
    none). Built as SQL text: one Column per (metric, bucket) through
    the Column API is one Python-to-JVM call each, measured at 0.13 s
    a run for 8 buckets and 0.77 s for 64 on a 4-core host."""
    return [F.expr("array(%s) AS %s" % (", ".join(
        f"sum(CASE WHEN part_id = {k} THEN {sql} END)" for k in todo), name))
        for name, sql in metrics.items()]


def run_extraction(spark: SparkSession, docs: DataFrame, out_dir: str,
                   run_id: str, snapshot_id: str = "snap-0",
                   num_buckets: int = 64) -> dict:
    """Execute the flagship job with exact resume-from-checkpoint.

    1. refuse a catalog written under another bucketing scheme (another
       function than ``BUCKETING``, or another ``num_buckets``): its
       done bucket ids would name other urls. A fresh catalog records
       the scheme before anything is written.
    2. read lineage ONCE: per-bucket output rows of the buckets already
       ContentExtracted for this snapshot. Those buckets are skipped
       (``part_id IN todo`` lands below extract_df's exchange).
    3. extract the remaining buckets in ONE write action: parquet
       partitioned by part_id with dynamic partition overwrite
       (idempotent re-runs). Bucket k is exchange partition k, so each
       task writes one file. Two observations ride that action: rows
       per bucket entering the UDF, and output rows, failed rows,
       bytes in and chars out per bucket leaving it.
    4. append one lineage row per todo bucket that received rows this
       run, built from those observations, as one file. A todo bucket
       with zero rows gets NO lineage row and so stays not-done: an
       empty bucket in this run's input is indistinguishable from a
       partial input (a killed job resumed with a fuller snapshot must
       still process it), so it is retried — a cheap no-op when
       genuinely empty. Only rows flowing through this run's plan are
       counted, so rows an earlier snapshot left in such a bucket's
       partition (dynamic overwrite does not touch it) are never
       credited to this snapshot.
    5. commit the snapshot. rows_total and buckets_done come from step
       2's read plus this run's observations: nothing written is read
       back, and an incremental run never re-scans extracted buckets.
    """
    from .catalog import Catalog
    cat = Catalog(out_dir)
    cat.ensure_bucketing({"part_id": BUCKETING, "num_buckets": num_buckets})
    prior = cat.snapshot_bucket_rows(spark, snapshot_id)
    todo_parts = sorted(set(range(num_buckets)) - set(prior))
    seen = {}
    t0 = time.monotonic()
    if todo_parts:
        if prior:
            # IN over a small set: stays a pushable scan predicate, so
            # it lands below extract_df's exchange
            docs = (with_part_id(docs, num_buckets)
                    .where(F.col("part_id").isin(todo_parts)))
        seen_in, seen_out = Observation(), Observation()
        extracted = (
            _bucketed(docs, num_buckets)
            .observe(seen_in, *_per_bucket(todo_parts, input_rows="1"))
            .mapInPandas(extract_batch, EXTRACTED_SCHEMA)
            .observe(seen_out, *_per_bucket(
                todo_parts, output_rows="1", failed_rows="failed",
                bytes_in="bytes_in", chars_out="length(extracted_text)"))
            .withColumn("run_id", F.lit(run_id)))
        cat.write_extracted(extracted)
        seen = {**seen_in.get, **seen_out.get}
    wall_ms = int((time.monotonic() - t0) * 1000)
    rows = [{"run_id": run_id, "snapshot_id": snapshot_id,
             "partition_id": k,
             **{m: seen[m][i] or 0 for m in seen},
             "wall_ms": wall_ms, "status": "ContentExtracted"}
            for i, k in enumerate(todo_parts) if seen["input_rows"][i]]
    if rows:
        # from Arrow: a frame built from Python rows would start a pool
        # of Python workers just to serialize them
        cat.append_lineage(spark.createDataFrame(
            pa.Table.from_pylist(rows), LINEAGE_SCHEMA))
    done = {**prior, **{r["partition_id"]: r["output_rows"] for r in rows}}
    n_total = sum(done.values())
    cat.commit_snapshot(snapshot_id, {
        "run_id": run_id, "rows_total": n_total,
        "num_buckets": num_buckets, "buckets_done": sorted(done)})
    return {"rows_written": n_total, "wall_ms": wall_ms,
            "skipped_partitions": len(prior)}
