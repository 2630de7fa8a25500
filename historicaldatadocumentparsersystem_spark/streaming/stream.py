"""Structured Streaming form of the extraction pipeline.

The reference is pure batch (SURVEY.md §2.8 — one os.walk pass,
``main.py:91-104``); its streaming-adjacent requirement is resume, which
the batch path implements via lineage MERGE. This module is the drop-in
streaming form the north rule anticipates: ``readStream`` over a
documents source -> the SAME Arrow-batched extraction (code reuse ==
identical bytes) -> ``foreachBatch`` writing extracted + lineage per
micro-batch.

Exactly-once: ``foreachBatch`` itself is only at-least-once (a batch
that fails after a partial/complete write is replayed from the
checkpoint), so the sink is made idempotent — extracted rows land in a
``batch_id=N`` partition under DYNAMIC partition overwrite (a replay
atomically rewrites exactly that partition, never appends), and a
batch whose lineage snapshot is already committed is skipped outright
(lineage is written last, so its presence proves the parquet write
completed). Replays therefore converge to one copy of every row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..catalog import Catalog


def extraction_stream(spark: SparkSession, source_dir: str,
                      out_dir: str, run_id: str,
                      num_buckets: int = 32,
                      max_files_per_trigger: int = 8):
    """File-source stream of documents parquet -> extracted parquet.

    Watermarks/session windows are not needed (per-row transform, no
    event-time agg); late data is simply extracted when it arrives.
    """
    docs = (spark.readStream
            .schema("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir))
    cat = Catalog(out_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        snap = f"stream-batch-{batch_id}"
        lin = cat.read_lineage(session)
        if lin is not None and \
                lin.where(lin.snapshot_id == snap).limit(1).count() > 0:
            return  # replayed batch: already fully committed
        extracted = pipeline.extract_df(batch_df, num_buckets=num_buckets,
                                        shuffle=False).cache()
        (extracted.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(cat.extracted_path))
        lineage = pipeline.lineage_from_extracted(
            extracted, run_id=run_id, snapshot_id=snap, wall_ms=0)
        cat.append_lineage(lineage)
        extracted.unpersist()

    return (docs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{out_dir}/_checkpoint"))


def run_stream_once(spark: SparkSession, source_dir: str, out_dir: str,
                    run_id: str, num_buckets: int = 32) -> None:
    """Process all available input once (trigger=availableNow) and stop."""
    q = (extraction_stream(spark, source_dir, out_dir, run_id, num_buckets)
         .trigger(availableNow=True).start())
    q.awaitTermination()


# --- incremental corpus sketches ----------------------------------------------

def sketch_stream(spark: SparkSession, source_dir: str, out_dir: str,
                  d: int = 4, w: int = 256, b: int = 8, seed: int = 42,
                  max_files_per_trigger: int = 8):
    """Maintain corpus sketches incrementally as crawl shards arrive:
    each micro-batch writes ITS OWN Count-Min cell table (token
    frequencies) and HLL register table (distinct urls) into a
    ``batch_id=N`` partition; the current corpus sketch is the
    merge-on-read of all partitions (``read_cms``/``read_hll`` below).

    Idempotency: per-batch partitions under dynamic overwrite — a
    replayed batch atomically rewrites exactly its partition, so the
    non-idempotent sum-merge of CMS cells can never double-count (the
    merge happens at read time over converged partitions, the same
    design as the extraction sink's batch_id layout).

    Scale: each partition is <= d*w (CMS) / 2^b (HLL) rows regardless
    of batch size; merge-on-read over B batches touches B*d*w tiny
    rows — compact periodically by rewriting the merged table as a
    single batch partition if B grows unbounded.
    """
    from ..operators import sketches
    from ..operators.textstats import tokens

    docs = (spark.readStream
            .schema("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        terms = batch_df.select(F.explode(F.transform(
            tokens("text"), lambda t: F.lower(t))).alias("term"))
        (sketches.cms_table(terms, "term", d=d, w=w, seed=seed)
         .withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(f"{out_dir}/cms"))
        (sketches.hll_registers(batch_df, "url", b=b, seed=seed)
         .withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(f"{out_dir}/hll"))

    return (docs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{out_dir}/_checkpoint"))


def run_sketch_stream_once(spark: SparkSession, source_dir: str,
                           out_dir: str, **kw) -> None:
    """Sketch all available input once (trigger=availableNow)."""
    q = sketch_stream(spark, source_dir, out_dir, **kw) \
        .trigger(availableNow=True).start()
    q.awaitTermination()


def read_cms(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read: current whole-corpus CMS cell table."""
    part = spark.read.parquet(f"{out_dir}/cms").drop("batch_id")
    return (part.groupBy("row", "cell")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def read_hll(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read: current whole-corpus HLL register table."""
    part = spark.read.parquet(f"{out_dir}/hll").drop("batch_id")
    return (part.groupBy("bucket")
            .agg(F.max("max_rho").alias("max_rho")))


# --- continuous URL discovery ---------------------------------------------------

def discovery_stream(spark: SparkSession, source_dir: str,
                     out_dir: str, captured: DataFrame | None = None,
                     source_format: str = "sitemap",
                     max_files_per_trigger: int = 8):
    """Continuous crawl-frontier discovery: sitemap shards (or RSS/
    Atom feeds with ``source_format="feed"`` — the freshness channel)
    stream in (binaryFile source); each micro-batch parses its new shards
    (the SAME Spark-free ``extractor.feedx.parse_sitemap`` the batch
    reader uses), SURT-keys the locs, drops URLs already captured
    (optional static ``captured`` side with a urlkey column) and URLs
    already discovered by EARLIER batches, and lands its novel URLs
    in a ``batch_id=N`` partition of ``{out_dir}/frontier``.

    Idempotency: same design as the extraction sink — the anti-join
    reads only partitions with batch_id != current (a replayed batch
    must not anti-join against its own partial write), then the
    dynamic overwrite rewrites exactly its own partition, so replays
    converge. Within a batch, one urlkey keeps its lexicographically
    smallest (url, changefreq, priority_bp) row (deterministic).

    The live frontier is the merge-on-read of all partitions
    (``read_frontier``); feed it to ``webtext.fetch_schedule``.
    """
    from ..functions import surt_urlkey
    from ..sources import (FEED_DDL, SITEMAP_DDL, _feed_parse_batches,
                           _sitemap_parse_batches)

    if source_format not in ("sitemap", "feed"):
        raise ValueError("source_format must be 'sitemap' or 'feed'")
    raw = (spark.readStream.format("binaryFile")
           .schema("path string, modificationTime timestamp, "
                   "length long, content binary")
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .load(source_dir)
           .select("content"))
    if source_format == "sitemap":
        urls = raw.mapInPandas(_sitemap_parse_batches, SITEMAP_DDL)
    else:
        # feeds carry no changefreq/priority hints; normalize to the
        # sitemap row shape so the sink is format-agnostic
        urls = (raw.mapInPandas(_feed_parse_batches, FEED_DDL)
                .select(F.lit("url").alias("kind"),
                        F.col("url").alias("loc"),
                        F.col("pub_ts").alias("lastmod"),
                        F.lit(None).cast("string").alias("changefreq"),
                        F.lit(None).cast("int").alias("priority_bp")))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        disc = (batch_df.where(F.col("kind") == "url")
                .select(F.col("loc").alias("url"),
                        surt_urlkey("loc").alias("urlkey"),
                        "changefreq", "priority_bp")
                .groupBy("urlkey")
                .agg(F.min(F.struct("url", "changefreq",
                                    "priority_bp")).alias("r"))
                .select("urlkey", "r.url", "r.changefreq",
                        "r.priority_bp"))
        if captured is not None:
            disc = disc.join(captured.select("urlkey"),
                             "urlkey", "left_anti")
        seen = read_frontier(sess, out_dir)
        if seen is not None:
            seen = seen.where(F.col("batch_id") != int(batch_id))
            disc = disc.join(seen.select("urlkey"), "urlkey",
                             "left_anti")
        (disc.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(f"{out_dir}/frontier"))

    return (urls.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{out_dir}/_checkpoint"))


def run_discovery_stream_once(spark: SparkSession, source_dir: str,
                              out_dir: str, **kw) -> None:
    """Discover all available sitemap input once (availableNow)."""
    q = discovery_stream(spark, source_dir, out_dir, **kw) \
        .trigger(availableNow=True).start()
    q.awaitTermination()


def read_frontier(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Merge-on-read of the discovered frontier; None before the
    first committed batch."""
    try:
        return spark.read.parquet(f"{out_dir}/frontier")
    except Exception:
        return None


# --- streaming page artifacts ---------------------------------------------------

def artifacts_stream(spark: SparkSession, source_dir: str, out_dir: str,
                     max_files_per_trigger: int = 8):
    """File-source stream of documents parquet -> one-parse page
    artifacts (operators/pagemeta.page_artifacts) per micro-batch.

    Replay-safe without lineage: the output partitions by batch_id and
    writes with dynamic partition overwrite, so a replayed batch
    rewrites exactly its own partition with identical deterministic
    rows. Per-row transform, no event-time agg -> no watermark needed
    (the extraction_stream rationale)."""
    from ..operators import pagemeta
    docs = (spark.readStream
            .schema("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (pagemeta.page_artifacts(batch_df)
         .withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(f"{out_dir}/artifacts"))

    return (docs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{out_dir}/_checkpoint"))


def run_artifacts_stream_once(spark: SparkSession, source_dir: str,
                              out_dir: str,
                              max_files_per_trigger: int = 8) -> None:
    """Process all available input once (trigger=availableNow)."""
    q = (artifacts_stream(spark, source_dir, out_dir,
                          max_files_per_trigger)
         .trigger(availableNow=True).start())
    q.awaitTermination()
