"""Lineage oracle: per-bucket lineage rows aggregated from the
extracted table. The tests compare the lineage ``run_extraction``
observes during its write against this aggregate of what it wrote,
and build catalogs in older layouts with it."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lineage_from_extracted(extracted: DataFrame, run_id: str,
                           snapshot_id: str, wall_ms: int) -> DataFrame:
    """Per-partition lineage metrics (FIXTURES.md §3) recomputed from
    extracted rows: the oracle ``run_extraction``'s observed lineage is
    compared against. It counts output rows twice, so it only matches a
    run whose extraction keeps every input row.

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
