"""Distributed membership sketches: a portable Bloom filter.

The crawl-scale problem: "have we seen this URL (or content
fingerprint) in ANY previous crawl?" at 10^12 keys. A distributed
Bloom filter answers it with one bit-array table instead of an
anti-join against the full history. Spark has a built-in
(DataFrameStatFunctions.bloomFilter) but it collects the filter to
the driver and its hash family is JVM-private — useless as a shared
at-rest artifact and impossible to oracle-check. This one is built
FROM column expressions with an md5 hash family, so:

- the filter is a DataFrame/table of (word_idx, bits) — it can be
  written to parquet, unioned across crawls (bit_or is associative:
  merging two crawls' filters is one groupBy), and read back anywhere;
- every bit is reproducible in any SQL engine (the DuckDB twin in
  ``queries/sketches.py`` matches bit-for-bit, false positives included).

Layout: 63-bit words (bit index 0..62), so ``1 << bit`` never touches
the int64 sign bit — DuckDB raises on signed shift overflow while
Java wraps, and 63-bit words sidestep the difference for a 1.6%
space tax.

Scale: build is one explode (k rows per key) + one map-side-
combinable groupBy(word_idx) whose output is m/63 rows (a 2^30-bit
filter is ~17M rows / ~260 MB — broadcastable; bigger filters join by
shuffle on word_idx). Probe is a k-row explode + equi-join on
word_idx + one groupBy(id) counting satisfied probes. No windows, no
collect, no driver round-trip.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_BITS = 63


def _hash_pos(col: Column, i: int, m_bits: int, seed: int) -> Column:
    """i-th hash position in [0, m_bits): first 15 md5 hex chars (60
    bits, non-negative in int64) of 'seed:i:value'."""
    h = F.substring(
        F.md5(F.concat(F.lit(f"{seed}:{i}:"), col.cast("string"))), 1, 15)
    return F.conv(h, 16, 10).cast("long") % m_bits


def _probes(df: DataFrame, col: str, id_col: str, m_bits: int, k: int,
            seed: int) -> DataFrame:
    """(id, word_idx, mask) — k probe rows per input row."""
    c = F.col(col)
    pos = F.explode(F.array(
        *[_hash_pos(c, i, m_bits, seed) for i in range(k)])).alias("pos")
    return (df.select(F.col(id_col).alias("id"), pos)
            .select("id",
                    F.expr(f"pos div {WORD_BITS}").alias("word_idx"),
                    F.expr(f"shiftleft(1L, cast(pos % {WORD_BITS} "
                           f"as int))").alias("mask")))


def bloom_build(df: DataFrame, col: str = "url",
                m_bits: int = 1 << 20, k: int = 4,
                seed: int = 42) -> DataFrame:
    """Build the filter table (word_idx long, bits long) from a key
    column. Only touched words appear (absent word == all zeros);
    filters merge across crawls by union + groupBy bit_or."""
    return (_probes(df, col, col, m_bits, k, seed)
            .groupBy("word_idx")
            .agg(F.bit_or("mask").alias("bits")))


def bloom_might_contain(df: DataFrame, bloom: DataFrame,
                        col: str = "url", id_col: str = "doc_id",
                        m_bits: int = 1 << 20, k: int = 4,
                        seed: int = 42,
                        broadcast_filter: bool = True) -> DataFrame:
    """(id, might_contain) — 1 iff every one of the k probed bits is
    set (the standard Bloom contract: no false negatives, bounded
    false positives). ``broadcast_filter`` for small/medium filters;
    large at-rest filters equi-join by shuffle on word_idx instead.
    """
    b = F.broadcast(bloom) if broadcast_filter else bloom
    pr = _probes(df, col, id_col, m_bits, k, seed)
    hit = (F.coalesce(F.col("bits"), F.lit(0).cast("long"))
           .bitwiseAND(F.col("mask")) == F.col("mask")).cast("int")
    return (pr.join(b, "word_idx", "left")
            .select("id", hit.alias("hit"))
            .groupBy("id")
            .agg(F.when(F.sum("hit") == k, F.lit(1)).otherwise(F.lit(0))
                 .cast("long").alias("might_contain"))
            .withColumnRenamed("id", id_col))
