"""Skew handling: salted two-stage aggregation for hot keys.

The fixture corpus puts ~30% of urls on one host (FIXTURES.md), the
Common-Crawl reality the north rule calls out. AQE skew-join handles
joins; a skewed groupBy(host) still funnels one key to one reducer, so
we salt: stage 1 aggregates (key, salt) partials, stage 2 merges per
key. Salt = pmod(xxhash64(url), S) — deterministic, no RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a SMALL input so per-row map stages use
    every core (r6). Parquet packs a few-MB table into ONE scan split
    (maxPartitionBytes), which silently serializes every downstream
    map/Python stage onto one core — measured 4.5 s vs ~1 s for the
    quality classifier at sf1.0. Scale-adaptive, not a local[32]
    constant: when the scan already has >= defaultParallelism/2 splits
    (any real-scale input), this is the identity — nothing big ever
    reshuffles. Apply to the NARROW projection feeding a map-heavy
    stage, never to a wide table."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(target // 2, 2):
        return df
    return df.repartition(target)


def host_of(url_col: str = "url") -> Column:
    return F.parse_url(F.col(url_col), F.lit("HOST"))


def salted_key(salt_src_col: str, num_salts: int = 16) -> Column:
    return F.pmod(F.xxhash64(F.col(salt_src_col)), F.lit(num_salts))


def cap_per_host(df: DataFrame, url_col: str = "url",
                 cap: int = 2) -> DataFrame:
    """Domain cap: keep at most ``cap`` documents per host — the
    standard web-corpus defense against hot domains flooding the
    training mix (and the F4-adjacent sampling op a Common-Crawl
    pipeline runs before expensive downstream stages).

    Deterministic pick: rows rank by md5(url) within host (urls are
    unique, so the order is total and reproducible on any cluster
    layout — no RNG, no first-seen shuffle dependence). Host comes
    from a regexp rather than parse_url so the exact same expression
    exists in the SQL oracle. One shuffle on host; a hot host's group
    is bounded by the window's top-``cap`` early-out under AQE.
    """
    host = F.regexp_extract(F.col(url_col), r"https?://([^/]+)", 1)
    from pyspark.sql import Window
    w = Window.partitionBy("host").orderBy(F.md5(F.col(url_col)))
    return (df.withColumn("host", host)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= cap))


def salted_host_stats(df: DataFrame, url_col: str = "url",
                      size_col: str | None = None,
                      num_salts: int = 16) -> DataFrame:
    """Per-host row counts (and optional byte sums) via two-stage
    salted aggregation; result identical to a direct groupBy(host)."""
    base = df.withColumn("host", host_of(url_col)) \
             .withColumn("_salt", salted_key(url_col, num_salts))
    aggs = [F.count("*").alias("_cnt")]
    if size_col:
        aggs.append(F.sum(size_col).alias("_sz"))
    partial = base.groupBy("host", "_salt").agg(*aggs)
    final_aggs = [F.sum("_cnt").alias("n_docs")]
    if size_col:
        final_aggs.append(F.sum("_sz").alias("total_bytes"))
    return partial.groupBy("host").agg(*final_aggs)
