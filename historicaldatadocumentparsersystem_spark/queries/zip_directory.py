"""Zip central directories."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_ZIPDIR = _fixture("golden_zipdir_seed42.parquet")


# --- zip central-directory auditor (container sibling of the
# parquet footer reader; stdlib zipfile is the pytest oracle)
# zip central directory: committed golden pinned by
# tests/test_zipx.py against stdlib zipfile AND the pure
# re-derivation
@query("zip_directory", oracle=lambda: f"""
            SELECT url, pos, name, method, crc32,
                   compressed_size, uncompressed_size,
                   local_offset, is_dir, utf8_name
            FROM read_parquet('{_GOLDEN_ZIPDIR}')""")
def q_zip_directory(spark, sf_dir):
    df = _payload_df(spark, fixtures.zip_probe_rows(), 8)
    return sources.read_zip_directory(df)


@query("zip_container_audit", oracle=lambda: f"""
            SELECT url, count(*)::bigint AS n_entries,
                   sum(CASE WHEN method = 'stored' THEN 1 ELSE 0
                       END)::bigint AS n_stored,
                   sum(compressed_size)::bigint
                     AS compressed_bytes,
                   sum(uncompressed_size)::bigint
                     AS uncompressed_bytes,
                   bool_or(utf8_name) AS any_utf8,
                   CASE WHEN sum(uncompressed_size) > 0 THEN
                     sum(compressed_size)::bigint * 1000
                     // sum(uncompressed_size)::bigint END
                     AS ratio_permille
            FROM read_parquet('{_GOLDEN_ZIPDIR}')
            GROUP BY url ORDER BY url""")
def q_zip_audit(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_ZIPDIR)
    return (g.groupBy("url")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_entries"),
                 F.sum(F.when(F.col("method") == "stored", 1)
                       .otherwise(0)).cast("long")
                 .alias("n_stored"),
                 F.sum("compressed_size").cast("long")
                 .alias("compressed_bytes"),
                 F.sum("uncompressed_size").cast("long")
                 .alias("uncompressed_bytes"),
                 F.bool_or("utf8_name").alias("any_utf8"))
            .withColumn(
                "ratio_permille",
                F.expr("CASE WHEN uncompressed_bytes > 0 THEN "
                       "compressed_bytes * 1000 div "
                       "uncompressed_bytes END"))
            .orderBy("url"))
