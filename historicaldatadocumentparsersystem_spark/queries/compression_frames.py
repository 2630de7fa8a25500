"""Compressed-stream frames: gzip, bzip2 and xz."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_COMP = _fixture("golden_comp_seed42_n10.parquet")


# --- compressed-stream frame index (gzip/bzip2/xz via stdlib,
# zstd/lz4 walked structurally — the pre-pipeline layout audit)
# compressed frames: committed golden pinned by
# tests/test_compx.py against the pure re-derivation
@query("compressed_frames", oracle=lambda: f"""
            SELECT url, pos, format, kind, comp_size, raw_size,
                   extra, ok
            FROM read_parquet('{_GOLDEN_COMP}')""")
def q_compressed_frames(spark, sf_dir):
    df = _payload_df(spark, fixtures.compressed_stream_rows(), 8)
    return sources.read_compressed_frames(df)


@query("compression_audit", oracle=lambda: f"""
            SELECT format, count(DISTINCT url)::bigint AS n_files,
                   count(*)::bigint AS n_frames,
                   sum(comp_size)::bigint AS bytes_comp,
                   sum(coalesce(raw_size, 0))::bigint AS bytes_raw,
                   sum(CASE WHEN raw_size IS NULL THEN 1 ELSE 0
                       END)::bigint AS n_unsized,
                   bool_and(ok) AS all_ok
            FROM read_parquet('{_GOLDEN_COMP}')
            GROUP BY format ORDER BY format""")
def q_compression_audit(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_COMP)
    return (g.groupBy("format")
            .agg(F.countDistinct("url").cast("long")
                 .alias("n_files"),
                 F.count(F.lit(1)).cast("long")
                 .alias("n_frames"),
                 F.sum("comp_size").cast("long")
                 .alias("bytes_comp"),
                 F.sum(F.coalesce("raw_size", F.lit(0)))
                 .cast("long").alias("bytes_raw"),
                 F.sum(F.when(F.col("raw_size").isNull(), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_unsized"),
                 F.bool_and("ok").alias("all_ok"))
            .orderBy("format"))
