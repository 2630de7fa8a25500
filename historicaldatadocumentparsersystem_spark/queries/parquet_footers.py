"""Parquet footers, read by a from-scratch Thrift compact decoder."""

import os

from pyspark.sql import functions as F

from .. import sources
from . import _REPO, query


# fixed probe set for the from-scratch parquet footer reader (both
# engines read the SAME files, so golden regens keep parity); the
# certs file is kept only as a footer probe, its X.509 family is gone
_PARQUET_PROBE_FILES = [
    os.path.join(_REPO, "fixtures", f) for f in (
        "golden_extracted_seed42_n300.parquet",
        "golden_links_seed42_n300.parquet",
        "golden_certs_seed42_n24.parquet",
        "golden_stems_seed42.parquet")]


# --- parquet footer reader (from-scratch Thrift compact; the
# 100 TB table-layout auditor) — TRUE dual-engine: Spark runs
# the from-scratch decoder over raw file bytes, DuckDB answers
# with its NATIVE parquet_metadata over the same files
def _parquet_probe_df(spark):
    rows = []
    for p in _PARQUET_PROBE_FILES:
        with open(p, "rb") as fh:
            rows.append((p, fh.read()))
    return spark.createDataFrame(
        rows, "file string, payload binary").repartition(4)


# parquet footers: TRUE dual-engine — the from-scratch
# Thrift-compact decoder vs DuckDB's NATIVE parquet reader
# over the same probe files
@query("parquet_footer_chunks", oracle=lambda: f"""
            SELECT file_name AS file, row_group_id,
                   row_group_num_rows, column_id, file_offset,
                   num_values, path_in_schema, type, compression,
                   encodings, data_page_offset,
                   dictionary_page_offset, total_compressed_size,
                   total_uncompressed_size
            FROM parquet_metadata({_PARQUET_PROBE_FILES!r})""")
def q_parquet_chunks(spark, sf_dir):
    return sources.read_parquet_footers(_parquet_probe_df(spark))


@query("parquet_layout_audit", oracle=lambda: f"""
            WITH m AS (SELECT * FROM
                       parquet_metadata({_PARQUET_PROBE_FILES!r}))
            SELECT file_name AS file,
                   count(DISTINCT row_group_id)::bigint
                     AS n_row_groups,
                   count(*)::bigint AS n_chunks,
                   max(row_group_num_rows) AS max_rg_rows,
                   sum(total_compressed_size)::bigint
                     AS compressed_bytes,
                   sum(total_uncompressed_size)::bigint
                     AS uncompressed_bytes,
                   sum(total_compressed_size)::bigint * 1000
                     // sum(total_uncompressed_size)::bigint
                     AS ratio_permille
            FROM m GROUP BY file_name ORDER BY file_name""")
def q_parquet_layout(spark, sf_dir):
    chunks = sources.read_parquet_footers(
        _parquet_probe_df(spark))
    return (chunks.groupBy("file")
            .agg(F.countDistinct("row_group_id").cast("long")
                 .alias("n_row_groups"),
                 F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.max("row_group_num_rows").alias("max_rg_rows"),
                 F.sum("total_compressed_size").cast("long")
                 .alias("compressed_bytes"),
                 F.sum("total_uncompressed_size").cast("long")
                 .alias("uncompressed_bytes"))
            .withColumn(
                "ratio_permille",
                F.expr("compressed_bytes * 1000 div "
                       "uncompressed_bytes"))
            .orderBy("file"))
