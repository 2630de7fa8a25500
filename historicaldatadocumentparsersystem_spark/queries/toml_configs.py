"""TOML configuration files."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_TOML = _fixture("golden_toml_seed42_n10.parquet")


# --- TOML configs (from-scratch grammar pinned value-for-value
# against stdlib tomllib; flattened dotted-key index)
# TOML: committed golden pinned by tests/test_tomlx.py
# against stdlib tomllib AND the pure re-derivation
@query("toml_records", oracle=lambda: f"""
            SELECT url, pos, ok, key_path, vtype, value_text
            FROM read_parquet('{_GOLDEN_TOML}')""")
def q_toml_records(spark, sf_dir):
    df = _payload_df(spark, fixtures.toml_file_rows(), 8)
    return sources.read_toml_records(df)


@query("toml_type_census", oracle=lambda: f"""
            SELECT vtype, count(*)::bigint AS n,
                   count(DISTINCT url)::bigint AS n_docs,
                   min(key_path) AS first_key,
                   max(key_path) AS last_key
            FROM read_parquet('{_GOLDEN_TOML}') WHERE ok
            GROUP BY vtype ORDER BY vtype""")
def q_toml_type_census(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_TOML).where("ok")
    return (g.groupBy("vtype")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.countDistinct("url").cast("long")
                 .alias("n_docs"),
                 F.min("key_path").alias("first_key"),
                 F.max("key_path").alias("last_key"))
            .orderBy("vtype"))
