"""vCard contacts."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_VCARDS = _fixture("golden_vcards_seed42_n16.parquet")


# --- vCard contact source (the icsx grammar sibling) — flat
# property rows hash-checked against the committed golden;
# card rollup reads the golden on BOTH sides
# vCard flat rows: committed golden pinned by
# tests/test_vcard.py against the pure re-derivation
@query("vcard_props", oracle=lambda: f"""
            SELECT url, card, pos, grp, name, types, value
            FROM read_parquet('{_GOLDEN_VCARDS}')""")
def q_vcard_props(spark, sf_dir):
    df = _payload_df(spark, fixtures.vcf_file_rows(16), 8)
    return sources.read_vcard_props(df)


@query("contact_cards", oracle=lambda: f"""
            SELECT url, card,
                   max(CASE WHEN name = 'VERSION' THEN value END)
                     AS version,
                   max(CASE WHEN name = 'FN' THEN value END) AS fn,
                   sum(CASE WHEN name = 'EMAIL' THEN 1 ELSE 0
                       END)::bigint AS n_emails,
                   sum(CASE WHEN name = 'TEL' THEN 1 ELSE 0
                       END)::bigint AS n_tels,
                   bool_or(name = 'ORG') AS has_org,
                   count(*)::bigint AS n_props
            FROM read_parquet('{_GOLDEN_VCARDS}')
            GROUP BY url, card ORDER BY url, card""")
def q_contact_cards(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_VCARDS)
    return (g.groupBy("url", "card")
            .agg(F.max(F.when(F.col("name") == "VERSION",
                              F.col("value"))).alias("version"),
                 F.max(F.when(F.col("name") == "FN",
                              F.col("value"))).alias("fn"),
                 F.sum(F.when(F.col("name") == "EMAIL", 1)
                       .otherwise(0)).cast("long")
                 .alias("n_emails"),
                 F.sum(F.when(F.col("name") == "TEL", 1)
                       .otherwise(0)).cast("long")
                 .alias("n_tels"),
                 F.bool_or(F.col("name") == "ORG")
                 .alias("has_org"),
                 F.count(F.lit(1)).cast("long")
                 .alias("n_props"))
            .orderBy("url", "card"))
