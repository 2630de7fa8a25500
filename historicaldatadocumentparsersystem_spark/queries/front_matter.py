"""Markdown front matter."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_FM = _fixture("golden_frontmatter_seed42_n20.parquet")


# --- markdown front matter (Jekyll/Hugo YAML micro-subset) —
# hash-checked against the committed golden parquet (pinned by
# tests/test_frontmatter.py against the pure re-derivation)
# front matter: committed golden parquet pinned by
# tests/test_frontmatter.py against the pure re-derivation
@query("front_matter", oracle=lambda: f"""
            SELECT url, pos, key, idx, value
            FROM read_parquet('{_GOLDEN_FM}')""")
def q_front_matter(spark, sf_dir):
    df = _payload_df(spark, fixtures.md_doc_rows(20), 8)
    return sources.read_front_matter(df)


@query("front_matter_meta", oracle=lambda: f"""
            SELECT url,
                   max(CASE WHEN key = 'title' THEN value END)
                     AS title,
                   max(CASE WHEN key = 'date' THEN value END)
                     AS pub_date,
                   sum(CASE WHEN key = 'tags' AND idx IS NOT NULL
                       THEN 1 ELSE 0 END)::bigint AS n_tags,
                   bool_or(coalesce(key = 'draft'
                                    AND value = 'true', false))
                     AS draft
            FROM read_parquet('{_GOLDEN_FM}')
            GROUP BY url ORDER BY url""")
def q_fm_meta(spark, sf_dir):
    # composition over the GOLDEN on both sides (rows==golden is
    # proven by front_matter; this isolates the pivot)
    g = spark.read.parquet(_GOLDEN_FM)
    return (g.groupBy("url")
            .agg(F.max(F.when(F.col("key") == "title",
                              F.col("value"))).alias("title"),
                 F.max(F.when(F.col("key") == "date",
                              F.col("value"))).alias("pub_date"),
                 F.sum(((F.col("key") == "tags")
                        & F.col("idx").isNotNull())
                       .cast("long")).alias("n_tags"),
                 F.bool_or(F.coalesce(
                     (F.col("key") == "draft")
                     & (F.col("value") == "true"),
                     F.lit(False))).alias("draft"))
            .orderBy("url"))
