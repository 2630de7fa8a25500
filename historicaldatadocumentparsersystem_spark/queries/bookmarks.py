"""Netscape bookmark files."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_BOOKMARKS = _fixture("golden_bookmarks_seed42_n12.parquet")


# --- Netscape bookmarks + Web App Manifest (curated-link and
# site-identity discovery channels) — bookmark rows golden-
# pinned; folder stats golden both sides; manifests pure-fed
# VALUES (spec display gate + icon ladder)
# bookmark rows: committed golden pinned by
# tests/test_bookmarks.py against the pure re-derivation
@query("bookmark_rows", oracle=lambda: f"""
            SELECT url, pos, folder, href, title, add_date,
                   last_modified, tags
            FROM read_parquet('{_GOLDEN_BOOKMARKS}')""")
def q_bookmark_rows(spark, sf_dir):
    df = _payload_df(spark, fixtures.bookmark_file_rows(12), 8)
    return sources.read_bookmarks(df)


@query("bookmark_folder_stats", oracle=lambda: f"""
            SELECT folder, count(*)::bigint AS n_links,
                   sum(CASE WHEN tags IS NOT NULL THEN 1 ELSE 0
                       END)::bigint AS n_tagged,
                   min(add_date) AS first_added,
                   count(DISTINCT url)::bigint AS n_exports
            FROM read_parquet('{_GOLDEN_BOOKMARKS}')
            GROUP BY folder ORDER BY folder""")
def q_bookmark_folders(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_BOOKMARKS)
    return (g.groupBy("folder")
            .agg(F.count(F.lit(1)).cast("long").alias("n_links"),
                 F.sum(F.col("tags").isNotNull().cast("long"))
                 .cast("long").alias("n_tagged"),
                 F.min("add_date").alias("first_added"),
                 F.countDistinct("url").cast("long")
                 .alias("n_exports"))
            .orderBy("folder"))
