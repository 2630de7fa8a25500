"""MediaWiki wikitext and export dumps."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..operators import chunking
from . import _fixture, _payload_df, _section_sql, query


_GOLDEN_WIKITEXT = _fixture("golden_wikitext_elements_seed42_n40.parquet")
_GOLDEN_WIKILINKS = _fixture("golden_wiki_links_seed42_n40.parquet")
_GOLDEN_WIKIDUMP = _fixture("golden_wiki_dump_seed42_n12.parquet")


# --- MediaWiki wikitext source — elements in the SHARED
# office/outline schema (hash-checked against the committed golden,
# pinned by tests/test_wikitext.py against the pure re-derivation)
# wikitext elements/links: committed goldens pinned by
# tests/test_wikitext.py against the pure re-derivation
@query("wikitext_elements", oracle=lambda: f"""
            SELECT url, para, kind, level, text
            FROM read_parquet('{_GOLDEN_WIKITEXT}')
            ORDER BY url, para""")
def q_wikitext(spark, sf_dir):
    pages = fixtures.wikitext_rows(40)
    df = spark.createDataFrame(
        [(r["url"], r["wikitext"]) for r in pages],
        "url string, wikitext string").repartition(8)
    return (sources.read_wikitext_elements(df)
            .orderBy("url", "para"))


# --- internal wiki links (File:/Category:/table/template/ref
# positions excluded — they do not render as article links)
@query("wiki_page_links", oracle=lambda: f"""
            SELECT url, pos, target, label
            FROM read_parquet('{_GOLDEN_WIKILINKS}')
            ORDER BY url, pos""")
def q_wiki_links(spark, sf_dir):
    pages = fixtures.wikitext_rows(40)
    df = spark.createDataFrame(
        [(r["url"], r["wikitext"]) for r in pages],
        "url string, wikitext string").repartition(8)
    return sources.read_wiki_links(df).orderBy("url", "pos")


# --- the SAME section operator over the wikitext elements golden
# — wiki pages section exactly like office documents and web pages
# the shared section operator over the wikitext golden
@query("wikitext_sections", oracle=lambda: _section_sql(
    f"SELECT * FROM read_parquet('{_GOLDEN_WIKITEXT}')"))
def q_wiki_sections(spark, sf_dir):
    els = spark.read.parquet(_GOLDEN_WIKITEXT)
    return chunking.section_chunks(els).orderBy("url", "section_idx")


# --- MediaWiki export-dump container (the shape Wikipedia ships)
# — hash-checked against the committed golden (pinned by
# tests/test_wikitext.py against the pure re-derivation)
# wiki dump pages / tar members / tar->latex composition:
# committed goldens pinned by tests against the pure
# re-derivations
@query("wiki_dump_pages", oracle=lambda: f"""
            SELECT url, page_idx, title, ns, page_id, redirect,
                   wikitext
            FROM read_parquet('{_GOLDEN_WIKIDUMP}')
            ORDER BY url, page_idx""")
def q_wiki_dump(spark, sf_dir):
    df = _payload_df(spark, fixtures.wiki_dump_rows(12), 4)
    return sources.read_wiki_dump(df).orderBy("url", "page_idx")


# --- redirect resolution within a dump — golden in, real joins
# per engine
# redirect resolution: golden in, real joins per engine
@query("wiki_redirects", oracle=lambda: f"""
            WITH p AS (SELECT * FROM read_parquet('{_GOLDEN_WIKIDUMP}'))
            SELECT r.url AS url, r.title AS from_title,
                   r.redirect AS to_title, t.page_id AS to_page_id,
                   t.page_id IS NOT NULL AS resolved
            FROM p r LEFT JOIN p t
              ON t.url = r.url AND t.title = r.redirect
            WHERE r.redirect != ''
            ORDER BY url, from_title""")
def q_wiki_redirects(spark, sf_dir):
    pages = spark.read.parquet(_GOLDEN_WIKIDUMP)
    reds = pages.where(F.col("redirect") != "")
    return (reds.alias("r")
            .join(pages.alias("t"),
                  (F.col("t.url") == F.col("r.url"))
                  & (F.col("t.title") == F.col("r.redirect")),
                  "left")
            .select(F.col("r.url").alias("url"),
                    F.col("r.title").alias("from_title"),
                    F.col("r.redirect").alias("to_title"),
                    F.col("t.page_id").alias("to_page_id"),
                    F.col("t.page_id").isNotNull()
                    .alias("resolved"))
            .orderBy("url", "from_title"))
