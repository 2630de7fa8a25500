"""Crawl frontier: discovered urls anti-joined against captured
urlkeys, with sitemap hints (changefreq, priority) mapped to fetch
priority."""

from historicaldatadocumentparsersystem_spark.extractor import cdxx
from historicaldatadocumentparsersystem_spark.operators import webtext


def test_frontier_candidates_anti_join_and_priority(spark):
    captured = spark.createDataFrame(
        [(cdxx.surt_key("https://www.site.com/p0?a=1&b=0"),),
         (cdxx.surt_key("https://site.com/p2"),)],
        "urlkey string")
    disc = spark.createDataFrame(
        [  # same page as captured p0 despite www/order differences
           ("https://site.com/p0?b=0&a=1", "daily", None),
           ("https://site.com/new-hot", "hourly", None),
           ("https://site.com/new-pri", None, 8000),
           ("https://site.com/new-norm", "yearly", None),
           ("https://site.com/new-low", None, None)],
        "loc string, changefreq string, priority_bp int")
    got = {r["url"]: r["priority"]
           for r in webtext.frontier_candidates(disc, captured).collect()}
    assert got == {"https://site.com/new-hot": "high",
                   "https://site.com/new-pri": "high",
                   "https://site.com/new-norm": "normal",
                   "https://site.com/new-low": "low"}


def test_frontier_candidates_defaults_without_hint_columns(spark):
    disc = spark.createDataFrame(
        [("https://x.io/a",)], "url string")
    captured = spark.createDataFrame([("never",)], "urlkey string")
    (row,) = webtext.frontier_candidates(
        disc, captured, url_col="url").collect()
    assert (row["priority"], row["changefreq"], row["priority_bp"]) == \
        ("low", None, None)
