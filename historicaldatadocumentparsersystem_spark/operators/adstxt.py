"""Distributed ads.txt / app-ads.txt mining — JVM-side re-expression
of ``extractor/adsx.py``'s grammar as native split/transform plans
(the PII-family triple cross-engine pattern: Python re / Java regex
/ RE2 share every constant).

Scale notes: all three operators are MAP-ONLY until the optional
final aggregation — the line fan-out is a posexplode in the same
stage as the scan, field parsing is whole-stage-codegen string ops,
and nothing shuffles except ``adstxt_host_profile``'s one groupBy on
the url key (its natural reduction). At 100 TB of well-known
fetches the scan cost IS the operator cost.

Pure-Python twin: extractor/adsx.py (pytest pins Spark == pure on
the committed fixture corpus); DuckDB twin: generated from the same
constants in queries/wellknown.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractor.adsx import COMMENT_RE, RELATIONSHIPS, TRIM_RE


def _lines(df: DataFrame, text_col: str, url_col: str) -> DataFrame:
    """(url, line_no, line) — physical 1-based line numbers with
    comments stripped and fields-level trim applied."""
    raw = F.regexp_replace(F.col(text_col), "\r", "")
    return (df.select(F.col(url_col).alias("url"),
                      F.posexplode(F.split(raw, "\n"))
                      .alias("pos", "raw"))
            .select("url", (F.col("pos") + 1).alias("line_no"),
                    F.regexp_replace(
                        F.regexp_replace("raw", COMMENT_RE, ""),
                        TRIM_RE, "").alias("line")))


def adstxt_records(df: DataFrame, text_col: str = "text",
                   url_col: str = "url") -> DataFrame:
    """(url, line_no, ad_domain, publisher_id, relationship,
    cert_id) — one row per well-formed seller record (DIRECT /
    RESELLER only, per spec)."""
    lines = _lines(df, text_col, url_col).where(
        (F.col("line") != "")
        & ~(~F.col("line").contains(",") & F.col("line").contains("=")))
    fields = F.transform(
        F.split(F.col("line"), ","),
        lambda f: F.regexp_replace(f, TRIM_RE, ""))
    return (lines.withColumn("f", fields)
            .where((F.size("f") >= 3)
                   & (F.element_at("f", 1) != "")
                   & (F.element_at("f", 2) != ""))
            .select("url", "line_no",
                    F.lower(F.element_at("f", 1)).alias("ad_domain"),
                    F.element_at("f", 2).alias("publisher_id"),
                    F.upper(F.element_at("f", 3)).alias("relationship"),
                    F.when((F.size("f") > 3)
                           & (F.element_at("f", 4) != ""),
                           F.element_at("f", 4)).alias("cert_id"))
            .where(F.col("relationship").isin(*RELATIONSHIPS)))


def adstxt_variables(df: DataFrame, text_col: str = "text",
                     url_col: str = "url") -> DataFrame:
    """(url, line_no, name, value) — variable records
    (CONTACT=..., SUBDOMAIN=..., any NAME=value line without a
    comma), names uppercased."""
    lines = _lines(df, text_col, url_col).where(
        (F.col("line") != "")
        & ~F.col("line").contains(",") & F.col("line").contains("="))
    name = F.regexp_replace(
        F.substring_index("line", "=", 1), TRIM_RE, "")
    value = F.regexp_replace(
        F.expr("substring(line, instr(line, '=') + 1)"),
        TRIM_RE, "")
    return (lines.select("url", "line_no",
                         F.upper(name).alias("name"),
                         value.alias("value"))
            .where((F.col("name") != "") & (F.col("value") != "")))


def adstxt_host_profile(df: DataFrame, text_col: str = "text",
                        url_col: str = "url") -> DataFrame:
    """Per-host seller profile: DIRECT/RESELLER counts and distinct
    ad systems — the host-reputation feature vector. One groupBy on
    the url key (hosts with zero well-formed records drop, in both
    engines)."""
    recs = adstxt_records(df, text_col, url_col)
    return (recs.groupBy("url")
            .agg(F.count("*").cast("long").alias("n_records"),
                 F.sum((F.col("relationship") == "DIRECT")
                       .cast("long")).cast("long").alias("n_direct"),
                 F.sum((F.col("relationship") == "RESELLER")
                       .cast("long")).cast("long")
                 .alias("n_reseller"),
                 F.countDistinct("ad_domain").cast("long")
                 .alias("n_ad_systems"),
                 F.sum(F.col("cert_id").isNotNull().cast("long"))
                 .cast("long").alias("n_certified")))
