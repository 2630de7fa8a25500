"""Distributed security.txt mining (RFC 9116) — JVM-side
re-expression of ``extractor/sectxtx.py``'s grammar (the ads.txt /
PII triple cross-engine pattern: Python re / Java regex / RE2 share
every constant).

Scale notes: the field scan is a posexplode in the scan stage plus
ONE window on the url key (the set-based replacement for the pure
parser's stateful break at the PGP signature marker — min marker
line per url, filter before it). The gate adds one groupBy + one
left join back to the input so zero-field hosts keep their row
(the pii_profile rule). At 100 TB well-known bodies are tiny; the
url key is the natural partitioning.

Pure-Python twin: extractor/sectxtx.py; DuckDB twin: generated from
the same constants in queries/wellknown.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..extractor.sectxtx import FIELD_RE, FIELDS, SIG_MARKER, ZTS_RE


def securitytxt_fields(df: DataFrame, text_col: str = "text",
                       url_col: str = "url") -> DataFrame:
    """(url, line_no, field, value) — registry fields before any PGP
    signature block, field names lowercased."""
    raw = F.regexp_replace(F.col(text_col), "\r", "")
    lines = (df.select(F.col(url_col).alias("url"),
                       F.posexplode(F.split(raw, "\n"))
                       .alias("pos", "line"))
             .select("url", (F.col("pos") + 1).alias("line_no"),
                     "line"))
    w = Window.partitionBy("url")
    sig = F.min(F.when(F.col("line") == SIG_MARKER,
                       F.col("line_no"))).over(w)
    name = F.lower(F.regexp_extract("line", FIELD_RE, 1))
    value = F.regexp_extract("line", FIELD_RE, 2)
    return (lines.withColumn("_sig", sig)
            .where(F.col("_sig").isNull()
                   | (F.col("line_no") < F.col("_sig")))
            .select("url", "line_no", name.alias("field"),
                    value.alias("value"))
            .where(F.col("field").isin(*FIELDS)
                   & (F.col("value") != "")))


def securitytxt_gate(df: DataFrame, now_z: str,
                     text_col: str = "text",
                     url_col: str = "url") -> DataFrame:
    """Per-host hygiene gate: contact/field counts, first expiry,
    well_formed (contact AND expires present), expired (trusted
    Z-form expiry lexicographically <= ``now_z``; None otherwise).
    Hosts with zero fields keep their row."""
    fields = securitytxt_fields(df, text_col, url_col)
    exp_struct = F.min(F.when(
        F.col("field") == "expires",
        F.struct("line_no", "value")))
    agg = (fields.groupBy("url")
           .agg(F.sum((F.col("field") == "contact").cast("long"))
                .alias("n_contact"),
                F.count("*").cast("long").alias("n_fields"),
                exp_struct.alias("_e")))
    base = df.select(F.col(url_col).alias("url")).distinct()
    out = (base.join(agg, "url", "left")
           .select("url",
                   F.coalesce("n_contact", F.lit(0)).cast("long")
                   .alias("n_contact"),
                   F.coalesce("n_fields", F.lit(0)).cast("long")
                   .alias("n_fields"),
                   F.col("_e.value").alias("expires")))
    trusted = out["expires"].isNotNull() & out["expires"].rlike(ZTS_RE)
    return (out.withColumn(
                "well_formed",
                (F.col("n_contact") > 0)
                & F.col("expires").isNotNull())
            .withColumn(
                "expired",
                F.when(trusted, F.col("expires") <= F.lit(now_z))))
