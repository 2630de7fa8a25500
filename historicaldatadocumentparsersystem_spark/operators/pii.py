"""Distributed PII detection / redaction — JVM-side re-expression of
``extractor/piix.py``'s pattern constants as native
``regexp_extract_all`` / ``regexp_replace`` plans.

Scale notes: all three operators are MAP-ONLY — zero shuffles, zero
Python workers, whole-stage-codegen regex scans (the Luhn fold is an
interpreted higher-order expression, but it runs per CANDIDATE, not
per row, and candidates are rare).  At 100 TB this is the cheapest
possible shape: the scan cost IS the operator cost, and redaction
composes into any export plan without adding a stage.  pii_spans
explodes candidates in the same stage (explode-then-filter keeps the
validity predicate on a named column, structurally identical to the
DuckDB twin).

Pure-Python twin: extractor/piix.py (pytest pins Spark == pure on
the committed fixture corpus and on adversarial strings); DuckDB
twin: generated from the same constants in queries/quality.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extractor.piix import MASKS, PATTERNS, REDACT_ORDER


def _candidates(text: Column, kind: str) -> Column:
    """Raw regex candidates for one kind (array<string>)."""
    return F.regexp_extract_all(text, F.lit(PATTERNS[kind]), F.lit(0))


def _strip_non_digits(v: Column) -> Column:
    return F.regexp_replace(v, "[^0-9]", "")


def _luhn_ok(ds: Column) -> Column:
    """Luhn mod-10 over a digits-only column — an integer aggregate
    fold, bit-identical to piix.luhn_ok and the DuckDB list_sum
    twin."""
    n = F.length(ds)

    def step(acc: Column, i: Column) -> Column:
        d = F.substring(ds, i, F.lit(1)).cast("int")
        doubled = d * 2
        return acc + F.when(
            (n - i) % 2 == 1,
            F.when(doubled > 9, doubled - 9).otherwise(doubled),
        ).otherwise(d)

    return F.aggregate(F.sequence(F.lit(1), n), F.lit(0), step) % 10 == 0


def _validity(kind_col: Column, value: Column) -> Column:
    """The per-kind validity post-filter over named columns — the
    Spark twin of piix.is_valid."""
    ds = _strip_non_digits(value)
    return (
        F.when(kind_col == "email", F.lit(True))
        .when(kind_col == "ipv4",
              F.forall(F.split(value, "[.]"),
                       lambda o: o.cast("int") <= 255))
        .when(kind_col == "phone", F.length(ds).between(7, 15))
        .otherwise(_luhn_ok(ds))
    )


def pii_spans(df: DataFrame, text_col: str = "text",
              url_col: str = "url") -> DataFrame:
    """(url, kind, value) — one row per VALID match instance.

    Map-only: the four kind scans land in one projection as
    arrays-of-structs, a single explode flattens them, and validity
    filters the exploded rows in the same stage.  Duplicate values in
    one document produce duplicate rows (instance semantics), exactly
    like the unnest twin."""
    text = F.col(text_col)

    def _tag(kind: str):
        # factory, not a default-arg lambda: F.transform dispatches on
        # lambda arity, so a second parameter would be fed the index
        return lambda v: F.struct(F.lit(kind).alias("kind"),
                                  v.alias("value"))

    arrs = [F.transform(_candidates(text, kind), _tag(kind))
            for kind in sorted(PATTERNS)]
    return (
        df.select(F.col(url_col).alias("url"),
                  F.explode(F.concat(*arrs)).alias("s"))
        .select("url", F.col("s.kind").alias("kind"),
                F.col("s.value").alias("value"))
        .where(_validity(F.col("kind"), F.col("value")))
    )


def pii_profile(df: DataFrame, text_col: str = "text",
                url_col: str = "url") -> DataFrame:
    """Per-document VALID-instance counts by kind — one zero-shuffle
    projection (documents with no PII keep their row, counts 0;
    a spans-then-groupBy derivation would both shuffle and drop
    them)."""
    text = F.col(text_col)
    n_email = F.size(_candidates(text, "email"))
    n_ipv4 = F.size(F.filter(
        _candidates(text, "ipv4"),
        lambda v: F.forall(F.split(v, "[.]"),
                           lambda o: o.cast("int") <= 255)))
    n_phone = F.size(F.filter(
        _candidates(text, "phone"),
        lambda v: F.length(_strip_non_digits(v)).between(7, 15)))
    n_card = F.size(F.filter(
        F.transform(_candidates(text, "card"), _strip_non_digits),
        _luhn_ok))
    return df.select(
        F.col(url_col).alias("url"),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_card.cast("long").alias("n_cards"),
        (n_email + n_phone + n_ipv4 + n_card).cast("long")
        .alias("n_pii"),
    )


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Recall-oriented masking: every raw candidate of every kind is
    replaced, in piix.REDACT_ORDER, as a chained regexp_replace —
    map-only, composes into export plans without a stage."""
    col = F.col(text_col)
    for kind in REDACT_ORDER:
        col = F.regexp_replace(col, F.lit(PATTERNS[kind]),
                               F.lit(MASKS[kind]))
    return df.withColumn(out_col, col)
