"""Distributed scholarly-identifier mining — JVM-side re-expression
of ``extractor/idsx.py``'s pattern constants as native
``regexp_extract_all`` plans (DOI / arXiv / ISBN with checksums).

Scale notes: both operators are MAP-ONLY — zero shuffles, zero
Python workers; the regex scans run inside whole-stage codegen and
the ISBN checksum folds are interpreted higher-order expressions
that run per CANDIDATE, not per row (candidates are rare). At
100 TB the scan cost IS the operator cost, exactly like the PII
family (operators/pii.py), whose plan shape this mirrors.

Pure-Python twin: extractor/idsx.py (pytest pins Spark == pure on
the committed fixture corpus and adversarial strings); DuckDB twin:
generated from the same constants in queries/identifiers.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extractor.idsx import (ARXIV_PREFIX_RE, DOI_TRAIL_RE,
                              ISBN_PREFIX_RE, PATTERNS)


def _candidates(text: Column, kind: str) -> Column:
    return F.regexp_extract_all(text, F.lit(PATTERNS[kind]), F.lit(0))


def _normalize(kind_col: Column, value: Column) -> Column:
    """The per-kind normalization over named columns — the Spark twin
    of idsx.normalize."""
    return (
        F.when(kind_col == "doi",
               F.lower(F.regexp_replace(value, DOI_TRAIL_RE, "")))
        .when(kind_col == "arxiv_new",
              F.lower(F.regexp_replace(value, ARXIV_PREFIX_RE, "")))
        .when(kind_col == "isbn",
              F.upper(F.regexp_replace(
                  F.regexp_replace(value, ISBN_PREFIX_RE, ""),
                  "-", "")))
        .otherwise(value)
    )


def _isbn_digit(ds: Column, i: Column) -> Column:
    ch = F.substring(ds, i, F.lit(1))
    return F.when(ch == "X", F.lit(10)).otherwise(ch.cast("int"))


def _isbn10_ok(ds: Column) -> Column:
    """Mod-11 fold; X (=10) only legal in the last position — the
    position guard keeps bit-parity with idsx.isbn10_ok on
    adversarial strings, not just pattern-shaped ones."""
    total = F.aggregate(
        F.sequence(F.lit(1), F.lit(10)), F.lit(0),
        lambda acc, i: acc + (F.lit(11) - i) * _isbn_digit(ds, i))
    return (~F.substring(ds, 1, 9).contains("X")) & (total % 11 == 0)


def _isbn13_ok(ds: Column) -> Column:
    """EAN-13 mod-10 fold; bookland 978/979 prefix required."""
    total = F.aggregate(
        F.sequence(F.lit(1), F.lit(13)), F.lit(0),
        lambda acc, i: acc
        + F.when(i % 2 == 0, F.lit(3)).otherwise(F.lit(1))
        * _isbn_digit(ds, i))
    return ((~ds.contains("X"))
            & F.substring(ds, 1, 3).isin("978", "979")
            & (total % 10 == 0))


def _month(s: Column) -> Column:
    return F.substring(s, 3, 2).between("01", "12")


def _validity(kind_col: Column, ident: Column) -> Column:
    """Per-kind validity over the NORMALIZED id — the Spark twin of
    idsx.is_valid."""
    return (
        F.when(kind_col == "doi", F.lit(True))
        .when(kind_col == "arxiv_new", _month(ident))
        .when(kind_col == "arxiv_old",
              _month(F.substring_index(ident, "/", -1)))
        .otherwise(((F.length(ident) == 10) & _isbn10_ok(ident))
                   | ((F.length(ident) == 13) & _isbn13_ok(ident)))
    )


def ident_spans(df: DataFrame, text_col: str = "text",
                url_col: str = "url") -> DataFrame:
    """(url, kind, value, ident) — one row per VALID match instance
    (value = raw match, ident = normalized id).

    Map-only: the four kind scans land in one projection as
    arrays-of-structs, a single explode flattens them, normalization
    and validity filter the exploded rows in the same stage.
    Duplicate ids in one document produce duplicate rows (instance
    semantics), exactly like the unnest twin."""
    text = F.col(text_col)

    def _tag(kind: str):
        # factory, not a default-arg lambda (F.transform arity rule)
        return lambda v: F.struct(F.lit(kind).alias("kind"),
                                  v.alias("value"))

    arrs = [F.transform(_candidates(text, kind), _tag(kind))
            for kind in sorted(PATTERNS)]
    return (
        df.select(F.col(url_col).alias("url"),
                  F.explode(F.concat(*arrs)).alias("s"))
        .select("url", F.col("s.kind").alias("kind"),
                F.col("s.value").alias("value"))
        .withColumn("ident", _normalize(F.col("kind"), F.col("value")))
        .where((F.length("ident") > 0)
               & _validity(F.col("kind"), F.col("ident")))
    )


def ident_profile(df: DataFrame, text_col: str = "text",
                  url_col: str = "url") -> DataFrame:
    """Per-document VALID-instance counts by kind — one zero-shuffle
    projection (documents with no identifiers keep their row,
    counts 0; a spans-then-groupBy derivation would both shuffle and
    drop them)."""
    text = F.col(text_col)

    def _count(kind: str) -> Column:
        def ok(v: Column) -> Column:
            ident = _normalize(F.lit(kind), v)
            return (F.length(ident) > 0) \
                & _validity(F.lit(kind), ident)
        return F.size(F.filter(_candidates(text, kind), ok))

    n_doi = _count("doi")
    n_new = _count("arxiv_new")
    n_old = _count("arxiv_old")
    n_isbn = _count("isbn")
    return df.select(
        F.col(url_col).alias("url"),
        n_doi.cast("long").alias("n_doi"),
        n_new.cast("long").alias("n_arxiv_new"),
        n_old.cast("long").alias("n_arxiv_old"),
        n_isbn.cast("long").alias("n_isbn"),
        (n_doi + n_new + n_old + n_isbn).cast("long").alias("n_ids"))
