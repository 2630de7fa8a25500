"""Charset diagnostics + mojibake repair over the documents table.

Spark wrapper over the Spark-free ``extractor/charsetx.py`` (the
correctness oracle — golden-parquet parity is structural, the
extract_links pattern). Reference analog: the reference's loaders
inherit requests/bs4 charset guessing implicitly
(``web_page_system.py`` loader path); here the policy is explicit,
deterministic and per-document observable.

Scale: map-only 1->1 mapInPandas over (url, html) — no shuffle; the
100 TB cost is one pass over payload bytes, and the diagnostic
columns are ~100s of bytes per row. Downstream gates are codegen'd
filters over the profile columns (``moji_hits_after = 0``,
``n_replacements = 0``), so re-crawl / quarantine routing never
touches the payload again.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd  # module-level: pandas_udf resolves the string
#                      annotations at decoration time (house rule)
from pyspark.sql import DataFrame
from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                               StructField, StructType)

from ..extractor import charsetx

ENCODING_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("charset", StringType(), False),
    StructField("source", StringType(), False),
    StructField("declared", StringType(), True),
    StructField("declared_ok", BooleanType(), True),
    StructField("utf8_valid", BooleanType(), False),
    StructField("n_replacements", IntegerType(), False),
    StructField("mojibake_passes", IntegerType(), False),
    StructField("moji_hits_before", IntegerType(), False),
    StructField("moji_hits_after", IntegerType(), False),
    StructField("text", StringType(), False),
])

_COLS = [f.name for f in ENCODING_SCHEMA.fields]


def encoding_profile_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one diagnostics row per non-empty
    payload: sniffed charset + signal source, declaration validity,
    strict-UTF-8 validity, replacement-char count, mojibake repair
    pass count and before/after detector hits, and the repaired text.
    Empty payloads yield no row (the extract_links contract);
    undecodable garbage degrades to a lossy-decode row, never fails
    the task (F5)."""
    import pandas as pd

    def batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for u, payload in zip(pdf["url"], pdf["html"]):
                if not payload:
                    continue
                prof = charsetx.encoding_profile(bytes(payload))
                rows.append((u, *(prof[c] for c in _COLS[1:])))
            yield pd.DataFrame(rows, columns=_COLS)

    return docs.select("url", "html").mapInPandas(batch, ENCODING_SCHEMA)


# committed parity sample (id, text): decomposed combining marks,
# canonical reordering, Hangul jamo, singleton composition (Angstrom),
# and NFKC-only forms that NFC must LEAVE ALONE — unioned with the
# (ASCII-only) documents table by the registered query so the
# normalizer is exercised cross-engine. \u escapes keep the source
# file ASCII and the decomposed forms visible.
NFC_SAMPLE_ROWS: tuple[tuple[int, str], ...] = (
    (2000000001, "e\u0301clair decomposed"),   # e + combining acute
    (2000000002, "cafe\u0301 au lait"),
    (2000000003, "\u1100\u1161\u11a8 jamo"),  # -> precomposed GAG
    (2000000004, "\u212b angstrom sign"),       # singleton -> U+00C5
    (2000000005, "x\u0301\u0328 reorder"),     # marks canonically swap
    (2000000006, "\ufb01le ligature stays"),    # NFKC-only: fi kept
    (2000000007, "\u00e9 already composed"),
    (2000000008, "plain ascii unchanged"),
)


def nfc_normalize_df(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Unicode NFC normalization: (id, text_nfc, changed) — the
    canonicalization pass dedup REQUIRES before any text hashing
    (U+00E9 and e+U+0301 render identically but hash differently;
    un-normalized corpora leak visually-exact duplicates through
    every exact-dedup key).

    PURE canonical composition with a ``changed`` observability flag
    — deliberately narrower than ``functions.nfc_clean`` (which also
    collapses whitespace and trims: a matching-key transform, not a
    content-preserving one; dedup keys want this pass, display/join
    keys want that one).

    Scale: Arrow-batched map-only pandas UDF over stdlib
    ``unicodedata.normalize`` — justified Python: the Unicode
    composition table IS the model, and there is no JVM builtin.
    Verified char-for-char against DuckDB's utf8proc
    ``nfc_normalize`` (both implement the same stable Unicode
    canonical composition; pinned by the oracle twin).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField

    # carry the id through AT ITS OWN TYPE — a string/url key must
    # not round-trip through cast('long') (it would silently null)
    id_type = df.schema[id_col].dataType
    schema = StructType([
        StructField(id_col, id_type, True),
        StructField("text_nfc", StringType(), True),
        StructField("changed", BooleanType(), False),
    ])

    def batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import unicodedata
        for pdf in it:
            src = pdf[text_col].fillna("")
            nfc = src.map(lambda t: unicodedata.normalize("NFC", t))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "text_nfc": nfc,
                "changed": nfc.ne(src),
            })

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batch, schema)
