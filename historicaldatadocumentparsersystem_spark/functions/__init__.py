"""Column-expression helpers: the reference's scalar-function surface
(SURVEY.md §2.7) re-expressed as built-in pyspark.sql.functions — all
JVM-side, whole-stage-codegen friendly. No Python UDFs here.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 (resolves pandas_udf type hints)
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- training-data pipeline scalars (round 2) -------------------------------

def hash_unit(col, seed: int = 42) -> Column:
    """Deterministic uniform [0, 1) from an id column: first 8 md5 hex
    chars as a 32-bit int / 2^32. Portable — DuckDB reproduces it via
    cast('0x' || substr(md5(...), 1, 8) AS bigint) / 4294967296."""
    h = F.substring(F.md5(F.concat(F.lit(f"{seed}:"),
                                   _c(col).cast("string"))), 1, 8)
    return F.conv(h, 16, 10).cast("long") / F.lit(float(2 ** 32))


def hash_split(col, weights: dict[str, float] | None = None,
               seed: int = 42) -> Column:
    """Deterministic train/val/test assignment by id hash (the standard
    leakage-safe split for training corpora: membership depends only on
    the id, never on partitioning, sampling order, or cluster size).

    ``weights`` maps split name -> fraction; assignment is by
    cumulative-threshold cascade over :func:`hash_unit`.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    u = hash_unit(col, seed)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        branch = F.when(u < F.lit(cum), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(cum),
                                                    F.lit(name))
    return (expr.otherwise(F.lit(names[-1])) if expr is not None
            else F.lit(names[-1]))


# PII scrub patterns (training-data hygiene). RE2/Java-common subset
# only — no lookaround — so the DuckDB oracle runs the same regexes.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\+?\d[\d()./\s-]{7,}\d", "[PHONE]"),
]


def redact_pii(col) -> Column:
    """Chained global regexp_replace of email / IPv4 / phone-like
    spans, in PII_PATTERNS order (IP before phone: a dotted quad also
    matches the phone shape)."""
    out = _c(col)
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# --- unicode text normalization (web-corpus cleaning) ------------------------

# explicit whitespace class shared with the DuckDB oracle: RE2's \s is
# ASCII-only while Python's is unicode-aware, so BOTH sides use this
# literal class instead (covers NBSP, ogham, en/em spaces, line/para
# separators, narrow nbsp, math space, ideographic space)
UNICODE_WS = ("[ \t\n\r\f\v\u00a0\u1680\u2000-\u200a"
              "\u2028\u2029\u202f\u205f\u3000]")


def nfc_clean(col) -> Column:
    """NFC-normalize + collapse unicode whitespace + trim. The ONE
    scalar with no JVM built-in (Spark has no unicode normalizer), so
    it is an Arrow-batched pandas UDF over C-level ``unicodedata`` —
    documented slow path, still vectorized at the transfer layer."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _udf(s: pd.Series) -> pd.Series:
        import re
        import unicodedata
        ws = re.compile(UNICODE_WS + "+")
        return s.map(lambda t: None if t is None else ws.sub(
            " ", unicodedata.normalize("NFC", t)).strip())
    return _udf(_c(col))


def ascii_fold(col) -> Column:
    """Accent-strip + lowercase (matching/join keys): NFD, drop
    combining marks, lower — DuckDB twin: lower(strip_accents(x))."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _udf(s: pd.Series) -> pd.Series:
        import unicodedata

        def fold(t):
            if t is None:
                return None
            d = unicodedata.normalize("NFD", t)
            return "".join(c for c in d
                           if not unicodedata.combining(c)).lower()
        return s.map(fold)
    return _udf(_c(col))


# --- mojibake repair (ftfy-style, conservative) ------------------------------

# The pure repair/corrupt engine lives in extractor/charsetx.py (the
# Spark-free charset diagnostics family — one implementation, one
# oracle); these re-exports keep the historical functions surface.
from ..extractor.charsetx import (fix_mojibake_str,  # noqa: F401
                                  mojibake_corrupt_str)


def fix_mojibake(col) -> Column:
    """Arrow-batched pandas UDF over :func:`fix_mojibake_str` (encoding
    surgery has no JVM builtin; the hint pre-filter makes the common
    clean-text row a tuple-scan, not an encode)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(lambda t: None if t is None else fix_mojibake_str(t))
    return _udf(_c(col))


def mojibake_corrupt(col) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None if t is None else mojibake_corrupt_str(t))
    return _udf(_c(col))


def surt_urlkey(col) -> Column:
    """SURT urlkey (the CDX index sort key) as a pure column
    expression — the codegen twin of ``extractor.cdxx.surt_key``:
    fragment dropped, scheme and userinfo stripped, host lowercased,
    leading ``www.`` and default ports (80/443) stripped, host labels
    reversed and comma-joined, ``)`` + path (``/`` when empty), query
    params sorted lexicographically. Hostless inputs degrade to ''.

    Assumes scheme-ful absolute urls (CDX ``url`` fields always are);
    the pytest A/B pins expression == ``cdxx.surt_key`` over the
    supported shapes. All regexp/array builtins — no UDF, no shuffle.
    """
    u = F.regexp_replace(F.trim(_c(col)), r"#.*$", "")
    has_scheme = u.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    u = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    u = F.regexp_replace(u, r"^[^/@?]*@", "")
    hostport = F.lower(F.regexp_extract(u, r"^[^/?]*", 0))
    rest = F.regexp_extract(u, r"^[^/?]*([/?].*)$", 1)
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(hostport, r":\d+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    portpart = F.when(
        (port != "") & ~port.isin("80", "443"),
        F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    qpart = F.when(
        query != "",
        F.concat(F.lit("?"),
                 F.array_join(F.array_sort(F.split(query, "&")), "&"))
    ).otherwise(F.lit(""))
    return F.when(~has_scheme | (host == ""), F.lit("")).otherwise(
        F.concat(revhost, portpart, F.lit(")"), path, qpart))
