"""Distributed security-header posture mining — an Arrow pass
around ``extractor/sechdrx.py`` plus dual-engine scoring.

Scale notes: ``security_headers`` and ``csp_directives`` are
map-only mapInPandas passes (1->1 and 1->N, no shuffle) riding the
capture scan; ``host_security_posture`` scores each capture with
JVM built-ins (codegen — the CASE chain is shared verbatim with the
DuckDB twin) and adds exactly ONE host exchange.

Pure twin: extractor/sechdrx.py; DuckDB twin: generated from the
same regex/token constants in queries/security_headers.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractor import sechdrx
from ..flatmap import flat_map

HEADER_COLS = ("hsts", "csp", "referrer_policy", "x_frame_options")

_SEC_SCHEMA = ("url string, hsts_valid boolean, "
               "hsts_max_age bigint, hsts_subdomains boolean, "
               "hsts_preload boolean, csp_present boolean, "
               "csp_n_directives bigint, csp_default_src boolean, "
               "csp_unsafe_inline boolean, csp_unsafe_eval boolean, "
               "csp_frame_ancestors boolean, frame_policy string, "
               "referrer_policy string")

# one-year HSTS is the preload-list bar (integer seconds, shared
# with the DuckDB twin)
HSTS_YEAR_S = 31536000


def security_headers(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Header columns (``HEADER_COLS``) -> one posture row per
    capture: HSTS validity + fields, CSP shape flags (default-src,
    unsafe-inline/eval, frame-ancestors), the frame policy, and the
    resolved referrer policy."""

    def run(batches: Iterator) -> Iterator:
        for b in batches:
            rows = []
            for url, hs, cs, rp, xf in zip(
                    b[url_col], *(b[c] for c in HEADER_COLS)):
                h = sechdrx.parse_hsts(hs)
                d = sechdrx.parse_csp(cs)
                srcs = [t.lower() for _, _, toks in d for t in toks]
                names = {name for _, name, _ in d}
                rows.append((
                    url,
                    None if h is None else h["valid"],
                    None if h is None else h["max_age"],
                    False if h is None else h["include_subdomains"],
                    False if h is None else h["preload"],
                    cs is not None,
                    len(d),
                    "default-src" in names,
                    "'unsafe-inline'" in srcs,
                    "'unsafe-eval'" in srcs,
                    "frame-ancestors" in names,
                    sechdrx.parse_xfo(xf),
                    sechdrx.parse_referrer_policy(rp)))
            out = pd.DataFrame(rows, columns=[
                "url", "hsts_valid", "hsts_max_age",
                "hsts_subdomains", "hsts_preload", "csp_present",
                "csp_n_directives", "csp_default_src",
                "csp_unsafe_inline", "csp_unsafe_eval",
                "csp_frame_ancestors", "frame_policy",
                "referrer_policy"])
            for c in ("hsts_max_age", "csp_n_directives"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(url_col, *HEADER_COLS)
            .mapInPandas(run, _SEC_SCHEMA))


def csp_directives(df: DataFrame, csp_col: str = "csp",
                   url_col: str = "url") -> DataFrame:
    """(url, CSP value) -> one row per KEPT directive (first
    occurrence wins): (url, pos, directive, sources) with sources
    space-joined ('' for a bare directive)."""

    def rows_of(url, raw):
        for pos, name, toks in sechdrx.parse_csp(raw):
            yield url, pos, name, " ".join(toks)

    return flat_map(df, [url_col, csp_col],
                    "url string, pos bigint, directive string, "
                    "sources string", rows_of)


def _score() -> F.Column:
    """Per-capture integer posture score (max 9) — F.when chain ==
    the generated DuckDB CASE chain term by term."""
    hsts = F.coalesce(F.col("hsts_valid"), F.lit(False))
    csp = F.col("csp_present")
    frame_ok = (F.col("frame_policy").isin("deny", "sameorigin")
                | F.col("csp_frame_ancestors"))
    strict_rp = F.col("referrer_policy").isin(
        *sechdrx.STRICT_REFERRER)
    pt = lambda c: F.when(c, 1).otherwise(0)
    return (pt(hsts) * 2
            + pt(hsts & F.col("hsts_subdomains"))
            + pt(hsts & (F.col("hsts_max_age") >= HSTS_YEAR_S))
            + pt(csp) * 2
            + pt(csp & ~F.col("csp_unsafe_inline"))
            + pt(F.coalesce(frame_ok, F.lit(False)))
            + pt(F.coalesce(strict_rp, F.lit(False))))


def host_security_posture(sec: DataFrame) -> DataFrame:
    """Posture rows -> per-host rollup: capture counts, HSTS/CSP
    adoption, best per-capture score and its letter grade. ONE host
    exchange; all integer math."""
    host = F.split(F.split("url", "://").getItem(1), "/").getItem(0)
    best = F.max(_score().cast("long"))
    grade = (F.when(best >= 7, "A").when(best >= 5, "B")
             .when(best >= 3, "C").when(best >= 1, "D")
             .otherwise("F"))
    return (sec
            .groupBy(host.alias("host"))
            .agg(F.count("*").cast("long").alias("n_captures"),
                 F.sum(F.coalesce(F.col("hsts_valid"),
                                  F.lit(False)).cast("long"))
                 .alias("n_hsts_valid"),
                 F.sum(F.col("csp_present").cast("long"))
                 .alias("n_csp"),
                 best.alias("best_score"),
                 grade.alias("grade")))
