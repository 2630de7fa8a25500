"""Distributed Set-Cookie privacy/tracking mining — an Arrow pass
around ``extractor/cookiex.py`` (RFC 6265 storage-model subset) plus
a one-exchange per-host privacy rollup.

Scale notes: ``cookie_table`` is a map-only 1->0/1 mapInPandas pass
(no shuffle); headers are a few hundred bytes per capture so the
pass rides the capture scan, and selecting only the header columns
keeps everything else out of the Arrow transfer.
``cookie_privacy_profile`` adds exactly ONE exchange on the host key
(map-side partial agg; host cardinality is tiny next to captures).

Pure twin: extractor/cookiex.py; DuckDB twin: generated from the
same regex constants (queries/cookies.py) + the shared IMF date-math
CTE (queries/__init__.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractor import cookiex

_TABLE_SCHEMA = ("url string, seq bigint, name string, value string, "
                 "domain string, path string, secure boolean, "
                 "httponly boolean, samesite string, "
                 "persistent boolean, expires_epoch bigint, "
                 "ttl_s bigint")

# privacy thresholds (integer seconds — shared with the DuckDB twin)
LONG_LIVED_S = 180 * 86400
TRACKER_MIN_S = 30 * 86400


def cookie_table(df: DataFrame, cookie_col: str = "set_cookie",
                 url_col: str = "url", seq_col: str = "seq",
                 epoch_col: str = "fetched_epoch") -> DataFrame:
    """(url, seq, fetched_epoch, Set-Cookie value) -> one storage-
    model row per VALID header (ignored headers drop): attributes,
    flags, Max-Age-over-Expires persistence (RFC 6265 §5.3) and the
    resolved ttl relative to the fetch."""

    def run(batches: Iterator) -> Iterator:
        for b in batches:
            rows = []
            for url, seq, fe, raw in zip(
                    b[url_col], b[seq_col], b[epoch_col],
                    b[cookie_col]):
                c = cookiex.parse_set_cookie(raw)
                if c is None:
                    continue
                persistent, exp = cookiex.cookie_expiry(
                    c["max_age"], c["expires_epoch"], fe)
                rows.append((url, seq, c["name"], c["value"],
                             c["domain"], c["path"], c["secure"],
                             c["httponly"], c["samesite"],
                             persistent, exp,
                             None if exp is None else exp - fe))
            out = pd.DataFrame(rows, columns=[
                "url", "seq", "name", "value", "domain", "path",
                "secure", "httponly", "samesite", "persistent",
                "expires_epoch", "ttl_s"])
            for c in ("seq", "expires_epoch", "ttl_s"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(url_col, seq_col, epoch_col, cookie_col)
            .mapInPandas(run, _TABLE_SCHEMA))


def cookie_privacy_profile(cookies: DataFrame) -> DataFrame:
    """Cookie rows -> per-host privacy posture: persistence split,
    Secure/HttpOnly hygiene, SameSite=None exposure, long-lived
    count + max ttl, and the tracker-like gate (a persistent
    SameSite=None cookie living >= 30 days). ONE host exchange;
    integer thresholds only."""
    host = F.split(F.split("url", "://").getItem(1), "/").getItem(0)
    pers = F.col("persistent")
    long_lived = pers & (F.col("ttl_s") >= F.lit(LONG_LIVED_S))
    tracker = (pers & (F.col("samesite") == "none")
               & (F.col("ttl_s") >= F.lit(TRACKER_MIN_S)))
    return (cookies
            .groupBy(host.alias("host"))
            .agg(F.count("*").cast("long").alias("n_cookies"),
                 F.sum(pers.cast("long")).alias("n_persistent"),
                 F.sum(F.col("secure").cast("long"))
                 .alias("n_secure"),
                 F.sum(F.col("httponly").cast("long"))
                 .alias("n_httponly"),
                 F.sum((F.col("samesite") == "none").cast("long"))
                 .alias("n_samesite_none"),
                 F.sum(long_lived.cast("long"))
                 .alias("n_long_lived"),
                 F.max(F.when(pers, F.col("ttl_s")))
                 .cast("long").alias("max_ttl_s"),
                 # coalesce: a NULL samesite must read "not a
                 # tracker", not poison the bool_or
                 F.bool_or(F.coalesce(tracker, F.lit(False)))
                 .alias("tracker_like")))
