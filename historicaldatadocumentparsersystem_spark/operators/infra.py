"""Distributed infrastructure-header mining (Alt-Svc / Server) —
Arrow passes around ``extractor/infrax.py`` plus a one-exchange
transport rollup.

Scale notes: both fan-outs are map-only 1->N mapInPandas passes
riding the capture scan (header columns only cross the Arrow
boundary); ``host_transport_profile`` adds exactly ONE host
exchange with map-side partial agg.

Pure twin: extractor/infrax.py; DuckDB twins: Alt-Svc re-derived
from the shared ITEM/DELTA/PORT regexes; Server is pure-fed VALUES
(nested parenthesis comments are not regular — documented
rows-from-parser oracle, refresh_targets precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractor import infrax
from ..flatmap import flat_map


def alt_svc_alternatives(df: DataFrame,
                         alt_col: str = "alt_svc",
                         url_col: str = "url") -> DataFrame:
    """(url, Alt-Svc value) -> one row per kept alternative (url,
    pos, proto, host, port, ma_s, persist). ``clear`` and absent
    headers emit nothing."""

    def rows_of(url, raw):
        d = infrax.parse_alt_svc(raw)
        if d is not None:
            for alt in d["alts"]:
                yield (url, *alt)

    return flat_map(df, [url_col, alt_col],
                    "url string, pos int, proto string, host string, "
                    "port bigint, ma_s bigint, persist boolean", rows_of)


def server_products(df: DataFrame, server_col: str = "server",
                    url_col: str = "url") -> DataFrame:
    """(url, Server value) -> one row per product token (url, pos,
    product, version)."""

    def rows_of(url, raw):
        for pos, product, ver in infrax.parse_server(raw):
            yield url, pos, product, ver

    return flat_map(df, [url_col, server_col],
                    "url string, pos int, product string, "
                    "version string", rows_of)


def host_transport_profile(alts: DataFrame) -> DataFrame:
    """Alternative rows -> per-host transport posture: h3/h2
    advertisement, alternative count, longest ma. ONE host
    exchange."""
    page_host = F.split(F.split("url", "://").getItem(1),
                        "/").getItem(0)
    return (alts
            .groupBy(page_host.alias("page_host"))
            .agg(F.count("*").cast("long").alias("n_alts"),
                 F.bool_or(F.col("proto").startswith("h3"))
                 .alias("advertises_h3"),
                 F.bool_or(F.col("proto") == "h2")
                 .alias("advertises_h2"),
                 F.max("ma_s").cast("long").alias("max_ma_s"),
                 F.bool_or(F.col("persist")).alias("any_persist")))
