"""robots.txt compliance filter over a crawled corpus.

A curation pipeline re-checks archived captures against robots rules
(rules change; polite republication honors the current ones). This is
the corpus-level operator: a per-host rule table (host, rule, prefix)
joined to the documents, longest-prefix-match wins — the RFC 9309
resolution order — expressed entirely in JVM column operations so the
DuckDB twin is exact.

Two layers:
- ``parse_crawl_delay``: Spark-free parser for a robots.txt group's
  Crawl-delay (most-specific agent group wins, '*' fallback);
- ``robots_filter``: documents x rule table -> allowed/blocked, via
  host equi-join + path-prefix match + longest-match window over the
  (bounded: rules per host) matched set.

Scale: the rule table is |hosts| x rules rows — small relative to the
corpus; broadcast when it fits, shuffle equi-join on host otherwise.
The window partitions by document (bounded by matching rules per
host), never by host alone. Empty/missing rule set for a host =>
allowed (RFC default).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .webtext import url_host


def _parse_groups(payload: bytes | str) -> tuple[set[str], dict[str, int]]:
    """robots.txt group walk: the agents that head a group, plus
    per-agent Crawl-delay in MILLISECONDS (parsed host-side in Python —
    no cross-engine float math ever touches it; last directive in a
    group wins, invalid values ignored). An Allow/Disallow line only
    closes the group's agent list."""
    if isinstance(payload, (bytes, bytearray, memoryview)):
        text = bytes(payload).decode("utf-8", errors="replace")
    else:
        text = payload or ""
    agents: set[str] = set()
    delays: dict[str, int] = {}
    current: list[str] = []
    seen_rule = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, val = line.split(":", 1)
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if seen_rule:
                current = []
                seen_rule = False
            current.append(val.lower())
            agents.update(current)
        elif key in ("allow", "disallow"):
            seen_rule = True
        elif key == "crawl-delay":
            seen_rule = True
            try:
                ms = int(float(val) * 1000)
            except ValueError:
                continue
            if ms >= 0:
                for a in current:
                    delays[a] = ms
    return agents, delays


def parse_crawl_delay(payload: bytes | str, agent: str = "*"
                      ) -> int | None:
    """The selected group's Crawl-delay in milliseconds (RFC 9309
    group selection: the agent's own group, else '*'),
    or None when the group declares none. Non-standard but widely
    published; a polite recrawler honors it when present."""
    agents, delays = _parse_groups(payload)
    a = agent.lower()
    chosen = a if a in agents else "*"
    return delays.get(chosen)


def robots_filter(docs: DataFrame, rules: DataFrame,
                  url_col: str = "url",
                  broadcast_rules: bool = True) -> DataFrame:
    """docs + (host, rule, prefix) table -> docs columns + ``allowed``.

    Longest-prefix-match: among rules of the url's host whose prefix
    starts the url path, the longest prefix decides (allow on ties —
    RFC 9309 ties favor allow); no matching rule or unknown host =>
    allowed = 1. Returns (url, host, path, allowed int).
    """
    r = F.broadcast(rules) if broadcast_rules else rules
    path = F.coalesce(
        F.nullif(F.regexp_extract(F.col(url_col),
                                  r"^[a-z]+://[^/?#]+(/[^#]*)", 1),
                 F.lit("")),
        F.lit("/"))
    d = docs.select(F.col(url_col).alias("url"),
                    url_host(url_col).alias("host"),
                    path.alias("path"))
    m = (d.join(r, "host", "left")
         .withColumn("hit", F.col("prefix").isNotNull()
                     & F.startswith(F.col("path"), F.col("prefix"))))
    w = Window.partitionBy("url", "path").orderBy(
        F.desc(F.when(F.col("hit"), F.length("prefix")).otherwise(-1)),
        F.asc(F.when(F.col("rule") == "allow", 0).otherwise(1)))
    return (m.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("url", "host", "path",
                    F.when(F.col("hit") & (F.col("rule") == "disallow"),
                           F.lit(0)).otherwise(F.lit(1))
                    .cast("long").alias("allowed")))
