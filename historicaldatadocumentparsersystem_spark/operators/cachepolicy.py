"""Distributed recrawl-economics mining over response headers —
Arrow passes around ``extractor/cachex.py`` (RFC 9111 subset).

Scale notes: both ops are map-only 1->N / 1->1 mapInPandas passes —
no shuffle at all; the bucket rollup adds ONE groupBy on the bucket
key (tiny cardinality, map-side partial agg). At 100 TB the header
columns are a few hundred bytes per capture, so these ride the same
scan as any capture-view query; predicate pushdown keeps untouched
columns out of the Arrow transfer (select the header columns only).

Pure-Python twin: extractor/cachex.py; DuckDB twin: generated from
the same regex/formula constants in queries/cache_policy.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..extractor import cachex
from ..flatmap import flat_map

HEADER_COLS = ("cache_control", "hdr_age", "hdr_date", "hdr_expires",
               "hdr_last_modified", "hdr_etag")

_POLICY_SCHEMA = ("url string, no_store boolean, no_cache boolean, "
                  "private boolean, immutable boolean, "
                  "must_revalidate boolean, age_s bigint, "
                  "ttl_s bigint, ttl_source string, "
                  "fresh_for_s bigint, has_etag boolean, "
                  "etag_weak boolean, has_last_modified boolean")


def cache_directives(df: DataFrame, cc_col: str = "cache_control",
                     url_col: str = "url") -> DataFrame:
    """(url, Cache-Control value) -> one row per parsed directive
    (url, pos, directive, arg). Malformed items drop (F5)."""

    def rows_of(url, raw):
        for pos, name, arg in cachex.parse_cache_control(raw):
            yield url, pos, name, arg

    return flat_map(df, [url_col, cc_col],
                    "url string, pos int, directive string, arg string",
                    rows_of)


def cache_policy_table(df: DataFrame, url_col: str = "url",
                       keep_cols: dict | None = None) -> DataFrame:
    """Header columns (``HEADER_COLS``) -> one freshness-policy row
    per capture: flags, age, ttl + its source, fresh_for_s, and the
    validator surface (ETag / Last-Modified) a conditional-GET
    scheduler needs. ``keep_cols`` ({name: spark_type}) ride through
    the same Arrow pass — no join-back (the script_lang_consistency
    precedent)."""
    keeps = dict(keep_cols or {})

    def run(batches: Iterator) -> Iterator:
        for b in batches:
            rows = []
            for t in zip(b[url_col], *(b[c] for c in keeps),
                         *(b[c] for c in HEADER_COLS)):
                url, kv, hdrs = t[0], t[1:1 + len(keeps)], \
                    t[1 + len(keeps):]
                p = cachex.cache_policy(*(None if v is None else v
                                          for v in hdrs))
                p["url"] = url
                for c, v in zip(keeps, kv):
                    p[c] = v
                rows.append(p)
            out = pd.DataFrame(rows, columns=[
                "url", *keeps, "no_store", "no_cache", "private",
                "immutable", "must_revalidate", "age_s", "ttl_s",
                "ttl_source", "fresh_for_s", "has_etag",
                "etag_weak", "has_last_modified"])
            for c in ("age_s", "ttl_s", "fresh_for_s"):
                out[c] = pd.array(out[c], dtype="Int64")
            for c, typ in keeps.items():
                if "int" in typ:
                    out[c] = pd.array(out[c], dtype="Int64")
            yield out

    keep_schema = "".join(f"{c} {t}, " for c, t in keeps.items())
    schema = _POLICY_SCHEMA.replace("url string, ",
                                    f"url string, {keep_schema}")
    return (df.select(url_col, *keeps, *HEADER_COLS)
            .mapInPandas(run, schema))


def revisit_buckets(policy: DataFrame) -> DataFrame:
    """Policy rows -> scheduler buckets: revalidate-every-fetch
    (no-store/no-cache), unknown (no freshness basis), then
    hour/day/week/long by fresh_for_s. One tiny groupBy."""
    bucket = (F.when(F.col("no_store") | F.col("no_cache"),
                     "revalidate")
              .when(F.col("fresh_for_s").isNull(), "unknown")
              .when(F.col("fresh_for_s") < 3600, "hour")
              .when(F.col("fresh_for_s") < 86400, "day")
              .when(F.col("fresh_for_s") < 604800, "week")
              .otherwise("long"))
    return (policy.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.col("has_etag").cast("long"))
                 .alias("n_etag"),
                 F.sum(F.col("must_revalidate").cast("long"))
                 .alias("n_must_reval")))


def recrawl_plan(df: DataFrame, now_epoch: int,
                 default_ttl_s: int = 86400,
                 batch: int = 4) -> DataFrame:
    """The recrawl capstone: captures (header columns +
    ``fetched_epoch``) -> per-url fetch schedule. next_due =
    fetched_epoch + freshness (no-store/no-cache mean due at once;
    unknown freshness takes ``default_ttl_s``); ``revalidate_mode``
    picks the cheapest refetch (If-None-Match > If-Modified-Since >
    full GET); per-host ``wave`` batches due fetches ``batch`` at a
    time (politeness pacing composes via fetch_schedule_delayed).
    Shape: ONE Arrow pass (policy + fetched_epoch ride together, no
    join-back) + ONE host-window exchange. Integer epoch math only —
    no cross-engine timestamp semantics anywhere."""
    pol = cache_policy_table(df,
                             keep_cols={"fetched_epoch": "bigint"})
    next_due = (F.when(F.col("no_store") | F.col("no_cache"),
                       F.col("fetched_epoch"))
                .otherwise(F.col("fetched_epoch")
                           + F.coalesce(F.col("fresh_for_s"),
                                        F.lit(default_ttl_s))))
    host = F.split(F.split(F.col("url"), "://")
                   .getItem(1), "/").getItem(0)
    mode = (F.when(F.col("has_etag"), "etag")
            .when(F.col("has_last_modified"), "last-modified")
            .otherwise("full"))
    w = Window.partitionBy("host").orderBy("next_due_epoch", "url")
    return (pol.select("url", host.alias("host"),
                       next_due.cast("long").alias("next_due_epoch"),
                       mode.alias("revalidate_mode"))
            .withColumn("due_now",
                        F.col("next_due_epoch") <= F.lit(now_epoch))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("wave",
                        F.expr(f"(_rn - 1) div {int(batch)}")
                        .cast("int"))
            .select("url", "host", "next_due_epoch", "due_now",
                    "revalidate_mode", "wave"))


def vary_profile(df: DataFrame, vary_col: str = "vary",
                 url_col: str = "url") -> DataFrame:
    """Vary header -> cache-key fragmentation profile per capture:
    token count, the cloaking-risk flags (varies on User-Agent /
    Cookie), and Vary:* uncacheability. ALL JVM built-ins (the
    ads.txt triple-check pattern — the token pipeline re-expresses
    cachex.parse_vary verbatim); pure codegen, no shuffle."""
    toks = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(vary_col), F.lit("")), ","),
            lambda x: F.lower(
                F.regexp_replace(x, cachex.TOKEN_TRIM_RE, ""))),
        lambda x: x != "")
    return df.select(
        F.col(url_col).alias("url"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.array_contains(toks, "user-agent").alias("varies_ua"),
        F.array_contains(toks, "cookie").alias("varies_cookie"),
        F.array_contains(toks, "*").alias("uncacheable"))


def retry_backoff(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(url, status, retry_after, fetched_epoch) -> throttle backoff:
    ``throttled`` for 429/503, ``next_attempt_epoch`` from the
    Retry-After header (delta-seconds or IMF date via
    cachex.retry_after_epoch; NULL when absent/unparseable or the
    status is not a throttle). Map-only Arrow pass."""

    def run(batches: Iterator) -> Iterator:
        for b in batches:
            nxt = [cachex.retry_after_epoch(v, f)
                   for v, f in zip(b["retry_after"],
                                   b["fetched_epoch"])]
            yield pd.DataFrame({
                "url": b[url_col],
                "status": pd.array(b["status"], dtype="Int32"),
                "_ra": pd.array(nxt, dtype="Int64")})

    out = (df.select(url_col, "status", "retry_after",
                     "fetched_epoch")
           .mapInPandas(run, "url string, status int, _ra bigint"))
    throttled = F.col("status").isin(429, 503)
    return out.select(
        "url", "status", throttled.alias("throttled"),
        F.when(throttled, F.col("_ra")).alias("next_attempt_epoch"))


def conditional_get_savings(hist: DataFrame) -> DataFrame:
    """Fetch history (url, seq, etag, content_md5) -> what a
    conditional-GET crawler would have saved: ``n_not_modified``
    counts revisits whose validator matched the previous fetch
    (If-None-Match weak comparison — W/ ignored both sides, RFC 9110
    §8.8.3.2 via the shared ETAG_WEAK_RE), ``n_changed`` counts
    actual content changes. ONE url exchange (the lag window and the
    groupBy share the key); all JVM built-ins."""
    def strip(c):
        return F.regexp_replace(c, cachex.ETAG_WEAK_RE, "")

    w = Window.partitionBy("url").orderBy("seq")
    petag = F.lag("etag").over(w)
    pmd5 = F.lag("content_md5").over(w)
    not_mod = (petag.isNotNull() & F.col("etag").isNotNull()
               & (strip(F.col("etag")) == strip(petag))
               & (strip(F.col("etag")) != ""))
    changed = pmd5.isNotNull() & (F.col("content_md5") != pmd5)
    return (hist
            .select("url", not_mod.cast("long").alias("_nm"),
                    changed.cast("long").alias("_ch"))
            .groupBy("url")
            .agg(F.count("*").cast("long").alias("n_fetches"),
                 F.sum("_nm").alias("n_not_modified"),
                 F.sum("_ch").alias("n_changed")))


def change_rate_classes(hist: DataFrame) -> DataFrame:
    """Fetch history -> adaptive revisit classes (the integer-math
    reading of Cho & Garcia-Molina's change-frequency estimation):
    'stable' (no observed change -> back off 4x the observed mean
    gap), 'volatile' (changed on at least half the revisits -> halve
    the gap), 'slow' otherwise (keep the gap). Pure integer
    arithmetic — cross-multiplied ratios and truncating division on
    non-negatives, so every engine agrees bit-for-bit. Same
    one-exchange shape as conditional_get_savings."""
    w = Window.partitionBy("url").orderBy("seq")
    pmd5 = F.lag("content_md5").over(w)
    changed = pmd5.isNotNull() & (F.col("content_md5") != pmd5)
    agg = (hist
           .select("url", "fetched_epoch",
                   changed.cast("long").alias("_ch"))
           .groupBy("url")
           .agg((F.count("*") - 1).cast("long").alias("n_revisits"),
                F.sum("_ch").alias("n_changes"),
                (F.max("fetched_epoch") - F.min("fetched_epoch"))
                .cast("long").alias("span_s")))
    cls = (F.when(F.col("n_changes") == 0, "stable")
           .when(F.col("n_changes") * 2 >= F.col("n_revisits"),
                 "volatile")
           .otherwise("slow"))
    mean_gap = F.expr("span_s div n_revisits")
    suggested = (F.when(F.col("cls") == "stable",
                        F.col("_gap") * 4)
                 .when(F.col("cls") == "volatile",
                       F.expr("_gap div 2"))
                 .otherwise(F.col("_gap")))
    return (agg.withColumn("cls", cls)
            .withColumn("_gap", mean_gap)
            .select("url", "n_revisits", "n_changes",
                    F.col("cls").alias("revisit_class"),
                    F.col("_gap").cast("long").alias("mean_gap_s"),
                    suggested.cast("long")
                    .alias("suggested_interval_s")))
