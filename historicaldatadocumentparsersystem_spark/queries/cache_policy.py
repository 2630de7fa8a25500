"""HTTP cache policy and recrawl economics (RFC 9111)."""

from ..extractor import cachex
from ..extractor.metax import parse_refresh
from ..operators import cachepolicy, pagemeta
from . import _fixture, _httpdate_stages, query


_REFRESH_ROWS = (
    ("https://r.example/a", "5; url=https://r.example/b"),
    ("https://r.example/doorway", "0;URL='https://spam.example/x'"),
    ("https://r.example/frac", '  3.7 , url = "https://r.example/c"'),
    ("https://r.example/self", "10"),
    ("https://r.example/self2", "30; url=https://r.example/self2"),
    ("https://r.example/rel", "0; promo/landing.html"),
    ("https://r.example/slow", "600; url=https://r.example/later"),
    ("https://r.example/bad", "abc"),
    ("https://r.example/bad2", "5x; url=https://r.example/never"),
    ("https://r.example/empty", None),
    ("https://r.example/quoted", "1; url='https://other.example/p' tail"),
    ("https://r.example/spacesep", "2 https://r.example/d"),
)


def _refresh_targets_sql() -> str:
    """Oracle for refresh_targets: the PURE parser feeds the VALUES
    rows (microsyntax pinned by tests/test_pagemeta.py vectors)."""
    rows = []
    for url, raw in _REFRESH_ROWS:
        parsed = parse_refresh(raw)
        if parsed is None:
            continue
        delay, target = parsed
        t = "NULL" if target is None else f"'{target}'"
        rows.append(f"('{url}', {delay}::int, {t})")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, delay_s, target)
        ORDER BY url"""


def _refresh_redirects_sql(max_delay: int = 5) -> str:
    """TRUE dual-engine twin of pagemeta.refresh_redirects over the
    parsed rows: host extracted only for absolute http(s) targets
    (relative targets resolve against the page -> same-host by
    definition), so split_part never diverges from Spark getItem."""
    th = ("CASE WHEN target LIKE 'http://%' OR "
          "target LIKE 'https://%' THEN "
          "split_part(split_part(target, '://', 2), '/', 1) END")
    return f"""
        WITH t AS ({_refresh_targets_sql().replace(
            'ORDER BY url', '')})
        SELECT url, target, delay_s,
               ({th} IS NULL OR {th} =
                split_part(split_part(url, '://', 2), '/', 1))
                 AS same_host
        FROM t
        WHERE target IS NOT NULL AND delay_s <= {max_delay}
              AND target != url
        ORDER BY url"""


def _cache_dirs_cte() -> str:
    """Shared Cache-Control item fan-out for the cachex twins —
    every regex GENERATED from extractor/cachex.py (ads.txt
    pattern). regexp_extract_all == the pure parser's finditer on
    ITEM_RE; an unmatched capture group and an empty one both come
    back '' in DuckDB, which is exactly why the pure parser
    normalizes empty args to None."""
    dre = cachex.DIRECTIVE_RE.replace("'", "''")
    return f"""
        t AS (SELECT * FROM read_parquet('{_CACHE_FIX}')),
        it AS (
          SELECT url,
                 unnest(generate_series(1, len(items)))::int AS idx,
                 items
          FROM (SELECT url, regexp_extract_all(
                         coalesce(cache_control, ''),
                         '{cachex.ITEM_RE}') AS items FROM t)
        ), d AS (
          SELECT url, idx,
                 lower(regexp_extract(items[idx], '{dre}', 1))
                   AS directive,
                 coalesce(
                   nullif(regexp_extract(items[idx], '{dre}', 2), ''),
                   nullif(regexp_extract(items[idx], '{dre}', 3), ''))
                   AS arg,
                 regexp_matches(items[idx], '{dre}') AS ok
          FROM it
        )"""


def _cache_directives_sql() -> str:
    return f"""
        WITH {_cache_dirs_cte()}
        SELECT url,
               (row_number() OVER (PARTITION BY url ORDER BY idx)
                - 1)::int AS pos,
               directive, arg
        FROM d WHERE ok
        ORDER BY url, pos"""


def _cache_policy_cte() -> str:
    """Policy CTE (ends in ``pol2``): flags + first-wins
    delta-seconds via NULL-safe min_by (the '' sentinel round-trips
    the pure parser's None args), then the RFC 9111 freshness
    precedence CASE."""
    dre = cachex.DELTA_RE
    flags = ", ".join(
        f"coalesce(f_{n}, false) AS {n}" for n in
        ("no_store", "no_cache", "private", "immutable",
         "must_revalidate"))
    return f"""
        {_cache_dirs_cte()},
        {_httpdate_stages()},
        agg AS (
          SELECT url,
                 bool_or(directive = 'no-store') AS f_no_store,
                 bool_or(directive = 'no-cache') AS f_no_cache,
                 bool_or(directive = 'private') AS f_private,
                 bool_or(directive = 'immutable') AS f_immutable,
                 bool_or(directive IN ('must-revalidate',
                                       'proxy-revalidate'))
                   AS f_must_revalidate,
                 nullif(min_by(coalesce(arg, ''), idx)
                        FILTER (directive = 's-maxage'), '')
                   AS smax_arg,
                 nullif(min_by(coalesce(arg, ''), idx)
                        FILTER (directive = 'max-age'), '')
                   AS maxage_arg
          FROM d WHERE ok GROUP BY url
        ), pol AS (
          SELECT x.url, {flags},
                 CASE WHEN hdr_age IS NOT NULL AND
                           regexp_matches(hdr_age, '{dre}')
                      THEN hdr_age::bigint ELSE 0 END AS age_s,
                 CASE WHEN smax_arg IS NOT NULL AND
                           regexp_matches(smax_arg, '{dre}')
                      THEN smax_arg::bigint END AS smax,
                 CASE WHEN maxage_arg IS NOT NULL AND
                           regexp_matches(maxage_arg, '{dre}')
                      THEN maxage_arg::bigint END AS maxage,
                 dt_e, ex_e, lm_e, hdr_expires, hdr_etag
          FROM x6 x LEFT JOIN agg USING (url)
        ), pol2 AS (
          SELECT url, no_store, no_cache, private, immutable,
                 must_revalidate, age_s,
                 CASE WHEN smax IS NOT NULL THEN smax
                      WHEN maxage IS NOT NULL THEN maxage
                      WHEN hdr_expires IS NOT NULL
                           AND dt_e IS NOT NULL THEN
                        CASE WHEN ex_e IS NOT NULL
                             THEN greatest(ex_e - dt_e, 0)
                             ELSE 0 END
                      WHEN dt_e IS NOT NULL AND lm_e IS NOT NULL
                           AND dt_e >= lm_e
                      THEN (dt_e - lm_e) // 10 END AS ttl_s,
                 CASE WHEN smax IS NOT NULL THEN 's-maxage'
                      WHEN maxage IS NOT NULL THEN 'max-age'
                      WHEN hdr_expires IS NOT NULL
                           AND dt_e IS NOT NULL THEN 'expires'
                      WHEN dt_e IS NOT NULL AND lm_e IS NOT NULL
                           AND dt_e >= lm_e THEN 'heuristic'
                 END AS ttl_source,
                 coalesce(hdr_etag, '') != '' AS has_etag,
                 starts_with(coalesce(hdr_etag, ''), 'W/')
                   AS etag_weak,
                 lm_e IS NOT NULL AS has_last_modified
          FROM pol
        )"""


def _cache_policy_sql() -> str:
    return f"""
        WITH {_cache_policy_cte()}
        SELECT url, no_store, no_cache, private, immutable,
               must_revalidate, age_s::bigint AS age_s,
               ttl_s::bigint AS ttl_s, ttl_source,
               (CASE WHEN ttl_s IS NOT NULL
                     THEN greatest(ttl_s - age_s, 0) END)::bigint
                 AS fresh_for_s,
               has_etag, etag_weak, has_last_modified
        FROM pol2 ORDER BY url"""


def _recrawl_plan_sql(default_ttl: int = 86400,
                      batch: int = 4) -> str:
    """Capstone twin: policy CTE + fetched_epoch (same row, no
    join-back on the Spark side — the twin's equi-join on the unique
    url key is value-identical), pure int64 next-due arithmetic,
    split_part host == Spark split/getItem, and the per-host wave
    window with `//` == Spark `div` (non-negative)."""
    return f"""
        WITH {_cache_policy_cte()},
        p AS (
          SELECT pol2.*, t.fetched_epoch,
                 CASE WHEN ttl_s IS NOT NULL
                      THEN greatest(ttl_s - age_s, 0)
                 END AS fresh_for_s
          FROM pol2 JOIN t USING (url)
        ), pl AS (
          SELECT url,
                 split_part(split_part(url, '://', 2), '/', 1)
                   AS host,
                 (CASE WHEN no_store OR no_cache THEN fetched_epoch
                       ELSE fetched_epoch
                            + coalesce(fresh_for_s, {default_ttl})
                  END)::bigint AS next_due_epoch,
                 CASE WHEN has_etag THEN 'etag'
                      WHEN has_last_modified THEN 'last-modified'
                      ELSE 'full' END AS revalidate_mode
          FROM p
        )
        SELECT url, host, next_due_epoch,
               next_due_epoch <= {_CACHE_NOW_E} AS due_now,
               revalidate_mode,
               ((row_number() OVER (PARTITION BY host
                 ORDER BY next_due_epoch, url) - 1)
                // {batch})::int AS wave
        FROM pl ORDER BY url"""


_VARY_ROWS = (
    ("https://v.example/a", "Accept-Encoding"),
    ("https://v.example/b", " User-Agent , Accept-Encoding "),
    ("https://v.example/c", "Cookie,User-Agent"),
    ("https://v.example/d", "*"),
    ("https://v.example/e", " , ,, "),
    ("https://v.example/f", None),
    ("https://v.example/g", "accept-language,\tACCEPT"),
)

_RETRY_ROWS = (
    ("https://t.example/a", 429, "120", 1741600000),
    ("https://t.example/b", 503, " 30 ", 1741600000),
    ("https://t.example/c", 503,
     "Wed, 12 Mar 2025 12:00:00 GMT", 1741600000),
    ("https://t.example/d", 429, "soon", 1741600000),
    ("https://t.example/e", 503, None, 1741600000),
    ("https://t.example/f", 200, "120", 1741600000),
    ("https://t.example/g", 429, "999999999999999999", 1741600000),
)


def _vary_profile_sql() -> str:
    """TRUE dual-engine twin of cachepolicy.vary_profile: the token
    pipeline (split -> trim via the shared TOKEN_TRIM_RE -> lower ->
    drop empties) re-expressed with DuckDB list functions."""
    toks = (f"list_filter(list_transform(string_split("
            f"coalesce(vary, ''), ','), x -> lower(regexp_replace("
            f"x, '{cachex.TOKEN_TRIM_RE}', '', 'g'))), x -> x != '')")
    def lit(v):
        # repr() would turn a real tab into backslash-t, which a
        # standard DuckDB string keeps as two characters
        return "NULL" if v is None else "'" + v.replace("'", "''") + "'"
    vals = ",\n".join(f"('{u}', {lit(v)})" for u, v in _VARY_ROWS)
    return f"""
        WITH t AS (SELECT * FROM (VALUES {vals}) AS t(url, vary))
        SELECT url, len({toks})::int AS n_tokens,
               list_contains({toks}, 'user-agent') AS varies_ua,
               list_contains({toks}, 'cookie') AS varies_cookie,
               list_contains({toks}, '*') AS uncacheable
        FROM t ORDER BY url"""


def _retry_backoff_sql() -> str:
    """Twin of cachepolicy.retry_backoff: trimmed delta-seconds add
    to fetched_epoch, IMF dates go through the shared date-math CTE
    chain, 429/503 gate the output."""
    vals = ",\n".join(
        f"('{u}', {s}, "
        f"{'NULL' if v is None else chr(39) + v + chr(39)}, {f})"
        for u, s, v, f in _RETRY_ROWS)
    trimmed = (f"regexp_replace(retry_after, "
               f"'{cachex.TOKEN_TRIM_RE}', '', 'g')")
    return f"""
        WITH t AS (SELECT * FROM (VALUES {vals})
                   AS t(url, status, retry_after, fetched_epoch)),
        {_httpdate_stages(ps=(("ra", trimmed),))}
        SELECT url, status::int AS status,
               status IN (429, 503) AS throttled,
               (CASE WHEN status IN (429, 503) THEN
                 CASE WHEN retry_after IS NOT NULL AND
                           regexp_matches({trimmed},
                                          '{cachex.DELTA_RE}')
                      THEN fetched_epoch + {trimmed}::bigint
                      ELSE ra_e END
               END)::bigint AS next_attempt_epoch
        FROM x6 ORDER BY url"""


def _hist_lag_cte() -> str:
    """Shared lag CTE for the fetch-history twins."""
    return f"""
        t AS (SELECT * FROM read_parquet('{_HIST_FIX}')),
        l AS (
          SELECT url, etag, content_md5, fetched_epoch,
                 lag(etag) OVER (PARTITION BY url ORDER BY seq)
                   AS petag,
                 lag(content_md5)
                   OVER (PARTITION BY url ORDER BY seq) AS pmd5
          FROM t
        )"""


def _cond_get_savings_sql() -> str:
    """TRUE dual-engine twin of conditional_get_savings — the weak
    etag comparison shares ETAG_WEAK_RE verbatim."""
    s = lambda c: f"regexp_replace({c}, '{cachex.ETAG_WEAK_RE}', '')"
    return f"""
        WITH {_hist_lag_cte()}
        SELECT url, count(*)::bigint AS n_fetches,
               sum(CASE WHEN petag IS NOT NULL
                             AND etag IS NOT NULL
                             AND {s('etag')} = {s('petag')}
                             AND {s('etag')} != ''
                        THEN 1 ELSE 0 END)::bigint
                 AS n_not_modified,
               sum(CASE WHEN pmd5 IS NOT NULL
                             AND content_md5 != pmd5
                        THEN 1 ELSE 0 END)::bigint AS n_changed
        FROM l GROUP BY url ORDER BY url"""


def _change_rate_sql() -> str:
    """Twin of change_rate_classes: integer cross-multiplied class
    thresholds + `//` == Spark `div` on non-negative gaps."""
    return f"""
        WITH {_hist_lag_cte()},
        a AS (
          SELECT url, (count(*) - 1)::bigint AS n_revisits,
                 sum(CASE WHEN pmd5 IS NOT NULL
                               AND content_md5 != pmd5
                          THEN 1 ELSE 0 END)::bigint AS n_changes,
                 (max(fetched_epoch) - min(fetched_epoch))::bigint
                   AS span_s
          FROM l GROUP BY url
        ), b AS (
          SELECT *,
                 CASE WHEN n_changes = 0 THEN 'stable'
                      WHEN n_changes * 2 >= n_revisits
                           THEN 'volatile'
                      ELSE 'slow' END AS revisit_class,
                 span_s // n_revisits AS mean_gap_s
          FROM a
        )
        SELECT url, n_revisits, n_changes, revisit_class,
               mean_gap_s::bigint AS mean_gap_s,
               (CASE revisit_class
                     WHEN 'stable' THEN mean_gap_s * 4
                     WHEN 'volatile' THEN mean_gap_s // 2
                     ELSE mean_gap_s END)::bigint
                 AS suggested_interval_s
        FROM b ORDER BY url"""


def _revisit_buckets_sql() -> str:
    return f"""
        WITH {_cache_policy_cte()},
        p AS (
          SELECT *, CASE WHEN ttl_s IS NOT NULL
                         THEN greatest(ttl_s - age_s, 0)
                    END AS fresh_for_s
          FROM pol2
        )
        SELECT CASE WHEN no_store OR no_cache THEN 'revalidate'
                    WHEN fresh_for_s IS NULL THEN 'unknown'
                    WHEN fresh_for_s < 3600 THEN 'hour'
                    WHEN fresh_for_s < 86400 THEN 'day'
                    WHEN fresh_for_s < 604800 THEN 'week'
                    ELSE 'long' END AS bucket,
               count(*)::bigint AS n,
               sum(CASE WHEN has_etag THEN 1 ELSE 0 END)::bigint
                 AS n_etag,
               sum(CASE WHEN must_revalidate THEN 1 ELSE 0
                   END)::bigint AS n_must_reval
        FROM p GROUP BY bucket ORDER BY bucket"""


_CACHE_FIX = _fixture("cache_headers_seed42_n64.parquet")
# fixed "now" for the recrawl planner (mid-range of the fixture's
# fetched_epoch values so both due and not-yet-due rows exist)
_CACHE_NOW_E = 1741600000
_HIST_FIX = _fixture("fetch_history_seed42.parquet")


# --- HTTP cache policy (RFC 9111 recrawl economics) — grammar,
# freshness lifetime via from-scratch integer date math, and the
# scheduler bucket rollup; DuckDB twins GENERATED from cachex
@query("cache_directives", oracle=_cache_directives_sql)
def q_cache_dirs(spark, sf_dir):
    docs = spark.read.parquet(_CACHE_FIX)
    return (cachepolicy.cache_directives(docs)
            .orderBy("url", "pos"))


@query("cache_policy", oracle=_cache_policy_sql)
def q_cache_policy(spark, sf_dir):
    docs = spark.read.parquet(_CACHE_FIX)
    return cachepolicy.cache_policy_table(docs).orderBy("url")


@query("revisit_buckets", oracle=_revisit_buckets_sql)
def q_revisit(spark, sf_dir):
    docs = spark.read.parquet(_CACHE_FIX)
    return (cachepolicy.revisit_buckets(
                cachepolicy.cache_policy_table(docs))
            .orderBy("bucket"))


@query("recrawl_plan", oracle=_recrawl_plan_sql)
def q_recrawl(spark, sf_dir):
    docs = spark.read.parquet(_CACHE_FIX)
    return (cachepolicy.recrawl_plan(docs, _CACHE_NOW_E)
            .orderBy("url"))


# --- meta-refresh soft redirects (the redirect channel HTTP
# chains miss; cross-host instant refresh = doorway signal)
@query("refresh_targets", oracle=_refresh_targets_sql)
def q_refresh_targets(spark, sf_dir):
    df = spark.createDataFrame(
        list(_REFRESH_ROWS), "url string, refresh string")
    return pagemeta.refresh_targets(df).orderBy("url")


@query("refresh_redirects", oracle=_refresh_redirects_sql)
def q_refresh_redirects(spark, sf_dir):
    df = spark.createDataFrame(
        list(_REFRESH_ROWS), "url string, refresh string")
    return (pagemeta.refresh_redirects(
                pagemeta.refresh_targets(df))
            .orderBy("url"))


# --- Vary fragmentation + Retry-After throttle backoff (the
# cache family's remaining headers)
@query("vary_profile", oracle=_vary_profile_sql)
def q_vary(spark, sf_dir):
    df = spark.createDataFrame(
        list(_VARY_ROWS), "url string, vary string")
    return cachepolicy.vary_profile(df).orderBy("url")


@query("retry_backoff", oracle=_retry_backoff_sql)
def q_retry(spark, sf_dir):
    df = spark.createDataFrame(
        list(_RETRY_ROWS),
        "url string, status int, retry_after string, "
        "fetched_epoch long")
    return cachepolicy.retry_backoff(df).orderBy("url")


# --- fetch-history economics: what conditional GETs would have
# saved + adaptive revisit classes (Cho & Garcia-Molina, in
# exact integer math)
@query("conditional_get_savings", oracle=_cond_get_savings_sql)
def q_cond_savings(spark, sf_dir):
    hist = spark.read.parquet(_HIST_FIX)
    return (cachepolicy.conditional_get_savings(hist)
            .orderBy("url"))


@query("change_rate_classes", oracle=_change_rate_sql)
def q_change_rate(spark, sf_dir):
    hist = spark.read.parquet(_HIST_FIX)
    return (cachepolicy.change_rate_classes(hist)
            .orderBy("url"))
