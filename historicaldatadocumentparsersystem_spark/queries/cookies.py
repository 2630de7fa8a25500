"""Set-Cookie privacy family (RFC 6265 storage model)."""

from ..extractor import cookiex
from ..operators import cookies
from . import _fixture, _httpdate_stages, query


def _cookie_table_cte() -> str:
    """Set-Cookie grammar re-derivation (ends in ``ck``): segment
    split, first-pair validity gate, last-wins attribute picks via
    list_filter[-1], Domain/Path/SameSite normalization, MAXAGE_RE
    trust gate, and Max-Age-over-Expires persistence through the
    shared IMF date-math CTE. Regex/threshold constants are
    GENERATED from extractor/cookiex.py."""
    ws = "' ' || chr(9)"           # OWS: space + literal tab
    name = f"trim(substr(nv, 1, e - 1), {ws})"

    def pick(attr: str) -> str:
        return (f"(list_filter(attrs, a -> a.k = '{attr}'))[-1].v "
                f"AS {attr.replace('-', '_')}_raw")

    def flag(attr: str) -> str:
        return (f"len(list_filter(attrs, a -> a.k = '{attr}')) > 0 "
                f"AS {attr}")

    return f"""
        c0 AS (SELECT url, seq, fetched_epoch,
                      string_split(set_cookie, ';') AS segs
               FROM raw),
        c1 AS (SELECT *, segs[1] AS nv, strpos(segs[1], '=') AS e
               FROM c0),
        c2 AS (
          SELECT url, seq, fetched_epoch, {name} AS name,
                 trim(substr(nv, e + 1), {ws}) AS value,
                 list_transform(segs[2:], s ->
                   CASE WHEN strpos(s, '=') > 0
                        THEN {{'k': lower(trim(substr(s, 1,
                                 strpos(s, '=') - 1), {ws})),
                              'v': trim(substr(s,
                                 strpos(s, '=') + 1), {ws})}}
                        ELSE {{'k': lower(trim(s, {ws})),
                              'v': CAST(NULL AS VARCHAR)}}
                   END) AS attrs
          FROM c1 WHERE e > 0 AND {name} != ''
        ),
        c3 AS (
          SELECT url, seq, fetched_epoch, name, value,
                 {pick('domain')}, {pick('path')},
                 {pick('samesite')}, {pick('max-age')},
                 {pick('expires')},
                 {flag('secure')}, {flag('httponly')}
          FROM c2
        ),
        t AS (SELECT * FROM c3),
        {_httpdate_stages(ps=(("cx", "expires_raw"),))},
        c4 AS (
          SELECT url, seq, fetched_epoch, name, value,
                 nullif(CASE WHEN lower(domain_raw) LIKE '.%'
                             THEN substr(lower(domain_raw), 2)
                             ELSE lower(domain_raw) END, '')
                   AS domain,
                 CASE WHEN path_raw LIKE '/%' THEN path_raw END
                   AS path,
                 secure, httponly, lower(samesite_raw) AS samesite,
                 CASE WHEN regexp_matches(max_age_raw,
                                          '{cookiex.MAXAGE_RE}')
                      THEN max_age_raw::bigint END AS max_age,
                 cx_e
          FROM x6
        ),
        ck AS (
          SELECT url, seq, name, value, domain, path, secure,
                 httponly, samesite,
                 (max_age IS NOT NULL OR cx_e IS NOT NULL)
                   AS persistent,
                 (CASE WHEN max_age IS NOT NULL
                       THEN fetched_epoch + max_age
                       ELSE cx_e END)::bigint AS expires_epoch,
                 (CASE WHEN max_age IS NOT NULL
                       THEN fetched_epoch + max_age
                       ELSE cx_e END
                  - fetched_epoch)::bigint AS ttl_s,
                 fetched_epoch
          FROM c4
        )"""


def _cookie_table_sql() -> str:
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_COOKIE_FIX}')),
        {_cookie_table_cte()}
        SELECT url, seq::bigint AS seq, name, value, domain, path,
               secure, httponly, samesite, persistent,
               expires_epoch, ttl_s
        FROM ck ORDER BY url, seq"""


def _cookie_profile_sql() -> str:
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_COOKIE_FIX}')),
        {_cookie_table_cte()}
        SELECT split_part(split_part(url, '://', 2), '/', 1)
                 AS host,
               count(*)::bigint AS n_cookies,
               sum(CASE WHEN persistent THEN 1 ELSE 0 END)::bigint
                 AS n_persistent,
               sum(CASE WHEN secure THEN 1 ELSE 0 END)::bigint
                 AS n_secure,
               sum(CASE WHEN httponly THEN 1 ELSE 0 END)::bigint
                 AS n_httponly,
               sum(CASE WHEN samesite = 'none' THEN 1 ELSE 0
                   END)::bigint AS n_samesite_none,
               sum(CASE WHEN persistent
                             AND ttl_s >= {cookies.LONG_LIVED_S}
                        THEN 1 ELSE 0 END)::bigint AS n_long_lived,
               max(CASE WHEN persistent THEN ttl_s END)::bigint
                 AS max_ttl_s,
               bool_or(coalesce(persistent AND samesite = 'none'
                                AND ttl_s >= {cookies.TRACKER_MIN_S},
                                false)) AS tracker_like
        FROM ck GROUP BY host ORDER BY host"""


_COOKIE_FIX = _fixture("set_cookie_seed42_n72.parquet")


# --- Set-Cookie privacy family: RFC 6265 storage model + the
# per-host tracker-shape rollup (cookiex grammar shared with the
# DuckDB re-derivation)
@query("cookie_table", oracle=_cookie_table_sql)
def q_cookie_table(spark, sf_dir):
    hdrs = spark.read.parquet(_COOKIE_FIX)
    return cookies.cookie_table(hdrs).orderBy("url", "seq")


@query("cookie_privacy_profile", oracle=_cookie_profile_sql)
def q_cookie_profile(spark, sf_dir):
    hdrs = spark.read.parquet(_COOKIE_FIX)
    return (cookies.cookie_privacy_profile(
        cookies.cookie_table(hdrs)).orderBy("host"))
