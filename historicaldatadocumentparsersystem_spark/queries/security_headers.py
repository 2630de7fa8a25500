"""Security-header posture: HSTS, CSP, XFO and friends."""

from ..extractor import sechdrx
from ..operators import sechdr
from . import _fixture, query


def _csp_explode_cte() -> str:
    """CSP directive fan-out (ends in ``cs``): non-empty segments
    indexed pre-dedup, WSP-run token split, first-occurrence keep
    flag via row_number. Expects a ``raw`` CTE with (url, csp)."""
    ws = "' ' || chr(9)"
    return f"""
        p0 AS (
          SELECT url,
                 list_filter(list_transform(
                     string_split(csp, ';'),
                     s -> trim(s, {ws})), s -> s != '') AS csl
          FROM raw WHERE csp IS NOT NULL
        ),
        p1 AS (
          SELECT url,
                 unnest(generate_series(1, len(csl)))::bigint - 1
                   AS pos,
                 csl
          FROM p0
        ),
        p2 AS (
          SELECT url, pos,
                 string_split_regex(csl[pos + 1],
                                    '{sechdrx_mod().WSP_RE}') AS toks
          FROM p1
        ),
        cs AS (
          SELECT url, pos, lower(toks[1]) AS directive,
                 toks[2:] AS src_toks,
                 coalesce(array_to_string(toks[2:], ' '), '')
                   AS sources,
                 row_number() OVER (
                   PARTITION BY url, lower(toks[1])
                   ORDER BY pos) = 1 AS keep
          FROM p2
        )"""


def sechdrx_mod():
    return sechdrx


def _sec_headers_cte() -> str:
    """Per-capture security posture (ends in ``sec``) — HSTS grammar
    with the duplicate-invalid rule, CSP flags from KEPT directives
    only, XFO/Referrer-Policy token tables GENERATED from
    extractor/sechdrx.py."""
    sx = sechdrx_mod()
    ws = "' ' || chr(9)"
    rp_list = ", ".join(f"'{p}'" for p in sx.REFERRER_POLICIES)

    def dq(v: str) -> str:
        return (f"CASE WHEN len({v}) >= 2 AND {v} LIKE '\"%' AND "
                f"{v} LIKE '%\"' THEN substr({v}, 2, len({v}) - 2) "
                f"ELSE {v} END")

    val = f"trim(substr(s, strpos(s, '=') + 1), {ws})"
    return f"""
        {_csp_explode_cte()},
        cagg AS (
          SELECT url,
                 count(*) FILTER (keep)::bigint AS csp_n_directives,
                 bool_or(keep AND directive = 'default-src')
                   AS csp_default_src,
                 bool_or(keep AND list_contains(
                     list_transform(src_toks, t -> lower(t)),
                     '''unsafe-inline''')) AS csp_unsafe_inline,
                 bool_or(keep AND list_contains(
                     list_transform(src_toks, t -> lower(t)),
                     '''unsafe-eval''')) AS csp_unsafe_eval,
                 bool_or(keep AND directive = 'frame-ancestors')
                   AS csp_frame_ancestors
          FROM cs GROUP BY url
        ),
        h0 AS (
          SELECT url, hsts, csp, referrer_policy, x_frame_options,
                 list_transform(
                   list_filter(string_split(hsts, ';'),
                               s -> trim(s, {ws}) != ''),
                   s -> CASE WHEN strpos(s, '=') > 0
                        THEN {{'k': lower(trim(substr(s, 1,
                                 strpos(s, '=') - 1), {ws})),
                              'v': {dq(val)}}}
                        ELSE {{'k': lower(trim(s, {ws})),
                              'v': CAST(NULL AS VARCHAR)}}
                   END) AS hd
          FROM raw
        ),
        h1 AS (
          SELECT *,
                 len(list_filter(hd, a -> a.k = '')) > 0
                 OR len(hd) != len(list_distinct(
                      list_transform(hd, a -> a.k))) AS bad_grammar,
                 (list_filter(hd, a -> a.k = 'max-age'))[1].v
                   AS ma_raw
          FROM h0
        ),
        h2 AS (
          SELECT *,
                 CASE WHEN hsts IS NULL THEN NULL
                      ELSE NOT bad_grammar AND ma_raw IS NOT NULL
                           AND regexp_matches(ma_raw,
                               '{sx.HSTS_MAXAGE_RE}')
                 END AS hsts_valid
          FROM h1
        ),
        sec AS (
          SELECT h2.url,
                 hsts_valid,
                 CASE WHEN hsts_valid THEN ma_raw::bigint END
                   AS hsts_max_age,
                 coalesce(hsts_valid, false) AND len(list_filter(
                     hd, a -> a.k = 'includesubdomains')) > 0
                   AS hsts_subdomains,
                 coalesce(hsts_valid, false) AND len(list_filter(
                     hd, a -> a.k = 'preload')) > 0 AS hsts_preload,
                 csp IS NOT NULL AS csp_present,
                 coalesce(csp_n_directives, 0)::bigint
                   AS csp_n_directives,
                 coalesce(csp_default_src, false)
                   AS csp_default_src,
                 coalesce(csp_unsafe_inline, false)
                   AS csp_unsafe_inline,
                 coalesce(csp_unsafe_eval, false)
                   AS csp_unsafe_eval,
                 coalesce(csp_frame_ancestors, false)
                   AS csp_frame_ancestors,
                 CASE WHEN x_frame_options IS NULL THEN NULL
                      WHEN lower(trim(x_frame_options, {ws}))
                           IN ('deny', 'sameorigin')
                      THEN lower(trim(x_frame_options, {ws}))
                      WHEN lower(trim(x_frame_options, {ws}))
                           LIKE 'allow-from%' THEN 'allow-from'
                      ELSE 'invalid' END AS frame_policy,
                 (list_filter(list_transform(
                     string_split(referrer_policy, ','),
                     t -> lower(trim(t, {ws}))),
                     t -> t IN ({rp_list})))[-1] AS referrer_policy
          FROM h2 LEFT JOIN cagg ON h2.url = cagg.url
        )"""


def _security_headers_sql() -> str:
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_SEC_FIX}')),
        {_sec_headers_cte()}
        SELECT * FROM sec ORDER BY url"""


def _csp_directives_sql() -> str:
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_SEC_FIX}')),
        {_csp_explode_cte()}
        SELECT url, pos, directive, sources
        FROM cs WHERE keep ORDER BY url, pos"""


def _host_posture_sql() -> str:
    sx = sechdrx_mod()
    strict = ", ".join(f"'{p}'" for p in sx.STRICT_REFERRER)
    score = f"""
        (CASE WHEN coalesce(hsts_valid, false) THEN 2 ELSE 0 END)
        + (CASE WHEN coalesce(hsts_valid, false)
                     AND hsts_subdomains THEN 1 ELSE 0 END)
        + (CASE WHEN coalesce(hsts_valid, false)
                     AND hsts_max_age >= {sechdr.HSTS_YEAR_S}
                THEN 1 ELSE 0 END)
        + (CASE WHEN csp_present THEN 2 ELSE 0 END)
        + (CASE WHEN csp_present AND NOT csp_unsafe_inline
                THEN 1 ELSE 0 END)
        + (CASE WHEN coalesce(frame_policy IN ('deny', 'sameorigin')
                              OR csp_frame_ancestors, false)
                THEN 1 ELSE 0 END)
        + (CASE WHEN coalesce(referrer_policy IN ({strict}), false)
                THEN 1 ELSE 0 END)"""
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_SEC_FIX}')),
        {_sec_headers_cte()},
        sc AS (SELECT *, ({score})::bigint AS score FROM sec)
        SELECT split_part(split_part(url, '://', 2), '/', 1)
                 AS host,
               count(*)::bigint AS n_captures,
               sum(CASE WHEN coalesce(hsts_valid, false)
                        THEN 1 ELSE 0 END)::bigint AS n_hsts_valid,
               sum(CASE WHEN csp_present THEN 1 ELSE 0 END)::bigint
                 AS n_csp,
               max(score)::bigint AS best_score,
               CASE WHEN max(score) >= 7 THEN 'A'
                    WHEN max(score) >= 5 THEN 'B'
                    WHEN max(score) >= 3 THEN 'C'
                    WHEN max(score) >= 1 THEN 'D'
                    ELSE 'F' END AS grade
        FROM sc GROUP BY host ORDER BY host"""


_SEC_FIX = _fixture("sec_headers_seed42_n60.parquet")


# --- security-header posture family: HSTS/CSP/XFO/Referrer-
# Policy grammar (sechdrx shared with the DuckDB re-derivation)
# + the per-host best-score grade rollup
@query("security_headers", oracle=_security_headers_sql)
def q_sec_headers(spark, sf_dir):
    caps = spark.read.parquet(_SEC_FIX)
    return sechdr.security_headers(caps).orderBy("url")


@query("csp_directives", oracle=_csp_directives_sql)
def q_csp_dirs(spark, sf_dir):
    caps = spark.read.parquet(_SEC_FIX)
    return sechdr.csp_directives(caps).orderBy("url", "pos")


@query("host_security_posture", oracle=_host_posture_sql)
def q_host_posture(spark, sf_dir):
    caps = spark.read.parquet(_SEC_FIX)
    return (sechdr.host_security_posture(
        sechdr.security_headers(caps)).orderBy("host"))
