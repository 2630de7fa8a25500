"""Well-known host files: ads.txt, security.txt and llms.txt."""

from .. import fixtures, sources
from ..extractor import adsx, bibx, llmstxtx, sectxtx
from ..operators import adstxt, sectxt
from . import _fixture, _payload_df, query


def _ads_lines_sql() -> str:
    """Shared line fan-out for the ads.txt twins: 1-based physical
    line numbers via unnest(generate_series) (the posexplode twin),
    comment strip + trim GENERATED from the adsx constants. The trim
    replace needs 'g' in DuckDB (two anchors; Spark's regexp_replace
    is global by default)."""
    return f"""
            t AS (SELECT url, text FROM read_parquet('{_ADS_FIX}')),
            ln AS (
              SELECT url,
                     unnest(generate_series(1, len(ls)))::int
                       AS line_no, ls
              FROM (SELECT url, string_split(
                             replace(text, chr(13), ''), chr(10))
                             AS ls FROM t)
            ), l2 AS (
              SELECT url, line_no,
                     regexp_replace(regexp_replace(ls[line_no],
                       '{adsx.COMMENT_RE}', ''),
                       '{adsx.TRIM_RE}', '', 'g') AS line
              FROM ln
            )"""


def _ads_records_sql() -> str:
    rels = ", ".join(f"'{r}'" for r in adsx.RELATIONSHIPS)
    return f"""
            WITH {_ads_lines_sql()},
            recs AS (
              SELECT url, line_no,
                     list_transform(string_split(line, ','),
                       f -> regexp_replace(f, '{adsx.TRIM_RE}',
                                           '', 'g')) AS f
              FROM l2
              WHERE line != ''
                AND NOT (NOT contains(line, ',')
                         AND contains(line, '='))
            )
            SELECT url, line_no, lower(f[1]) AS ad_domain,
                   f[2] AS publisher_id,
                   upper(f[3]) AS relationship,
                   CASE WHEN len(f) > 3 AND f[4] != ''
                        THEN f[4] END AS cert_id
            FROM recs
            WHERE len(f) >= 3 AND f[1] != '' AND f[2] != ''
              AND upper(f[3]) IN ({rels})
            ORDER BY url, line_no"""


def _ads_variables_sql() -> str:
    return f"""
            WITH {_ads_lines_sql()},
            v AS (
              SELECT url, line_no,
                     upper(regexp_replace(split_part(line, '=', 1),
                       '{adsx.TRIM_RE}', '', 'g')) AS name,
                     regexp_replace(substr(line,
                       instr(line, '=') + 1),
                       '{adsx.TRIM_RE}', '', 'g') AS value
              FROM l2
              WHERE line != '' AND NOT contains(line, ',')
                AND contains(line, '=')
            )
            SELECT url, line_no, name, value FROM v
            WHERE name != '' AND value != ''
            ORDER BY url, line_no"""


def _ads_profile_sql() -> str:
    return f"""
            SELECT url,
                   count(*)::bigint AS n_records,
                   sum(CASE WHEN relationship = 'DIRECT'
                            THEN 1 ELSE 0 END)::bigint AS n_direct,
                   sum(CASE WHEN relationship = 'RESELLER'
                            THEN 1 ELSE 0 END)::bigint AS n_reseller,
                   count(DISTINCT ad_domain)::bigint AS n_ad_systems,
                   sum(CASE WHEN cert_id IS NOT NULL
                            THEN 1 ELSE 0 END)::bigint AS n_certified
            FROM ({_ads_records_sql().replace(
                'ORDER BY url, line_no', '')})
            GROUP BY url ORDER BY url"""


def _sectxt_fields_sql() -> str:
    """DuckDB twin of sectxt.securitytxt_fields — the RFC 9116
    subset GENERATED from extractor/sectxtx.py constants (ads.txt
    triple-check pattern): posexplode == unnest(generate_series),
    the pure parser's stateful PGP-signature break == min marker
    line per url (window), registry membership from FIELDS."""
    fields = ", ".join(f"'{f}'" for f in sectxtx.FIELDS)
    return f"""
        WITH t AS (SELECT url, text
                   FROM read_parquet('{_SECTXT_FIX}')),
        ln AS (
          SELECT url,
                 unnest(generate_series(1, len(ls)))::int AS line_no,
                 ls
          FROM (SELECT url, string_split(
                         replace(text, chr(13), ''), chr(10)) AS ls
                FROM t)
        ), sig AS (
          SELECT url, line_no, ls[line_no] AS line,
                 min(CASE WHEN ls[line_no] = '{sectxtx.SIG_MARKER}'
                          THEN line_no END)
                   OVER (PARTITION BY url) AS _sig
          FROM ln
        ), f AS (
          SELECT url, line_no,
                 lower(regexp_extract(line,
                       '{sectxtx.FIELD_RE}', 1)) AS field,
                 regexp_extract(line, '{sectxtx.FIELD_RE}', 2)
                   AS value
          FROM sig WHERE _sig IS NULL OR line_no < _sig
        )
        SELECT url, line_no, field, value FROM f
        WHERE field IN ({fields}) AND value != ''
        ORDER BY url, line_no"""


def _sectxt_gate_sql() -> str:
    """Gate twin: first expiry by min_by(line_no); the expired flag
    only trusts Z-form RFC 3339 (lexicographic compare against the
    shared now literal), NULL otherwise."""
    return f"""
        WITH f AS ({_sectxt_fields_sql().replace(
            'ORDER BY url, line_no', '')}),
        agg AS (
          SELECT url,
                 sum(CASE WHEN field = 'contact'
                          THEN 1 ELSE 0 END)::bigint AS n_contact,
                 count(*)::bigint AS n_fields,
                 min_by(value, line_no)
                   FILTER (field = 'expires') AS expires
          FROM f GROUP BY url
        )
        SELECT u.url,
               coalesce(n_contact, 0)::bigint AS n_contact,
               coalesce(n_fields, 0)::bigint AS n_fields,
               expires,
               (coalesce(n_contact, 0) > 0
                AND expires IS NOT NULL) AS well_formed,
               CASE WHEN expires IS NOT NULL
                         AND regexp_matches(expires,
                                            '{sectxtx.ZTS_RE}')
                    THEN expires <= '{_SECTXT_NOW_Z}' END AS expired
        FROM (SELECT DISTINCT url
              FROM read_parquet('{_SECTXT_FIX}')) u
        LEFT JOIN agg USING (url)
        ORDER BY url"""


def _llms_files_sql() -> str:
    """Oracle for llms_txt_files: the PURE parser feeds the VALUES
    rows (subset pinned by tests/test_llmstxt.py vectors)."""

    def s(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") \
            + "'"

    rows = []
    for r in fixtures.llms_txt_rows(16):
        d = llmstxtx.parse_llms_txt(bibx._decode(r["payload"]))
        opt = "true" if "optional" in [x.lower() for x in
                                       d["sections"]] else "false"
        rows.append(f"({s(r['url'])}, {s(d['title'])}, "
                    f"{s(d['summary'])}, "
                    f"{len(d['sections'])}::bigint, "
                    f"{len(d['links'])}::bigint, {opt})")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, title, summary, n_sections, n_links, has_optional)
        ORDER BY url"""


_ADS_FIX = _fixture("ads_texts_seed42_n60.parquet")
_SECTXT_FIX = _fixture("sectxt_texts_seed42_n48.parquet")
_GOLDEN_LLMS = _fixture("golden_llms_seed42_n16.parquet")
# fixed "now" for the security.txt expiry gate (all three engines)
_SECTXT_NOW_Z = "2026-08-19T00:00:00Z"


# --- ads.txt well-known family (IAB seller authorizations — a
# host-reputation / commercial-affiliation signal): JVM
# split/transform plans over the committed fixture corpus, DuckDB
# twins generated from the same adsx constants
@query("adstxt_records", oracle=_ads_records_sql)
def q_ads_records(spark, sf_dir):
    docs = spark.read.parquet(_ADS_FIX)
    return (adstxt.adstxt_records(docs)
            .orderBy("url", "line_no"))


@query("adstxt_variables", oracle=_ads_variables_sql)
def q_ads_vars(spark, sf_dir):
    docs = spark.read.parquet(_ADS_FIX)
    return (adstxt.adstxt_variables(docs)
            .orderBy("url", "line_no"))


@query("adstxt_host_profile", oracle=_ads_profile_sql)
def q_ads_profile(spark, sf_dir):
    docs = spark.read.parquet(_ADS_FIX)
    return adstxt.adstxt_host_profile(docs).orderBy("url")


# --- security.txt (RFC 9116 well-known host hygiene) — DuckDB
# twin GENERATED from the sectxtx constants (ads.txt pattern)
@query("securitytxt_fields", oracle=_sectxt_fields_sql)
def q_sectxt_fields(spark, sf_dir):
    docs = spark.read.parquet(_SECTXT_FIX)
    return (sectxt.securitytxt_fields(docs)
            .orderBy("url", "line_no"))


@query("securitytxt_gate", oracle=_sectxt_gate_sql)
def q_sectxt_gate(spark, sf_dir):
    docs = spark.read.parquet(_SECTXT_FIX)
    return (sectxt.securitytxt_gate(docs, _SECTXT_NOW_Z)
            .orderBy("url"))


# --- llms.txt discovery surface (llmstxt.org) — curated-link
# rows hash-checked against the committed golden; file-level
# rollup against the pure-parser-fed VALUES twin
# llms.txt links: committed golden parquet pinned by
# tests/test_llmstxt.py against the pure re-derivation
@query("llms_txt_links", oracle=lambda: f"""
            SELECT url, pos, section, name, href, description
            FROM read_parquet('{_GOLDEN_LLMS}')""")
def q_llms_links(spark, sf_dir):
    df = _payload_df(spark, fixtures.llms_txt_rows(16), 4)
    return sources.read_llms_links(df)


@query("llms_txt_files", oracle=_llms_files_sql)
def q_llms_files(spark, sf_dir):
    df = _payload_df(spark, fixtures.llms_txt_rows(16), 4)
    return sources.read_llms_files(df).orderBy("url")
