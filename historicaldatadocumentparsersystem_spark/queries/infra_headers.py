"""Infrastructure headers: Alt-Svc and Server products."""

from .. import fixtures
from ..extractor import cachex, infrax
from ..operators import infra
from . import _fixture, query


def _alt_svc_cte() -> str:
    """Alt-Svc alternative fan-out (ends in ``alts``) — quoted-
    aware comma split via the shared cachex ITEM_RE, last-VALID-
    wins ma via list_filter[-1], LAST-colon authority split via
    reverse(), kept alternatives renumbered per url."""
    ws = "' ' || chr(9)"

    def dq(v: str) -> str:
        return (f"CASE WHEN len({v}) >= 2 AND {v} LIKE '\"%' AND "
                f"{v} LIKE '%\"' THEN substr({v}, 2, len({v}) - 2) "
                f"ELSE {v} END")

    val = f"trim(substr(s, strpos(s, '=') + 1), {ws})"
    pname = f"trim(substr(nv, 1, e - 1), {ws})"
    return f"""
        a0 AS (
          SELECT url, regexp_extract_all(alt_svc,
                                         '{cachex.ITEM_RE}') AS items
          FROM raw WHERE alt_svc IS NOT NULL
                     AND trim(alt_svc, {ws}) != 'clear'
        ),
        a1 AS (
          SELECT url,
                 unnest(generate_series(1, len(items)))::int AS idx,
                 items
          FROM a0
        ),
        a2 AS (SELECT url, idx, string_split(items[idx], ';')
                 AS segs FROM a1),
        a3 AS (
          SELECT url, idx, segs[1] AS nv,
                 strpos(segs[1], '=') AS e,
                 list_transform(segs[2:], s ->
                   CASE WHEN strpos(s, '=') > 0
                        THEN {{'k': lower(trim(substr(s, 1,
                                 strpos(s, '=') - 1), {ws})),
                              'v': {dq(val)}}}
                        ELSE {{'k': lower(trim(s, {ws})),
                              'v': CAST(NULL AS VARCHAR)}}
                   END) AS params
          FROM a2
        ),
        a4 AS (
          SELECT url, idx, {pname} AS proto,
                 {dq(f"trim(substr(nv, e + 1), {ws})")} AS auth,
                 params
          FROM a3 WHERE e > 0 AND {pname} != ''
        ),
        a5 AS (
          SELECT *, strpos(reverse(auth), ':') AS rp FROM a4
        ),
        a6 AS (
          SELECT url, idx, proto, params,
                 nullif(substr(auth, 1, len(auth) - rp), '')
                   AS host,
                 substr(auth, len(auth) - rp + 2) AS port_raw
          FROM a5 WHERE rp > 0
        ),
        alts AS (
          SELECT url,
                 (row_number() OVER (PARTITION BY url ORDER BY idx)
                  - 1)::int AS pos,
                 proto, host, port_raw::bigint AS port,
                 coalesce((list_filter(params, p ->
                     p.k = 'ma' AND p.v IS NOT NULL AND
                     regexp_matches(p.v, '{cachex.DELTA_RE}')))
                   [-1].v::bigint,
                   {infrax.ALT_SVC_DEFAULT_MA}) AS ma_s,
                 len(list_filter(params, p ->
                     p.k = 'persist' AND p.v = '1')) > 0 AS persist
          FROM a6 WHERE regexp_matches(port_raw,
                                       '{infrax.PORT_RE}')
        )"""


def _alt_svc_sql() -> str:
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_INFRA_FIX}')),
        {_alt_svc_cte()}
        SELECT url, pos, proto, host, port, ma_s, persist
        FROM alts ORDER BY url, pos"""


def _transport_profile_sql() -> str:
    return f"""
        WITH raw AS (SELECT * FROM read_parquet('{_INFRA_FIX}')),
        {_alt_svc_cte()}
        SELECT split_part(split_part(url, '://', 2), '/', 1)
                 AS page_host,
               count(*)::bigint AS n_alts,
               bool_or(proto LIKE 'h3%') AS advertises_h3,
               bool_or(proto = 'h2') AS advertises_h2,
               max(ma_s)::bigint AS max_ma_s,
               bool_or(persist) AS any_persist
        FROM alts GROUP BY page_host ORDER BY page_host"""


def _server_products_sql() -> str:
    """Oracle for server_products: the PURE parser feeds the VALUES
    rows (nested-paren comments are not regular — rows-from-parser,
    refresh_targets precedent; grammar pinned by
    tests/test_infra.py vectors)."""

    def s(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") \
            + "'"

    rows = []
    for r in fixtures.infra_header_rows(48):
        for pos, product, ver in infrax.parse_server(r["server"]):
            rows.append(f"({s(r['url'])}, {pos}::int, "
                        f"{s(product)}, {s(ver)})")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, pos, product, version)
        ORDER BY url, pos"""


_INFRA_FIX = _fixture("infra_headers_seed42_n48.parquet")


# --- infrastructure headers: Alt-Svc (HTTP/3 adoption) +
# Server product tokens (tech fingerprint)
@query("alt_svc_alternatives", oracle=_alt_svc_sql)
def q_alt_svc(spark, sf_dir):
    caps = spark.read.parquet(_INFRA_FIX)
    return (infra.alt_svc_alternatives(caps)
            .orderBy("url", "pos"))


@query("host_transport_profile", oracle=_transport_profile_sql)
def q_transport(spark, sf_dir):
    caps = spark.read.parquet(_INFRA_FIX)
    return (infra.host_transport_profile(
        infra.alt_svc_alternatives(caps))
        .orderBy("page_host"))


@query("server_products", oracle=_server_products_sql)
def q_server_products(spark, sf_dir):
    caps = spark.read.parquet(_INFRA_FIX)
    return infra.server_products(caps).orderBy("url", "pos")
