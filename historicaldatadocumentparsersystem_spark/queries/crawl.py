"""Crawl ingestion: CDX/SURT plans, frontier, robots, WARC/ARC/WACZ."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fixtures, functions as fn, sources
from ..extractor import warcx
from ..extractor.sniff import sniff_kind
from ..extractor.waczx import parse_wacz
from ..extractor.warcx import (
    LINK_ENTITY_RE, LINK_REL_Q_RE, LINK_REL_U_RE, LINK_TOKEN_SPLIT_RE,
    parse_arc, parse_warc)
from ..operators import pagemeta, psl as _psl, robots, webtext
from ..operators.robots import parse_crawl_delay
from ..operators.skew import spread_small_scan
from . import _GOLDEN_META, _payload_df, _t, query


# served-vs-sniffed gate fixture: (url, raw Content-Type, sniffed
# kind). Covers params/case noise, lying headers both directions,
# out-of-scope types (never flagged) and a missing header.
_CT_ROWS = (
    ("https://ct.example/ok-html", "text/html; charset=utf-8", "html"),
    ("https://ct.example/ok-pdf", "application/pdf", "pdf"),
    ("https://ct.example/lying-html", "text/html", "pdf"),
    ("https://ct.example/lying-pdf", "APPLICATION/PDF ; x=1", "html"),
    ("https://ct.example/octet", "application/octet-stream", "pdf"),
    ("https://ct.example/missing", None, "html"),
    ("https://ct.example/docx",
     "application/vnd.openxmlformats-officedocument."
     "wordprocessingml.document", "zip"),
    ("https://ct.example/epub-lie", "application/epub+zip", "empty"),
    ("https://ct.example/xml", "text/xml", "html"),
)

# redirect-chain capture sample (VALUES fixture both sides — the
# Location-parsing reader half is pinned by the WARC round-trip
# pytest): a 3-hop chain to 200, a single hop to 404 (resolved: a
# terminal is a terminal), a dangling Location, a 2-cycle fed by a
# head (cap exhaustion), converging heads, a redirect-shaped row
# with no Location (not a redirect), and plain 200 pages
_REDIR_ROWS = (
    ("https://r.example/a", 301, "https://r.example/b"),
    ("https://r.example/b", 302, "https://r.example/c"),
    ("https://r.example/c", 307, "https://r.example/final"),
    ("https://r.example/final", 200, None),
    ("https://r.example/gone", 301, "https://r.example/404"),
    ("https://r.example/404", 404, None),
    ("https://r.example/dang", 308, "https://r.example/nowhere"),
    ("https://r.example/cyc", 301, "https://r.example/loop1"),
    ("https://r.example/loop1", 302, "https://r.example/loop2"),
    ("https://r.example/loop2", 302, "https://r.example/loop1"),
    ("https://r.example/x1", 301, "https://r.example/b"),
    ("https://r.example/noloc", 301, None),
    ("https://r.example/plain", 200, None),
)


def _redir_sql() -> str:
    """DuckDB twin of webtext.redirect_chains over the same VALUES
    rows: depth-capped recursive CTE (the stitch_pagination twin
    pattern), deepest row per chain = terminal state."""
    vals = ",\n".join(
        "('{}', {}, {})".format(
            u, s, "NULL" if l is None else f"'{l}'")
        for u, s, l in _REDIR_ROWS)
    return f"""
        WITH RECURSIVE caps(url, status, location) AS (VALUES {vals}),
        r AS (
          SELECT * FROM caps
          WHERE status BETWEEN 300 AND 399 AND location IS NOT NULL
        ),
        heads AS (
          SELECT r.* FROM r LEFT JOIN r p ON r.url = p.location
          WHERE p.url IS NULL
        ),
        walk AS (
          SELECT url AS start_url, location AS nxt, 0 AS hops
          FROM heads
          UNION ALL
          SELECT w.start_url, c.location, w.hops + 1
          FROM walk w JOIN r c ON c.url = w.nxt
          WHERE w.hops < 7
        ),
        tail AS (
          SELECT start_url, nxt, hops
          FROM walk
          QUALIFY row_number() OVER (PARTITION BY start_url
                                     ORDER BY hops DESC) = 1
        )
        SELECT start_url, nxt AS final_url,
               (hops + 1)::bigint AS n_hops,
               CASE WHEN t.url IS NOT NULL
                         AND NOT (t.status BETWEEN 300 AND 399
                                  AND t.location IS NOT NULL)
                    THEN t.status END::int AS final_status,
               (t.url IS NOT NULL
                AND NOT (t.status BETWEEN 300 AND 399
                         AND t.location IS NOT NULL)) AS resolved
        FROM tail LEFT JOIN caps t ON t.url = tail.nxt
        ORDER BY start_url"""


def _enc_shard() -> bytes:
    """Deterministic WARC shard with encoded HTTP bodies — the
    http_decode_captures fixture. Supported codings go through
    build_warc's encode half (gzip/x-gzip/deflate content codings,
    chunked transfer framing, a chunked+gzip stack, a gzipped PDF, an
    empty gzipped body); a br row and a malformed-chunked row are
    spliced as raw records (unsupported/broken codings keep the bytes
    as stored with decoded=False)."""
    import datetime as _dt

    ts = _dt.datetime(2024, 7, 1, tzinfo=_dt.timezone.utc)
    html = (b"<html><body>" + b"<p>decoded entity</p>" * 12 +
            b"</body></html>")
    pdf = b"%PDF-1.4 " + b"stream bytes " * 8
    recs = [
        {"url": "https://enc.example/plain", "warc_ts": ts,
         "body": html},
        {"url": "https://enc.example/gz", "warc_ts": ts,
         "body": html, "content_encoding": "gzip"},
        {"url": "https://enc.example/xgz", "warc_ts": ts,
         "body": html, "content_encoding": "x-gzip"},
        {"url": "https://enc.example/defl", "warc_ts": ts,
         "body": html, "content_encoding": "deflate"},
        {"url": "https://enc.example/chunk", "warc_ts": ts,
         "body": html, "transfer_encoding": "chunked"},
        {"url": "https://enc.example/both", "warc_ts": ts,
         "body": html, "transfer_encoding": "chunked",
         "content_encoding": "gzip"},
        {"url": "https://enc.example/pdfgz", "warc_ts": ts,
         "body": pdf, "content_type": "application/pdf",
         "content_encoding": "gzip"},
        {"url": "https://enc.example/empty", "warc_ts": ts,
         "body": b"", "content_encoding": "gzip"},
    ]

    def _raw(url: str, payload: bytes) -> bytes:
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url.encode() + b"\r\n"
                b"WARC-Date: 2024-07-01T00:00:00Z\r\n"
                b"Content-Length: " + str(len(payload)).encode() +
                b"\r\n\r\n" + payload + b"\r\n\r\n")

    br = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
          b"Content-Encoding: br\r\n\r\n\x0b\x02\x80brbytes")
    badchunk = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Transfer-Encoding: chunked\r\n\r\nzz\r\nnot chunked")
    return (warcx.build_warc(recs) +
            _raw("https://enc.example/br", br) +
            _raw("https://enc.example/badchunk", badchunk))


def _arc_shards() -> list[bytes]:
    """Two deterministic ARC v1 shards (one plain, one
    per-record-gzipped) — the legacy Common Crawl fixture. Rows mix
    html/pdf payloads, a dns: record (reader skips non-http), and a
    newline-rich body (ARC framing is length-based, not
    line-based)."""
    import datetime as _dt


    def recs(base: int):
        ts = _dt.datetime(2009, 5, 4, 12, 30, base,
                          tzinfo=_dt.timezone.utc)
        out = []
        for i in range(6):
            body = ("<html><body>" +
                    f"<p>legacy capture {base}-{i} " * (3 + i) +
                    "</p></body></html>").encode()
            out.append({"url": f"http://arc{base}.example/p{i}",
                        "warc_ts": ts, "body": body,
                        "ip": f"10.0.{base}.{i}"})
        out.append({"url": f"http://arc{base}.example/doc.pdf",
                    "warc_ts": ts, "body": b"%PDF-1.2 " + b"x" * 64,
                    "content_type": "application/pdf"})
        out.append({"url": f"dns:arc{base}.example", "warc_ts": ts,
                    "body": b"10.0.0.1", "mime": "text/dns"})
        out.append({"url": f"https://arc{base}.example/nl",
                    "warc_ts": ts,
                    "body": b"line one\n\nline two\nhttp://not.a/rec "
                            b"0.0.0.0 20090101000000 text/html 5\n"})
        return out

    return [warcx.build_arc(recs(1)),
            warcx.build_arc(recs(2), gzip_records=True)]


def _wacz_rows() -> list[dict]:
    return fixtures.wacz_file_rows(12)


def _wacz_captures_sql() -> str:
    """Oracle for wacz_captures: the PURE extractor feeds the VALUES
    rows (the arc_documents precedent — the container composition
    itself is pinned by tests/test_wacz.py round-trips); this row
    isolates the distributed Arrow plumbing of the WACZ source."""
    rows = []
    for r in _wacz_rows():
        for c in parse_wacz(r["payload"])["captures"]:
            ts = c["ts"].strftime("%Y-%m-%d %H:%M:%S")
            rows.append(
                "('{}', '{}', '{}', TIMESTAMP '{}', '{}', '{}', "
                "{}::int, '{}', {}::bigint, {}::bigint, '{}')".format(
                    r["url"], c["index_path"], c["urlkey"], ts,
                    c["url"], c["mime"], c["status"], c["digest"],
                    c["length"], c["offset"], c["filename"]))
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(wacz, index_path, urlkey, ts, url, mime, status,
             digest, length, "offset", filename)
        ORDER BY wacz, urlkey, ts, "offset\""""


def _wacz_audit_sql() -> str:
    """Oracle for wacz_audit: pure-fed VALUES over the manifest
    integrity rows (NULL-typed casts keep the tri-state audit
    columns exact)."""

    def b(v):
        return "NULL::boolean" if v is None else str(v).lower()

    def i(v):
        return "NULL::bigint" if v is None else f"{v}::bigint"

    rows = []
    for r in _wacz_rows():
        for res in parse_wacz(r["payload"])["resources"]:
            rows.append(
                "('{}', '{}', {}, {}, {}, {})".format(
                    r["url"], res["path"], i(res["declared_bytes"]),
                    i(res["actual_bytes"]), b(res["size_ok"]),
                    b(res["hash_ok"])))
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(wacz, path, declared_bytes, actual_bytes,
             size_ok, hash_ok)
        ORDER BY wacz, path"""


def _arc_sql() -> str:
    """Oracle for arc_documents: the PURE extractor feeds the VALUES
    rows (the http_decode_captures precedent — ARC framing itself is
    pinned by tests/test_warc.py round-trips); this row isolates the
    distributed Arrow plumbing of the legacy-crawl source."""
    import hashlib

    rows = []
    for blob in _arc_shards():
        for r in parse_arc(blob):
            if not r["url"].startswith(("http://", "https://")):
                continue
            ts = r["warc_ts"].strftime("%Y-%m-%d %H:%M:%S")
            rows.append(
                "('{}', TIMESTAMP '{}', {}::bigint, '{}')".format(
                    r["url"], ts, len(r["body"]),
                    hashlib.md5(r["body"]).hexdigest()))
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, warc_ts, n_bytes, body_md5)
        ORDER BY url"""


def _httpdec_sql() -> str:
    """Oracle for http_decode_captures: the PURE extractor feeds the
    VALUES rows (the fetch_schedule_delayed precedent — decode
    semantics themselves are pinned by tests/test_warc.py's chunked/
    gzip/deflate vectors and the encode-decode round-trip); this row
    isolates the distributed Arrow plumbing of the capture view."""
    rows = []
    for r in parse_warc(_enc_shard()):
        ce = ("NULL" if r["content_encoding"] is None
              else "'{}'".format(r["content_encoding"]))
        rows.append("('{}', {}, {}, '{}', {}::bigint)".format(
            r["url"], ce, str(r["decoded"]).lower(),
            sniff_kind(r["body"]), len(r["body"])))
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, content_encoding, decoded, sniffed_kind, n_bytes)
        ORDER BY url"""


# X-Robots-Tag gate sample (VALUES fixture both sides — the reader
# half is pinned by the WARC round-trip pytest): plain/none/agent-
# scoped/case/substring-trap/absent quadrants
_XR_ROWS = (
    ("https://xr.example/plain", "noindex"),
    ("https://xr.example/multi", "noindex, nofollow"),
    ("https://xr.example/none", "none"),
    ("https://xr.example/agent", "googlebot: noindex"),
    ("https://xr.example/case", " NOARCHIVE , NoSnippet "),
    ("https://xr.example/trap", "nonessential, nofollowup"),
    ("https://xr.example/ok", "index, follow"),
    ("https://xr.example/after", "unavailable_after: 25 Jun 2030"),
    ("https://xr.example/absent", None),
)


_LINK_ROWS = (
    ("https://lh.example/page2",
     '<https://lh.example/page3>; rel="next", '
     '<https://lh.example/page1>; rel="prev"'),
    ("https://lh.example/doc.pdf",
     '</doc.pdf?page=2>; REL=next; type="application/pdf"'),
    ("https://lh.example/multi",
     '<https://lh.example/c>; title="a, b, c"; '
     'rel="canonical alternate"'),
    ("https://lh.example/unquoted",
     "<https://lh.example/n>; rel=next; anchor=\"#s\""),
    ("https://lh.example/norel",
     '<https://lh.example/x>; hreflang="de"; type="text/html"'),
    ("https://lh.example/guard", "<u>; barrel=next, <v>; rel=prev"),
    ("https://lh.example/emptyq",
     '<https://lh.example/e>; rel=""; rel=fallback'),
    ("https://lh.example/case",
     '<https://lh.example/UP>; Rel="NEXT Preload"'),
    ("https://lh.example/feed",
     '</atom.xml>; rel="alternate"; type="application/atom+xml", '
     '</style.css>; rel=stylesheet'),
    ("https://lh.example/malformed", 'rel="next" no entity here'),
    ("https://lh.example/absent", None),
)


def _link_header_sql() -> str:
    """DuckDB twin of webtext.link_header_relations over the same
    VALUES rows: entity scan / rel extraction / token split patterns
    are GENERATED from the extractor/warcx.py constants (the _W_SQL
    precedent), group-indexed regexp_extract both engines."""
    vals = ", ".join(
        "('{}', {})".format(
            u, "NULL" if v is None else "'" + v.replace("'", "''") + "'")
        for u, v in _LINK_ROWS)
    return f"""
        WITH t AS (SELECT * FROM (VALUES {vals})
                   AS t(url, link_header)),
        e AS (
          SELECT url, unnest(regexp_extract_all(link_header,
                 '{LINK_ENTITY_RE}')) AS ent
          FROM t
        ), r AS (
          SELECT url,
                 regexp_extract(ent, '^<([^>]*)>', 1) AS href,
                 CASE WHEN regexp_extract(ent, '{LINK_REL_Q_RE}', 2)
                           != ''
                      THEN regexp_extract(ent, '{LINK_REL_Q_RE}', 2)
                      ELSE regexp_extract(ent, '{LINK_REL_U_RE}', 2)
                 END AS rel
          FROM e
        )
        SELECT url, href, lower(tok) AS rel
        FROM (SELECT url, href,
                     unnest(string_split_regex(rel,
                            '{LINK_TOKEN_SPLIT_RE}')) AS tok
              FROM r WHERE href != '' AND rel != '')
        WHERE tok != ''
        ORDER BY url, href, rel"""


def _ct_gate_sql() -> str:
    """DuckDB twin of webtext.content_type_mismatch over the same
    VALUES rows: the normalization and CASE exprs are the SAME
    strings the Spark side compiles (split_part/CASE are syntax-
    identical across the engines)."""
    vals = ",\n".join(
        "({}, {}, '{}')".format(
            f"'{u}'", "NULL" if ct is None else f"'{ct}'", k)
        for u, ct, k in _CT_ROWS)
    norm = webtext.mime_norm_expr("content_type")
    case = webtext.expected_kind_case("mime_norm")
    return f"""
        WITH caps(url, content_type, sniffed_kind) AS (VALUES {vals}),
        n AS (SELECT url, {norm} AS mime_norm, sniffed_kind FROM caps)
        SELECT url, mime_norm, {case} AS expected_kind, sniffed_kind,
               ({case} != 'unknown'
                AND {case} != sniffed_kind) AS mismatch
        FROM n"""


# (host, robots.txt payload) pairs for the Crawl-delay schedule: the
# hosts are frontier SURT host prefixes; payloads cover a plain
# delay, a fractional one, an agent-specific group shadowing '*', an
# invalid value (ignored), and a delay-less file
_ROBOTS_DELAY_SET = (
    ("src19,h4", "User-agent: *\nCrawl-delay: 2\nDisallow: /tmp\n"),
    ("src5,h0", "User-agent: *\nCrawl-delay: 0.5\n"),
    ("src13,h3", "User-agent: sparkbot\nCrawl-delay: 7\n"
                 "User-agent: *\nCrawl-delay: 60\n"),
    ("src11,h1", "User-agent: *\nCrawl-delay: soon\n"),
    ("src9,h4", "User-agent: *\nDisallow: /private\n"),
)


def _schedule_delay_sql() -> str:
    """DuckDB twin of fetch_schedule_delayed: the fetch_schedule
    window twin + a LEFT JOIN against the delays VALUES — generated
    from the SAME robots payload constants through the SAME Python
    parser the Spark query uses (one parser, two engines fed
    identical integers; only the schedule composition is
    cross-engine-checked, delay parsing is pinned by pure pytest)."""
    rows = [(h, parse_crawl_delay(p, agent="sparkbot"))
            for h, p in _ROBOTS_DELAY_SET]
    vals = ", ".join(f"('{h}', {d})" for h, d in rows if d is not None)
    return f"""
        WITH fc AS ({_frontier_sql()}),
        r AS (
          SELECT url, str_split(urlkey, ')')[1] AS host,
                 CASE priority WHEN 'high' THEN 0
                      WHEN 'normal' THEN 1 ELSE 2 END AS pr
          FROM fc),
        k2 AS (
          SELECT url, host, row_number() OVER (
            PARTITION BY host ORDER BY pr, url) - 1 AS rk
          FROM r),
        d(host, crawl_delay_ms) AS (VALUES {vals}),
        s AS (
          SELECT k2.url, k2.host, (rk // 3)::bigint AS batch,
                 (rk % 3)::bigint AS slot,
                 coalesce(d.crawl_delay_ms, 1000)::bigint AS delay_ms
          FROM k2 LEFT JOIN d ON k2.host = d.host)
        SELECT url, host, batch, slot, delay_ms,
               (batch * delay_ms)::bigint AS not_before_ms
        FROM s"""


def _synth_snapshots(docs):
    """Three derived crawl snapshots of the documents table (s = 0..2:
    every 4th url absent per snapshot, every 3rd url's text changes
    after s=0) plus a same-ts conflict slice (doc_id % 10 == 0 at
    ts=2) so the md5 tiebreak is exercised. Shared by the
    snapshot_latest and recrawl_priority queries; the SQL twin is
    ``_SNAP_CTE``."""
    snaps = []
    for s in range(3):
        snaps.append(
            docs.where((F.col("doc_id") + s) % 4 != 0)
            .select(F.concat(F.lit("https://"), F.col("source"),
                             F.lit("/doc-"), F.col("doc_id"))
                    .alias("url"),
                    F.lit(s).cast("long").alias("fetch_ts"),
                    F.when((F.lit(s) > 0) & (F.col("doc_id") % 3 == 0),
                           F.concat("text", F.lit(f" v{s}")))
                    .otherwise(F.col("text")).alias("text")))
    snaps.append(
        docs.where(F.col("doc_id") % 10 == 0)
        .select(F.concat(F.lit("https://"), F.col("source"),
                         F.lit("/doc-"), F.col("doc_id")).alias("url"),
                F.lit(2).cast("long").alias("fetch_ts"),
                F.concat("text", F.lit(" alt")).alias("text")))
    allsnaps = snaps[0]
    for s in snaps[1:]:
        allsnaps = allsnaps.unionByName(s)
    return allsnaps


_SNAP_CTE = """s AS (
              SELECT 'https://' || source || '/doc-' || doc_id AS url,
                     s::bigint AS fetch_ts,
                     CASE WHEN s > 0 AND doc_id % 3 = 0
                          THEN text || ' v' || s
                          ELSE text END AS text
              FROM documents, unnest(generate_series(0, 2)) AS g(s)
              WHERE (doc_id + s) % 4 != 0
              UNION ALL
              SELECT 'https://' || source || '/doc-' || doc_id,
                     2::bigint, text || ' alt'
              FROM documents WHERE doc_id % 10 = 0
            )"""


def _surt_sql(x: str) -> str:
    """DuckDB twin of ``functions.surt_urlkey`` (and of the Python
    ``extractor.cdxx.surt_key``): the same regexp/list pipeline step
    for step — fragment, scheme, userinfo, host case/www/ports, label
    reversal, query-param sort."""
    u = f"regexp_replace(trim({x}), '#.*$', '')"
    scheme = "'^[A-Za-z][A-Za-z0-9+.\\-]*://'"
    u2 = f"regexp_replace({u}, {scheme}, '')"
    u3 = f"regexp_replace({u2}, '^[^/@?]*@', '')"
    hostport = f"lower(regexp_extract({u3}, '^[^/?]*', 0))"
    rest = f"regexp_extract({u3}, '^[^/?]*([/?].*)$', 1)"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    host = (f"regexp_replace(regexp_replace({hostport},"
            f" ':[0-9]+$', ''), '^www\\.', '')")
    revhost = f"array_to_string(list_reverse(str_split({host}, '.')), ',')"
    portpart = (f"CASE WHEN {port} <> '' AND {port} NOT IN ('80', '443')"
                f" THEN ':' || {port} ELSE '' END")
    rawpath = f"regexp_extract({rest}, '^([^?]*)', 1)"
    path = f"CASE WHEN {rawpath} = '' THEN '/' ELSE {rawpath} END"
    q = f"regexp_extract({rest}, '\\?(.*)$', 1)"
    qpart = (f"CASE WHEN {q} <> '' THEN '?' || array_to_string("
             f"list_sort(str_split({q}, '&')), '&') ELSE '' END")
    return (f"CASE WHEN NOT regexp_matches({u}, {scheme})"
            f" OR {host} = '' THEN ''"
            f" ELSE {revhost} || {portpart} || ')' || {path} || {qpart}"
            f" END")


# Synthetic CDX capture index derived from documents, same arithmetic
# on both engines: per-doc url (www/port/query-param variety for the
# SURT twin), mod-class mime/status gates, digest dup classes
# (doc_id % 211 -> every digest group spans many captures), and
# locator fields. Shared by the surt_urlkey and cdx_fetch_plan twins.
_CDX_CTE = f"""c AS (
      SELECT doc_id,
             'https://' ||
             CASE WHEN doc_id % 9 = 0 THEN 'WWW.' ELSE '' END ||
             'h' || (doc_id % 5) || '.' || source ||
             CASE WHEN doc_id % 7 = 0 THEN ':8080'
                  WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END ||
             '/P' || doc_id ||
             CASE WHEN doc_id % 3 = 0 THEN '?z=' || doc_id || '&a=1'
                  ELSE '' END AS url,
             TIMESTAMP '2024-01-01' + (doc_id % 97) * INTERVAL 1 SECOND
               AS ts,
             CASE WHEN doc_id % 13 = 7 THEN 'application/pdf'
                  ELSE 'text/html' END AS mime,
             CASE WHEN doc_id % 17 = 5 THEN 404
                  WHEN doc_id % 23 = 11 THEN 301 ELSE 200 END AS status,
             md5(cast(doc_id % 211 AS varchar)) AS digest,
             (200 + doc_id % 700)::bigint AS length,
             (doc_id * 1000)::bigint AS "offset",
             'shard-' || (doc_id % 8) AS filename
      FROM documents
    ), k AS (SELECT *, {_surt_sql('url')} AS urlkey FROM c)"""


def _synth_cdx(docs: DataFrame) -> DataFrame:
    """Spark half of ``_CDX_CTE``: the same synthetic capture index,
    urlkey via the codegen ``functions.surt_urlkey``."""

    # the ~25-regex/row derivation otherwise runs on the table's ONE
    # scan split (r6; see spread_small_scan)
    docs = spread_small_scan(docs.select("doc_id", "source"))
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(did % 9 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("h"), (did % 5).cast("string"), F.lit("."),
        F.col("source"),
        F.when(did % 7 == 0, F.lit(":8080"))
        .when(did % 11 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/P"), did.cast("string"),
        F.when(did % 3 == 0,
               F.concat(F.lit("?z="), did.cast("string"),
                        F.lit("&a=1"))).otherwise(F.lit("")))
    return docs.select(
        "doc_id",
        fn.surt_urlkey(url).alias("urlkey"),
        F.expr("timestamp'2024-01-01 00:00:00'"
               " + (doc_id % 97) * INTERVAL '1' SECOND").alias("ts"),
        url.alias("url"),
        F.when(did % 13 == 7, F.lit("application/pdf"))
        .otherwise(F.lit("text/html")).alias("mime"),
        F.when(did % 17 == 5, F.lit(404))
        .when(did % 23 == 11, F.lit(301))
        .otherwise(F.lit(200)).cast("int").alias("status"),
        F.md5((did % 211).cast("string")).alias("digest"),
        (F.lit(200) + did % 700).cast("long").alias("length"),
        (did * 1000).cast("long").alias("offset"),
        F.concat(F.lit("shard-"),
                 (did % 8).cast("string")).alias("filename"))


def _fetch_plan_sql() -> str:
    """cdx_fetch_plan DuckDB query over the synthetic capture index —
    shared by the cdx_fetch_plan oracle and the resolve_revisits
    oracle that joins against it."""
    return f"""
            WITH {_CDX_CTE}, gated AS (
              SELECT * FROM k
              WHERE status = 200 AND mime = 'text/html'
            ), ranked AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY digest
                       ORDER BY ts, urlkey, filename, "offset") AS rn,
                     count(*) OVER (PARTITION BY digest) AS nc,
                     sum(length) OVER (PARTITION BY digest) AS ba
              FROM gated)
            SELECT digest, url, urlkey, epoch(ts)::bigint AS ts_s,
                   filename, "offset", length, nc::bigint AS n_copies,
                   (ba - length)::bigint AS bytes_saved
            FROM ranked WHERE rn = 1"""


def _frontier_sql() -> str:
    """Frontier-candidates DuckDB query (discovery minus capture
    history) — shared by the frontier_candidates oracle and the
    fetch_schedule oracle that windows over it."""
    return f"""
            WITH {_CDX_CTE}, d AS (
              SELECT CASE WHEN doc_id % 2 = 0 THEN url
                     ELSE regexp_replace(url, '/P.*$', '')
                          || '/NEW-' || doc_id END AS loc,
                     (['daily', 'weekly', NULL, 'hourly', NULL])
                       [doc_id % 5 + 1] AS changefreq,
                     CASE WHEN doc_id % 6 = 1 THEN 9000
                          WHEN doc_id % 6 = 3 THEN 3000 END
                       AS priority_bp
              FROM k
            ), dk AS (
              SELECT loc AS url, {_surt_sql('loc')} AS urlkey,
                     changefreq, priority_bp FROM d)
            SELECT url, urlkey, changefreq,
                   priority_bp::int AS priority_bp,
                   CASE WHEN changefreq IN ('always', 'hourly', 'daily')
                             OR priority_bp >= 7000 THEN 'high'
                        WHEN changefreq IS NOT NULL
                             OR priority_bp IS NOT NULL THEN 'normal'
                        ELSE 'low' END AS priority
            FROM dk
            WHERE NOT EXISTS (
              SELECT 1 FROM k WHERE k.urlkey = dk.urlkey)"""


# URL-canonicalization fixture (deterministic VALUES both sides; no
# userinfo urls — out of the normalizer's documented scope)
_URL_ROWS = [
    ("u1", "HTTPS://Example.COM:443/Path/To/Page#frag"),
    ("u2", "http://WWW.Example.com:80/a/b?q=1#x"),
    ("u3", "https://Sub.Domain.co.uk/path/"),
    ("u4", "http://example.com/"),
    ("u5", "https://example.com:8443/x"),
    ("u6", "HTTP://News.Site.org:80"),
    ("u7", "https://a.b.c.d.com/deep?x=2"),
    ("u8", "http://host.io:801/x"),       # NOT the default port
    # public-suffix registrable-domain cases (operators/psl.py)
    ("u9", "https://Shop.Example.COM.AU/item"),   # 2-label suffix
    ("u10", "http://www.school.k12.ca.us/"),      # 3-label suffix
    ("u11", "https://co.uk/"),                    # host IS a suffix -> ''
    ("u12", "http://blogs.dept.vic.edu.au/x"),    # 3-label, 4+ labels
]

# robots.txt rule fixture shared by the Spark query and its DuckDB twin
# (hosts = documents.source values; exercises longest-prefix override,
# whole-host disallow, equal-length allow-wins tie, and no-rule hosts)
_ROBOTS_RULES = [
    ("src0", "disallow", "/doc-1"), ("src0", "allow", "/doc-12"),
    ("src3", "disallow", "/"),
    ("src5", "disallow", "/doc-7"), ("src5", "allow", "/doc-7"),
]


def _xr_gate_sql() -> str:
    """DuckDB twin of webtext.header_robots_gate over the same VALUES
    rows: comma split -> strip agent prefix (greedy '^.*:' matches to
    the LAST colon in both regex engines) -> trim -> exact token
    compare, so substrings ('nonessential') never match."""
    vals = ",\n".join(
        "({}, {})".format(
            f"'{u}'", "NULL" if xr is None else f"'{xr}'")
        for u, xr in _XR_ROWS)
    toks = ("list_transform(string_split(lower(coalesce(x_robots, "
            "'')), ','), x -> trim(regexp_replace(x, '^.*:', '')))")
    return f"""
        WITH caps(url, x_robots) AS (VALUES {vals}),
        t AS (SELECT url, x_robots, {toks} AS toks FROM caps)
        SELECT url, x_robots,
               list_contains(toks, 'noindex')
                 OR list_contains(toks, 'none') AS noindex,
               list_contains(toks, 'nofollow')
                 OR list_contains(toks, 'none') AS nofollow,
               list_contains(toks, 'noarchive') AS noarchive,
               list_contains(toks, 'nosnippet') AS nosnippet,
               NOT (list_contains(toks, 'noindex')
                 OR list_contains(toks, 'none')) AS keep
        FROM t"""


# --- crawl snapshot delta (incremental recrawl planner) —
# SQL-checked; old/new snapshots derived deterministically from
# the documents table on both sides
# crawl snapshot delta: full-outer join of (url, md5) projections;
# old/new derived from documents with the same arithmetic filters
@query("crawl_delta", oracle=lambda: """
            WITH docs AS (
              SELECT 'https://' || source || '/doc-' || doc_id AS url,
                     doc_id, text
              FROM documents
            ), old AS (
              SELECT url, md5(text) AS h_old FROM docs WHERE doc_id % 7 != 0
            ), new AS (
              SELECT url, md5(CASE WHEN doc_id % 3 = 0
                                   THEN text || ' updated'
                                   ELSE text END) AS h_new
              FROM docs WHERE doc_id % 5 != 0
            )
            SELECT coalesce(old.url, new.url) AS url,
                   CASE WHEN h_old IS NULL THEN 'added'
                        WHEN h_new IS NULL THEN 'deleted'
                        WHEN h_old = h_new THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   h_new AS content_hash
            FROM old FULL OUTER JOIN new ON old.url = new.url""")
def q_crawl_delta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = (docs.where(F.col("doc_id") % 5 != 0)
           .withColumn("text", F.when(
               F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(" updated")))
               .otherwise(F.col("text"))))
    return webtext.crawl_delta(old, new)


# --- latest-wins snapshot consolidation — SQL-checked (QUALIFY
# twin; md5 tiebreak exercised by a same-ts conflict slice)
@query("snapshot_latest", oracle=lambda: f"""
            WITH {_SNAP_CTE}
            SELECT url, fetch_ts, md5(text) AS content_hash
            FROM s
            QUALIFY row_number() OVER (PARTITION BY url
                    ORDER BY fetch_ts DESC, md5(text) DESC) = 1""")
def q_snapshot_latest(spark, sf_dir):
    allsnaps = _synth_snapshots(_t(spark, sf_dir, "documents"))
    return (webtext.snapshot_latest(allsnaps)
            .select("url", "fetch_ts",
                    F.md5("text").alias("content_hash")))


# --- recrawl priority from the same multi-snapshot history —
# SQL-checked (integer change_bp, groupBy twin)
@query("recrawl_priority", oracle=lambda: f"""
            WITH {_SNAP_CTE}, g AS (
              SELECT url, count(*)::bigint AS n_fetches,
                     count(DISTINCT md5(text))::bigint AS n_versions,
                     max(fetch_ts)::bigint AS last_ts
              FROM s GROUP BY url
            ), c AS (
              SELECT *, (CASE WHEN n_fetches > 1
                         THEN ((n_versions - 1) * 10000)
                              // (n_fetches - 1)
                         ELSE 0 END)::bigint AS change_bp
              FROM g)
            SELECT url, n_fetches, n_versions, last_ts, change_bp,
                   CASE WHEN change_bp >= 5000 THEN 'hot'
                        WHEN change_bp > 0 THEN 'warm'
                        ELSE 'cold' END AS priority
            FROM c""")
def q_recrawl(spark, sf_dir):
    allsnaps = _synth_snapshots(_t(spark, sf_dir, "documents"))
    return webtext.recrawl_priority(allsnaps)


# --- SURT urlkey (CDX sort key) as pure column exprs — SQL-checked
# (identical regexp/list pipeline in DuckDB; www/port/query-sort
# variety synthesized per doc)
@query("surt_urlkey", oracle=lambda: f"""
            WITH {_CDX_CTE}
            SELECT doc_id, url, urlkey FROM k""")
def q_surt(spark, sf_dir):
    return _synth_cdx(_t(spark, sf_dir, "documents")).select(
        "doc_id", "url", "urlkey")


# --- CDX fetch planning: status/mime gate + digest dedup to ONE
# record locator per payload — SQL-checked (QUALIFY row_number
# twin over the same synthetic capture index)
@query("cdx_fetch_plan", oracle=_fetch_plan_sql)
def q_cdx_plan(spark, sf_dir):
    cdx = _synth_cdx(_t(spark, sf_dir, "documents"))
    plan = webtext.cdx_fetch_plan(cdx)
    return plan.select(
        "digest", "url", "urlkey", F.col("ts").cast("long")
        .alias("ts_s"), "filename", "offset", "length",
        "n_copies", "bytes_saved")


# --- frontier candidates: sitemap-discovered URLs never captured
# (SURT anti-join vs the capture index) — SQL-checked (NOT EXISTS
# twin; even doc_ids rediscover captured urls, odd ones are novel)
@query("frontier_candidates", oracle=_frontier_sql)
def _synth_frontier(spark, sf_dir):
    # the capture index feeds BOTH join sides (disc derives loc
    # from it, captured projects urlkey) — left lazy, the whole
    # regex derivation runs twice (r6: checkpoint once per run)
    cdx = _synth_cdx(_t(spark, sf_dir, "documents")).localCheckpoint()
    did = F.col("doc_id")
    loc = F.when(did % 2 == 0, F.col("url")).otherwise(
        F.concat(F.regexp_replace(F.col("url"), "/P.*$", ""),
                 F.lit("/NEW-"), did.cast("string")))
    freq = F.element_at(
        F.array(F.lit("daily"), F.lit("weekly"),
                F.lit(None).cast("string"), F.lit("hourly"),
                F.lit(None).cast("string")),
        (did % 5 + 1).cast("int"))
    pr = (F.when(did % 6 == 1, F.lit(9000))
          .when(did % 6 == 3, F.lit(3000))
          .otherwise(F.lit(None))).cast("int")
    disc = cdx.select(loc.alias("loc"), freq.alias("changefreq"),
                      pr.alias("priority_bp"))
    return webtext.frontier_candidates(disc, cdx)


# --- politeness fetch scheduling over the frontier: per-host
# batches of <= budget URLs, priority-first — SQL-checked
# (row_number window twin over the same frontier)
@query("fetch_schedule", oracle=lambda: f"""
            WITH fc AS ({_frontier_sql()}),
            r AS (
              SELECT url, str_split(urlkey, ')')[1] AS host,
                     CASE priority WHEN 'high' THEN 0
                          WHEN 'normal' THEN 1 ELSE 2 END AS pr
              FROM fc),
            k2 AS (
              SELECT url, host, row_number() OVER (
                PARTITION BY host ORDER BY pr, url) - 1 AS rk
              FROM r)
            SELECT url, host, (rk // 3)::bigint AS batch,
                   (rk % 3)::bigint AS slot
            FROM k2""")
def q_schedule(spark, sf_dir):
    return webtext.fetch_schedule(
        _synth_frontier(spark, sf_dir), per_host_budget=3)


# --- Crawl-delay-paced scheduling: delays parsed from robots
# payloads HOST-SIDE (robots.parse_crawl_delay -> integer ms), so
# both engines receive identical integers and the schedule math
# is pure int64. Covers: plain/fractional/agent-specific delays,
# an invalid value (ignored -> default), absent hosts (-> default)
# Crawl-delay-paced politeness schedule (single Python parser
# feeds both engines; int64 pacing math)
@query("fetch_schedule_delayed", oracle=_schedule_delay_sql)
def q_schedule_delayed(spark, sf_dir):
    delays = [(h, parse_crawl_delay(p, agent="sparkbot"))
              for h, p in _ROBOTS_DELAY_SET]
    ddf = spark.createDataFrame(
        [(h, d) for h, d in delays if d is not None],
        "host string, crawl_delay_ms long")
    return webtext.fetch_schedule_delayed(
        _synth_frontier(spark, sf_dir), ddf, per_host_budget=3,
        default_delay_ms=1000)


# --- URL canonicalization (web-corpus hygiene) — SQL-checked
# URL canonicalization over the shared VALUES fixture (RE2 \\1
# backrefs; the Spark twin uses Java's $1 — same regexes)
@query("url_normalize", oracle=lambda: r"""
            WITH t(row_id, url) AS (VALUES {vals}),
            s1 AS (SELECT row_id, url,
                          regexp_replace(url, '#.*$', '') AS u FROM t),
            s2 AS (SELECT row_id, url,
                     lower(regexp_extract(u, '^[^:/?#]+://[^/?#]*'))
                     || substr(u, length(regexp_extract(u,
                          '^[^:/?#]+://[^/?#]*')) + 1) AS u
                   FROM s1),
            s3 AS (SELECT row_id, url, regexp_replace(regexp_replace(u,
                     '^(http://[^/?#]*):80([/?#].*)?$', '\1\2'),
                     '^(https://[^/?#]*):443([/?#].*)?$', '\1\2') AS u
                   FROM s2),
            s4 AS (SELECT row_id, url, regexp_replace(u,
                     '^([a-z]+://[^/?#]+)/$', '\1') AS u FROM s3),
            h AS (SELECT row_id, u,
                    lower(regexp_extract(url,
                      '^[^:/?#]+://([^/?#:@]+)', 1)) AS host
                  FROM s4)
            SELECT row_id, u AS url_norm, host,
                   CASE WHEN regexp_extract(host,
                          '([^.]+\.[^.]+\.[^.]+)$', 1) IN ({suf3})
                        THEN regexp_extract(host,
                          '([^.]+\.[^.]+\.[^.]+\.[^.]+)$', 1)
                        WHEN regexp_extract(host,
                          '([^.]+\.[^.]+)$', 1) IN ({suf2})
                        THEN regexp_extract(host,
                          '([^.]+\.[^.]+\.[^.]+)$', 1)
                        ELSE regexp_extract(host,
                          '([^.]+\.[^.]+)$', 1) END AS domain
            FROM h""".replace("{vals}", ", ".join(
    f"('{r}', '{u}')" for r, u in _URL_ROWS))
.replace("{suf3}", ", ".join(
    f"'{s}'" for s in sorted(_psl.SUFFIX_3)))
.replace("{suf2}", ", ".join(
    f"'{s}'" for s in sorted(_psl.SUFFIX_2))))
def q_url_norm(spark, sf_dir):
    df = spark.createDataFrame(_URL_ROWS, "row_id string, url string")
    return webtext.normalize_urls(df).select(
        "row_id", "url_norm", "host", "domain")


# --- crawl-trap detection over capture history — SQL-checked
# (trap hosts mint distinct urls over one content digest; normal
# hosts stay under min_urls)
@query("crawl_trap_score", oracle=lambda: """
            WITH cap AS (
              SELECT 'https://trap.' || source || '/cal?d=' || doc_id
                       AS url,
                     md5('trap-' || source) AS digest
              FROM documents
              UNION ALL
              SELECT 'https://h' || (doc_id % 5) || '.' || source
                       || '/p' || doc_id,
                     md5(doc_id::varchar)
              FROM documents
            ), h AS (
              SELECT lower(regexp_replace(regexp_extract(url,
                       '^[^:/?#]+://([^/?#:@]+(?::\\d+)?)', 1),
                       ':\\d+$', '')) AS host, url, digest
              FROM cap
            ), g AS (
              SELECT host, count(DISTINCT url)::bigint AS n_urls,
                     count(DISTINCT digest)::bigint AS n_contents
              FROM h WHERE host <> '' GROUP BY host
            )
            SELECT host, n_urls, n_contents,
                   (n_urls * 10000 // n_contents)::bigint
                     AS urls_per_content_bp,
                   (n_urls >= 10 AND
                    (n_urls * 10000 // n_contents) >= 50000) AS trap
            FROM g""")
def q_trap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    trap = docs.select(
        F.concat(F.lit("https://trap."), F.col("source"),
                 F.lit("/cal?d="), did.cast("string")).alias("url"),
        F.md5(F.concat(F.lit("trap-"),
                       F.col("source"))).alias("digest"))
    normal = docs.select(
        F.concat(F.lit("https://h"), (did % 5).cast("string"),
                 F.lit("."), F.col("source"), F.lit("/p"),
                 did.cast("string")).alias("url"),
        F.md5(did.cast("string")).alias("digest"))
    return webtext.crawl_trap_score(trap.unionByName(normal),
                                    min_urls=10)


# --- WARC revisit resolution: bodyless digest pointers -> the
# stored canonical copy's record locator — SQL-checked (digest
# equi-join twin against the shared fetch-plan query; odd doc_ids
# replay the digest classes the plan kept)
@query("resolve_revisits", oracle=lambda: f"""
            WITH plan AS ({_fetch_plan_sql()}),
            rev AS (
              SELECT 'https://replay.io/r' || doc_id AS url,
                     TIMESTAMP '2024-01-01'
                       + (doc_id % 97) * INTERVAL 1 SECOND AS warc_ts,
                     md5(cast(doc_id % 211 AS varchar)) AS digest
              FROM documents WHERE doc_id % 2 = 1
            )
            SELECT rev.url, epoch(rev.warc_ts)::bigint AS ts_s,
                   rev.digest, plan.filename, plan."offset",
                   plan.length, plan.url AS canonical_url
            FROM rev JOIN plan USING (digest)""")
def q_revisits(spark, sf_dir):
    cdx = _synth_cdx(_t(spark, sf_dir, "documents"))
    plan = webtext.cdx_fetch_plan(cdx)
    did = F.col("doc_id")
    rev = (cdx.where(did % 2 == 1)
           .select(F.concat(F.lit("https://replay.io/r"),
                            did.cast("string")).alias("url"),
                   F.col("ts").alias("warc_ts"), "digest"))
    out = webtext.resolve_revisits(rev, plan)
    return out.select("url", F.col("warc_ts").cast("long")
                      .alias("ts_s"), "digest", "filename",
                      "offset", "length", "canonical_url")


# --- robots.txt compliance gate (RFC 9309 longest-prefix match) —
# SQL-checked; rule table from the shared VALUES fixture
# robots gate: host equi-join + longest-prefix window, allow
# wins length ties (RFC 9309); unknown host / no match => allow
@query("robots_gate", oracle=lambda: """
            WITH d AS (
              SELECT 'https://' || source || '/doc-' || doc_id AS url,
                     source AS host, '/doc-' || doc_id AS path
              FROM documents
            ), r(host, rule, prefix) AS (VALUES {rvals}),
            m AS (
              SELECT d.url, d.host, d.path, r.rule, r.prefix,
                     (r.prefix IS NOT NULL
                      AND starts_with(d.path, r.prefix)) AS hit
              FROM d LEFT JOIN r ON d.host = r.host
            )
            SELECT url, host, path,
                   (CASE WHEN hit AND rule = 'disallow' THEN 0
                    ELSE 1 END)::bigint AS allowed
            FROM m
            QUALIFY row_number() OVER (
              PARTITION BY url, path
              ORDER BY CASE WHEN hit THEN length(prefix)
                       ELSE -1 END DESC,
                       CASE WHEN rule = 'allow' THEN 0 ELSE 1 END ASC)
              = 1""".replace("{rvals}", ", ".join(
    f"('{h}', '{r}', '{p}')" for h, r, p in _ROBOTS_RULES)))
def q_robots(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, rule string, prefix string")
    return robots.robots_filter(d, rules)


# --- served-vs-sniffed content-type gate (VALUES fixture both
# sides — the reader half is pinned by the WARC round-trip pytest;
# this row isolates the gate logic, the quality-gate pattern)
# served-vs-sniffed content-type gate (shared exprs, VALUES)
@query("content_type_mismatch", oracle=_ct_gate_sql)
def q_ct_gate(spark, sf_dir):
    caps = spark.createDataFrame(
        [(u, ct, k) for u, ct, k in _CT_ROWS],
        "url string, content_type string, sniffed_kind string")
    return webtext.content_type_mismatch(caps)


# --- X-Robots-Tag gate (header-side noindex — the only channel
# for non-HTML payloads); VALUES fixture both sides, token-level
# matching so 'nonessential' never reads as 'none'
# X-Robots-Tag gate: token-level twin over the same VALUES
@query("header_robots_gate", oracle=_xr_gate_sql)
def q_xr_gate(spark, sf_dir):
    caps = spark.createDataFrame(
        list(_XR_ROWS), "url string, x_robots string")
    return webtext.header_robots_gate(caps)


# --- HTTP Link header relations (RFC 8288 — protocol-layer
# rel=next/canonical/alternate discovery for payloads with no
# HTML head) — patterns shared with extractor/warcx.py; twin
# generated from the same constants
# Link header relations (RFC 8288): entity/rel/token patterns
# generated from extractor/warcx.py constants
@query("link_header_relations", oracle=_link_header_sql)
def q_link_header(spark, sf_dir):
    caps = spark.createDataFrame(
        list(_LINK_ROWS), "url string, link_header string")
    return (webtext.link_header_relations(caps)
            .orderBy("url", "href", "rel"))


# --- in-page meta robots gate (third leg of the robots trio) —
# TRUE dual-engine token pipeline over the meta golden
# meta robots gate: the same token pipeline per engine
@query("meta_robots_gate", oracle=lambda: f"""
            WITH m AS (
              SELECT url, robots,
                     list_transform(
                         string_split(coalesce(robots, ''), ','),
                         x -> lower(trim(x))) AS toks
              FROM read_parquet('{_GOLDEN_META}'))
            SELECT url, robots,
                   NOT (list_contains(toks, 'noindex')
                        OR list_contains(toks, 'none')) AS indexable,
                   NOT (list_contains(toks, 'nofollow')
                        OR list_contains(toks, 'none')) AS followable
            FROM m ORDER BY url""")
def q_meta_robots(spark, sf_dir):
    m = spark.read.parquet(_GOLDEN_META)
    return pagemeta.meta_robots_gate(m).orderBy("url")


# --- HTTP redirect-chain resolution (VALUES fixture both sides —
# the Location-parsing reader half is pinned by the WARC
# round-trip pytest; this row isolates the walk, the
# content_type_mismatch pattern)
# redirect chains: depth-capped recursive CTE twin
@query("redirect_chains", oracle=_redir_sql)
def q_redirects(spark, sf_dir):
    caps = spark.createDataFrame(
        list(_REDIR_ROWS), "url string, status int, location string")
    return (webtext.redirect_chains(caps, max_hops=8)
            .orderBy("start_url"))


# --- HTTP body decoding (chunked TE + gzip/deflate CE) surfaced
# through the capture view: the fixture shard is deterministic
# bytes, the pure extractor feeds the oracle rows, and the decode
# vectors are pinned in tests/test_warc.py
# http body decoding: pure-extractor-fed VALUES twin
@query("http_decode_captures", oracle=_httpdec_sql)
def q_httpdec(spark, sf_dir):
    blobs = spark.createDataFrame([(_enc_shard(),)],
                                  "content binary")
    return (sources.warc_captures_from_blobs(blobs)
            .select("url", "content_encoding", "decoded",
                    "sniffed_kind", "n_bytes")
            .orderBy("url"))


# --- ARC v1 source (pre-2013 Common Crawl) — the pure extractor
# feeds the oracle VALUES; framing + round-trip pinned in
# tests/test_warc.py; this row isolates the Arrow plumbing
@query("arc_documents", oracle=_arc_sql)
def q_arc(spark, sf_dir):
    blobs = spark.createDataFrame(
        [(b,) for b in _arc_shards()], "content binary")
    return (sources.arc_documents_from_blobs(blobs)
            .select("url", "warc_ts",
                    F.length("html").cast("long").alias("n_bytes"),
                    F.md5("html").alias("body_md5"))
            .orderBy("url"))


# --- WACZ containers (webrecorder packaging: WARC shards + CDXJ
# locators + frictionless manifest) — index-only capture view +
# the manifest integrity audit; pure-fed VALUES oracles
@query("wacz_captures", oracle=_wacz_captures_sql)
def q_wacz_caps(spark, sf_dir):
    df = _payload_df(spark, _wacz_rows(), 4)
    return (sources.read_wacz_captures(df)
            .orderBy("wacz", "urlkey", "ts", "offset"))


@query("wacz_audit", oracle=_wacz_audit_sql)
def q_wacz_audit(spark, sf_dir):
    df = _payload_df(spark, _wacz_rows(), 4)
    return (sources.read_wacz_resources(df)
            .orderBy("wacz", "path"))
