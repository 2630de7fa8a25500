"""Browser captures: HAR and MHTML."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..extractor import harx, htmlx, mhtmlx
from . import _fixture, _flit, _payload_df, query


def _har_pages_sql() -> str:
    """Oracle for har_pages: the PURE parser feeds the VALUES rows
    (HAR grammar pinned by tests/test_har.py vectors + the entries
    golden). Timings are JSON-number doubles — _flit literals."""

    def s(v):
        return ("NULL" if v is None
                else "'" + v.replace("'", "''") + "'")

    def d(v):
        return ("CAST(NULL AS double)" if v is None
                else _flit(v))

    rows = []
    for r in fixtures.har_file_rows(12):
        for p in harx.parse_har(r["payload"])["pages"]:
            rows.append(
                f"({s(r['url'])}, {s(p['page_id'])}, "
                f"{s(p['started'])}, {s(p['title'])}, "
                f"{d(p['on_content_load_ms'])}, "
                f"{d(p['on_load_ms'])})")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, page_id, started, title, on_content_load_ms,
             on_load_ms)
        ORDER BY url, page_id"""


def _mhtml_pages_sql() -> str:
    """Oracle for mhtml_pages: the PURE parser + htmlx pipeline feed
    the VALUES rows (extraction itself is pinned elsewhere: golden
    corpus byte-identity + the mhtmlx round-trip vectors)."""

    def s(v):
        return ("NULL" if v is None
                else "'" + v.replace("'", "''") + "'")

    rows = []
    for r in fixtures.mhtml_file_rows(16):
        snap, html = mhtmlx.root_html(r["payload"])
        if not html:
            continue
        text, _spans, _score, title = htmlx.extract_html(html)
        rows.append(f"({s(r['url'])}, {s(snap)}, {s(title)}, "
                    f"{s(text)})")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, snapshot_url, title, text)
        ORDER BY url"""


_GOLDEN_MHTML = _fixture("golden_mhtml_seed42_n16.parquet")
_GOLDEN_HAR = _fixture("golden_har_seed42_n12.parquet")


# --- HAR capture source (devtools HTTP Archive JSON — the third
# capture container after WARC/WACZ; index-only view) — entries
# hash-checked against the committed golden; pages pure-fed
# VALUES; page weight reads the golden on BOTH sides
# HAR entries: committed golden pinned by tests/test_har.py
# against the pure re-derivation
@query("har_entries", oracle=lambda: f"""
            SELECT url, pos, pageref, started, method, request_url,
                   status, status_text, mime, body_size,
                   content_size, time_ms, server_ip, http_version
            FROM read_parquet('{_GOLDEN_HAR}')""")
def q_har_entries(spark, sf_dir):
    df = _payload_df(spark, fixtures.har_file_rows(12), 8)
    return sources.read_har_entries(df)


@query("har_pages", oracle=_har_pages_sql)
def q_har_pages(spark, sf_dir):
    df = _payload_df(spark, fixtures.har_file_rows(12), 8)
    return sources.read_har_pages(df)


# page weight: golden both sides; arg_min == Spark min_by,
# ordered list + list_filter == collect_list + filter
@query("har_page_weight", oracle=lambda: f"""
            WITH g AS (SELECT * FROM read_parquet('{_GOLDEN_HAR}')),
            h AS (SELECT *, split_part(split_part(request_url,
                     '://', 2), '/', 1) AS req_host FROM g),
            w AS (SELECT url, pageref,
                    count(*)::bigint AS n_requests,
                    sum(coalesce(content_size, 0))::bigint
                      AS total_content_bytes,
                    arg_min(req_host, pos) AS doc_host,
                    list(req_host ORDER BY pos) AS hosts
                  FROM h GROUP BY url, pageref)
            SELECT url, pageref, n_requests, total_content_bytes,
                   doc_host,
                   len(list_filter(hosts, x -> x != doc_host))
                     ::bigint AS n_third_party
            FROM w ORDER BY url, pageref""")
def q_har_page_weight(spark, sf_dir):
    # golden both sides: per-page request census + third-party
    # share (document host = host of the min-pos entry)
    g = spark.read.parquet(_GOLDEN_HAR)
    host = F.expr(
        "split(split(request_url, '://')[1], '/')[0]")
    w = (g.withColumn("req_host", host)
         .groupBy("url", "pageref")
         .agg(F.count(F.lit(1)).cast("long").alias("n_requests"),
              F.sum(F.coalesce("content_size", F.lit(0)))
              .cast("long").alias("total_content_bytes"),
              F.min_by("req_host", "pos").alias("doc_host"),
              F.collect_list("req_host").alias("_hosts")))
    return (w.select(
        "url", "pageref", "n_requests", "total_content_bytes",
        "doc_host",
        F.expr("cast(size(filter(_hosts, h -> h != doc_host)) "
               "as bigint)").alias("n_third_party"))
        .orderBy("url", "pageref"))


# --- MHTML web-archive source (browser "Save as MHTML"
# snapshots; reuses the mailx MIME machinery) — resource census
# hash-checked against the committed golden; page text runs the
# ONE htmlx pipeline (pure-fed VALUES twin)
# MHTML resource census: committed golden pinned by
# tests/test_mhtml.py against the pure re-derivation
@query("mhtml_resources", oracle=lambda: f"""
            SELECT url, snapshot_url, pos, content_type,
                   content_location, content_id, is_root, size
            FROM read_parquet('{_GOLDEN_MHTML}')""")
def q_mhtml_resources(spark, sf_dir):
    df = _payload_df(spark, fixtures.mhtml_file_rows(16), 8)
    return sources.read_mhtml_resources(df)


@query("mhtml_pages", oracle=_mhtml_pages_sql)
def q_mhtml_pages(spark, sf_dir):
    df = _payload_df(spark, fixtures.mhtml_file_rows(16), 8)
    return sources.read_mhtml_pages(df)


@query("mhtml_asset_census", oracle=lambda: f"""
            SELECT content_type, count(*)::bigint AS n_parts,
                   sum(size)::bigint AS total_bytes,
                   count(DISTINCT url)::bigint AS n_archives
            FROM read_parquet('{_GOLDEN_MHTML}')
            GROUP BY content_type ORDER BY content_type""")
def q_mhtml_census(spark, sf_dir):
    # golden both sides: what does a snapshot corpus carry?
    g = spark.read.parquet(_GOLDEN_MHTML)
    return (g.groupBy("content_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_parts"),
                 F.sum("size").cast("long").alias("total_bytes"),
                 F.countDistinct("url").cast("long")
                 .alias("n_archives"))
            .orderBy("content_type"))
