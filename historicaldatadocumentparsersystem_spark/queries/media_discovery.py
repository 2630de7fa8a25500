"""Media discovery: media sitemaps, HLS, DASH, feeds and OPML."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..extractor import dashx, feedx, hlsx
from ..extractor.dashx import parse_mpd
from ..extractor.feedx import (
    parse_feed, parse_feed_enclosures, parse_sitemap_media)
from ..extractor.hlsx import parse_m3u8
from . import _GOLDEN_AV, _fixture, _payload_df, query


def _enclosure_feeds() -> list[bytes]:
    """Deterministic RSS/Atom fixtures with media attachments: a
    podcast feed (itunes durations in all three forms, a no-enclosure
    episode, an absurd declared length -> NULL), an Atom feed with a
    rel=enclosure link, and junk."""
    import datetime as _dt

    ts = _dt.datetime(2024, 5, 1, tzinfo=_dt.timezone.utc)
    rss = feedx.build_feed([
        {"feed_kind": "rss", "url": "https://pod.example/ep1",
         "title": "Episode one", "pub_ts": ts,
         "enclosure": {"url": "https://cdn.pod.example/ep1.mp3",
                       "length": 31457280, "mime": "audio/mpeg"},
         "itunes_duration": "1:02:03"},
        {"feed_kind": "rss", "url": "https://pod.example/ep2",
         "title": "Episode two", "pub_ts": ts,
         "enclosure": {"url": "https://cdn.pod.example/ep2.mp3",
                       "length": 99999999999999999999,
                       "mime": "audio/mpeg"},
         "itunes_duration": "44:10"},
        {"feed_kind": "rss", "url": "https://pod.example/ep3",
         "title": "No audio", "pub_ts": ts},
        {"feed_kind": "rss", "url": "https://pod.example/ep4",
         "title": "Bare seconds", "pub_ts": ts,
         "enclosure": {"url": "https://cdn.pod.example/ep4.m4a",
                       "length": 1024, "mime": "audio/mp4"},
         "itunes_duration": "95"},
    ])
    atom = feedx.build_feed([
        {"feed_kind": "atom", "url": "https://v.example/post",
         "title": "With clip", "pub_ts": ts,
         "enclosure": {"url": "https://cdn.v.example/clip.m4a",
                       "length": 999, "mime": "audio/mp4"}},
    ])
    return [rss, atom, b"<html>not a feed</html>"]


def _json_feed_blobs() -> list[bytes]:
    """Deterministic JSON Feed fixtures + an RSS shard in the SAME
    set (the dispatch proof: one channel, three wire formats): a
    v1.1 feed with attachments (audio durations, an absurd declared
    size -> NULL, an attachment-less item, an external_url item),
    a gzipped v1 feed, a versionless JSON object (rejected), and
    junk."""
    import datetime as _dt

    ts = _dt.datetime(2024, 6, 1, tzinfo=_dt.timezone.utc)
    jf = feedx.build_json_feed("Casts & notes", [
        {"url": "https://jf.example/ep1", "title": "First & last",
         "date_published": "2024-06-02T08:30:00Z",
         "attachments": [
             {"url": "https://cdn.jf.example/ep1.mp3",
              "mime_type": "audio/mpeg", "size_in_bytes": 8388608,
              "duration_in_seconds": 1903},
             {"url": "https://cdn.jf.example/ep1.vtt",
              "mime_type": "text/vtt"}]},
        {"url": "https://jf.example/ep2", "title": "Oversize",
         "date_published": "2024-06-03T09:00:00+02:00",
         "attachments": [
             {"url": "https://cdn.jf.example/ep2.m4a",
              "size_in_bytes": 1 << 63,
              "duration_in_seconds": -4}]},
        {"external_url": "https://elsewhere.example/read",
         "title": "Linkblog entry", "date_published": "not a date"},
        {"title": "no url, dropped"},
    ], home_page_url="https://jf.example/")
    jf_gz = feedx.build_json_feed("Old style", [
        {"url": "https://jf.example/v1", "title": None,
         "date_published": "2024-06-04"},
    ], version="https://jsonfeed.org/version/1", gzip_file=True)
    rss = feedx.build_feed([
        {"feed_kind": "rss", "url": "https://rss.example/a",
         "title": "XML sibling", "pub_ts": ts},
    ])
    not_feed = b'{"version": "1.0", "items": []}'
    return [jf, jf_gz, rss, not_feed, b"total junk"]


def _json_feed_items_sql() -> str:
    """Oracle for json_feed_items: the PURE extractor feeds the
    VALUES rows (the arc_documents precedent — the dispatch branch
    itself is pinned by tests/test_feeds.py)."""

    def lit(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") + "'"

    rows = []
    for blob in _json_feed_blobs():
        for r in parse_feed(blob):
            ts = ("NULL::timestamp" if r["pub_ts"] is None else
                  "TIMESTAMP '{}'".format(
                      r["pub_ts"].strftime("%Y-%m-%d %H:%M:%S")))
            rows.append("({}, {}, {}, {})".format(
                lit(r["feed_kind"]), lit(r["url"]), lit(r["title"]),
                ts))
    return """
        SELECT * FROM (VALUES %s)
        AS t(feed_kind, url, title, pub_ts)
        ORDER BY url, feed_kind""" % ",\n".join(rows)


def _enclosure_sql(blobs: list[bytes] | None = None) -> str:
    """Oracle for feed_enclosures / json_feed_attachments: the PURE
    extractor feeds the VALUES rows (the sitemap_media precedent);
    source-parameterized for reuse across wire formats."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    rows = []
    for blob in (blobs if blobs is not None else _enclosure_feeds()):
        for r in parse_feed_enclosures(blob):
            rows.append(
                "({}, {}, {}::int, {}, {}, {}::bigint, {}::bigint)"
                .format(lit(r["feed_kind"]), lit(r["page_url"]),
                        r["pos"], lit(r["url"]), lit(r["mime"]),
                        lit(r["length_bytes"]), lit(r["duration_ms"])))
    return """
        SELECT * FROM (VALUES %s)
        AS t(feed_kind, page_url, pos, url, mime, length_bytes,
             duration_ms)
        ORDER BY page_url, pos""" % ",\n".join(rows)


def _mpd_manifests() -> list[tuple[str, bytes]]:
    """Deterministic DASH fixtures: a full two-period MPD (video
    ladder with inherited AdaptationSet template + a rep-level
    override, audio rendition, subtitle period), a minimal MPD, and
    junk."""
    full = dashx.build_mpd(
        [[{"content_type": "video", "mime_type": "video/mp4",
           "codecs": "avc1.4d401f", "base_url": "video/",
           "template": {"initialization": "init-$RepresentationID$.mp4",
                        "media": "seg-$RepresentationID$-$Number$.m4s",
                        "duration": 4004, "timescale": 1000,
                        "start_number": 1},
           "representations": [
               {"id": "v0", "bandwidth": 5000000, "width": 1920,
                "height": 1080, "codecs": "avc1.64002a"},
               {"id": "v1", "bandwidth": 1200000, "width": 854,
                "height": 480},
               {"id": "v2", "bandwidth": 300000, "width": 426,
                "height": 240,
                "template": {"media": "lo-$Number$.m4s",
                             "duration": 2002, "timescale": 500}}]},
          {"content_type": "audio", "mime_type": "audio/mp4",
           "lang": "EN", "base_url": "audio/",
           "representations": [
               {"id": "a0", "bandwidth": 128000,
                "template": {"media": "a-$Number$.m4s",
                             "duration": 191, "timescale": 48,
                             "start_number": 0}}]}],
         [{"mime_type": "text/vtt", "lang": "de",
           "representations": [{"id": "s0", "bandwidth": 2000,
                                "base_url": "subs/de.vtt"}]}]],
        duration_ms=3_723_500)
    tiny = dashx.build_mpd(
        [[{"mime_type": "video/webm",
           "representations": [{"id": "only", "bandwidth": 64000}]}]],
        mpd_type="dynamic", duration_ms=None, min_buffer_ms=None)
    return [("https://dash.example/v/manifest.mpd", full),
            ("https://dash.example/live/now.mpd", tiny),
            ("https://dash.example/junk.mpd", b"<html>nope</html>")]


def _mpd_sql() -> str:
    """Oracle for dash_rows: the PURE extractor feeds the VALUES rows
    (the hls_rows precedent), with the op's urljoin chain replicated
    from the same stdlib call."""
    from urllib.parse import urljoin


    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    rows = []
    for url, blob in _mpd_manifests():
        meta, rs = parse_mpd(blob)
        for r in rs:
            base = urljoin(url, r[11] or "")
            init = urljoin(base, r[12]) if r[12] else None
            media = urljoin(base, r[13]) if r[13] else None
            vals = (url, meta["type"], meta["duration_ms"],
                    *r[:11], base, init, media, r[14], r[15])
            casts = ("%s, %s, %s::bigint, %s::int, %s::int, %s::int, "
                     "%s, %s, %s, %s::bigint, %s::int, %s::int, %s, "
                     "%s, %s, %s, %s, %s::bigint, %s::bigint")
            rows.append("(" + casts % tuple(lit(v) for v in vals)
                        + ")")
    return """
        SELECT * FROM (VALUES %s)
        AS t(mpd_url, mpd_type, mpd_duration_ms, pos, period,
             adaptation, content_type, lang, rep_id, bandwidth,
             width, height, codecs, mime_type, base_url, init_uri,
             media_template, seg_duration_ms, start_number)
        ORDER BY mpd_url, pos""" % ",\n".join(rows)


def _hls_playlists() -> list[tuple[str, bytes]]:
    """Deterministic HLS fixtures: a full master (ladder + audio/
    subtitle renditions), a bare master, two media playlists (exact
    fractional durations; one with a malformed EXTINF row), junk."""
    full = hlsx.build_master(
        [{"uri": "v0/prog.m3u8", "bandwidth": 5000000, "width": 1920,
          "height": 1080, "codecs": "avc1.64002a,mp4a.40.2"},
         {"uri": "v1/prog.m3u8", "bandwidth": 2000000, "width": 1280,
          "height": 720, "codecs": "avc1.4d401f,mp4a.40.2"},
         {"uri": "https://cdn.hls.example/v2.m3u8",
          "bandwidth": 500000}],
        media=[{"uri": "aud/en.m3u8", "type_": "audio",
                "language": "en", "name": "English"},
               {"uri": "sub/de.m3u8", "type_": "subtitles",
                "language": "de", "name": "Deutsch"}])
    bare = hlsx.build_master(
        [{"uri": "only.m3u8", "bandwidth": 64000}])
    seg1 = hlsx.build_media(
        [{"uri": f"seg{i}.ts", "duration_ms": 6006 if i % 2 == 0
          else 5994, "title": f"part {i}" if i == 0 else None}
         for i in range(7)])
    seg2 = hlsx.build_media(
        [{"uri": "a.ts", "duration_ms": 4000},
         {"uri": "b.ts", "duration_ms": 4500}], endlist=False)
    seg2 += b"\n#EXTINF:notanumber,bad\nc.ts\n"
    return [("https://hls.example/v/master.m3u8", full),
            ("https://hls.example/v/bare.m3u8", bare),
            ("https://hls.example/v/v0/prog.m3u8", seg1),
            ("https://hls.example/live/now.m3u8", seg2),
            ("https://hls.example/junk", b"<html>not hls</html>")]


def _hls_sql() -> str:
    """Oracle for hls_rows: the PURE extractor feeds the VALUES rows
    (the arc_documents precedent), with the op's urljoin resolution
    replicated here from the same stdlib call."""
    from urllib.parse import urljoin


    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    rows = []
    for url, blob in _hls_playlists():
        kind, rs = parse_m3u8(blob)
        for r in rs:
            uri = urljoin(url, r[2])
            if r[0] == "variant":
                vals = (url, kind, r[1], "variant", uri, r[3], r[4],
                        r[5], r[6], None, None, None, None, None)
            elif r[0] == "media":
                vals = (url, kind, r[1], "media", uri, None, None,
                        None, None, None, r[3], r[4], r[5], None)
            else:
                vals = (url, kind, r[1], "segment", uri, None, None,
                        None, None, r[3], None, None, None, r[4])
            rows.append("(%s, %s, %s::int, %s, %s, %s::bigint, "
                        "%s::int, %s::int, %s, %s::bigint, %s, %s, "
                        "%s, %s)" % tuple(lit(v) for v in vals))
    return """
        SELECT * FROM (VALUES %s)
        AS t(playlist_url, playlist_kind, pos, row_kind, uri,
             bandwidth, width, height, codecs, duration_ms,
             media_type, language, name, title)
        ORDER BY playlist_url, pos""" % ",\n".join(rows)


def _media_sitemap_shards() -> list[bytes]:
    """Two deterministic media-extension sitemap shards (one plain,
    one gzipped): video entries with full/partial fields (player_loc
    fallback, out-of-range duration -> NULL), image entries, mixed
    pages, media-free pages, locless blocks dropped."""

    def pages(base: int):
        out = []
        for i in range(5):
            media = []
            if i % 3 != 2:
                media.append({
                    "kind": "video",
                    "loc": f"https://cdn{base}.example/v{i}.mp4",
                    "thumbnail_loc":
                        f"https://cdn{base}.example/t{i}.jpg",
                    "title": f"Clip {base}-{i}",
                    "description": f"A {'long ' * i}description.",
                    "duration_s": 60 * (i + 1)})
            if i % 2 == 0:
                media.append({
                    "kind": "image",
                    "loc": f"https://cdn{base}.example/i{i}.png",
                    "title": None,
                    "description": f"caption {base}-{i} & more"})
            out.append({"page_loc":
                        f"https://site{base}.example/page/{i}",
                        "media": media})
        return out

    raw = feedx.build_sitemap_media(pages(1))
    # splice spec-violating blocks into the plain shard: duration out
    # of range (kept row, NULL duration) and locless blocks (dropped)
    raw = raw.replace(
        b"</urlset>",
        b"<url><loc>https://site1.example/weird</loc>"
        b"<video:video><video:player_loc>https://cdn1.example/pl.swf"
        b"</video:player_loc><video:duration>999999</video:duration>"
        b"</video:video>"
        b"<video:video><video:title>locless</video:title>"
        b"</video:video>"
        b"<image:image><image:caption>locless too</image:caption>"
        b"</image:image></url></urlset>")
    return [raw, feedx.build_sitemap_media(pages(2), gzip_file=True)]


def _media_sitemap_sql() -> str:
    """Oracle for sitemap_media: the PURE extractor feeds the VALUES
    rows (the arc_documents precedent — the parser itself is pinned
    by tests/test_feeds.py round-trips)."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    rows = []
    for blob in _media_sitemap_shards():
        for r in parse_sitemap_media(blob):
            rows.append("({}, {}::int, {}, {}, {}, {}, {}, {}::int)"
                        .format(lit(r["page_loc"]), r["pos"],
                                lit(r["kind"]), lit(r["loc"]),
                                lit(r["thumbnail_loc"]),
                                lit(r["title"]), lit(r["description"]),
                                lit(r["duration_s"])))
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(page_loc, pos, kind, loc, thumbnail_loc, title,
             description, duration_s)
        ORDER BY page_loc, pos"""


_GOLDEN_OPML = _fixture("golden_opml_seed42_n30.parquet")


# --- media-extension sitemaps (video/image discovery channel) —
# pure-extractor-fed VALUES oracle; parser round-trips pinned in
# tests/test_feeds.py
@query("sitemap_media", oracle=_media_sitemap_sql)
def q_sitemap_media(spark, sf_dir):
    blobs = spark.createDataFrame(
        [(b,) for b in _media_sitemap_shards()], "content binary")
    return (sources.sitemap_media_from_blobs(blobs)
            .orderBy("page_loc", "pos"))


# --- HLS playlists (video fetch planning) — pure-extractor-fed
# VALUES oracle; parser round-trips pinned in tests/test_hls.py
@query("hls_rows", oracle=_hls_sql)
def q_hls_rows(spark, sf_dir):
    blobs = spark.createDataFrame(_hls_playlists(),
                                  "url string, content binary")
    return (sources.hls_rows_from_blobs(blobs)
            .orderBy("playlist_url", "pos"))


# --- per-playlist fetch-planning summary — aggregation isolated
# over the same pinned rows (rows==VALUES proven by hls_rows)
@query("hls_summary", oracle=lambda: f"""
            SELECT playlist_url, playlist_kind,
                   sum((row_kind = 'variant')::int)::bigint
                     AS n_variants,
                   max(bandwidth) AS max_bandwidth,
                   min(bandwidth) AS min_bandwidth,
                   sum((row_kind = 'media')::int)::bigint
                     AS n_renditions,
                   sum((row_kind = 'segment')::int)::bigint
                     AS n_segments,
                   sum(duration_ms)::bigint AS total_duration_ms
            FROM ({_hls_sql()})
            GROUP BY playlist_url, playlist_kind
            ORDER BY playlist_url""")
def q_hls_summary(spark, sf_dir):
    blobs = spark.createDataFrame(_hls_playlists(),
                                  "url string, content binary")
    return (sources.hls_summary(sources.hls_rows_from_blobs(blobs))
            .orderBy("playlist_url"))


# --- DASH MPD manifests (the other half of video fetch planning)
# — pure-extractor-fed VALUES oracle; parser round-trips pinned
# in tests/test_dash.py
@query("dash_rows", oracle=_mpd_sql)
def q_dash_rows(spark, sf_dir):
    blobs = spark.createDataFrame(_mpd_manifests(),
                                  "url string, content binary")
    return (sources.mpd_rows_from_blobs(blobs)
            .orderBy("mpd_url", "pos"))


# --- segment-plan fan-out: sequence() + explode + codegen
# substitution, zero Python in the expansion — the twin unrolls
# the same arithmetic with unnest(generate_series)
@query("dash_segment_plan", oracle=lambda: f"""
            WITH rows AS ({_mpd_sql()}),
            elig AS (
              SELECT *, coalesce(start_number, 1) AS st,
                     (mpd_duration_ms + seg_duration_ms - 1)
                       // seg_duration_ms AS n_segs
              FROM rows
              WHERE media_template IS NOT NULL
                AND seg_duration_ms IS NOT NULL
                AND seg_duration_ms > 0
                AND mpd_duration_ms IS NOT NULL)
            SELECT mpd_url, rep_id, seg_number,
                   replace(media_template, '$Number$',
                           seg_number::varchar) AS seg_uri
            FROM (SELECT mpd_url, rep_id, media_template,
                         unnest(generate_series(st, st + n_segs - 1))
                           AS seg_number
                  FROM elig)
            ORDER BY mpd_url, rep_id, seg_number""")
def q_dash_segments(spark, sf_dir):
    blobs = spark.createDataFrame(_mpd_manifests(),
                                  "url string, content binary")
    return (sources.dash_segment_plan(
        sources.mpd_rows_from_blobs(blobs))
        .orderBy("mpd_url", "rep_id", "seg_number"))


# --- RSS/Atom media attachments (podcast/audio discovery, the
# feed sibling of sitemap_media) — pure-extractor-fed VALUES
# oracle; round-trips pinned in tests/test_feeds.py
@query("feed_enclosures", oracle=_enclosure_sql)
def q_enclosures(spark, sf_dir):
    blobs = spark.createDataFrame(
        [(b,) for b in _enclosure_feeds()], "content binary")
    return (sources.feed_enclosures_from_blobs(blobs)
            .orderBy("page_url", "pos"))


# --- JSON Feed (jsonfeed.org): the third wire format of the ONE
# discovery channel — parse_feed dispatches on the first
# non-space byte, so the same blob readers serve RSS/Atom/JSON;
# pure-fed VALUES oracles
# JSON Feed dispatch: pure-fed VALUES; the attachments twin
# reuses the source-parameterized enclosure helper
@query("json_feed_items", oracle=_json_feed_items_sql)
def q_json_feed(spark, sf_dir):
    blobs = spark.createDataFrame(
        [(b,) for b in _json_feed_blobs()], "content binary")
    return (sources.feed_entries_from_blobs(blobs)
            .orderBy("url", "feed_kind"))


@query("json_feed_attachments",
       oracle=lambda: _enclosure_sql(_json_feed_blobs()))
def q_json_feed_attach(spark, sf_dir):
    blobs = spark.createDataFrame(
        [(b,) for b in _json_feed_blobs()], "content binary")
    return (sources.feed_enclosures_from_blobs(blobs)
            .orderBy("page_url", "pos"))


# --- capstone: the media DISCOVERY channels (video/image
# sitemaps, feed enclosures, in-page A/V scrapes) union into ONE
# deduplicated fetch frontier — fixed channel precedence, one
# map-side-combinable shuffle; twin = UNION ALL of the same
# pinned sources + the same min-priority aggregation
@query("media_fetch_frontier", oracle=lambda: f"""
            WITH parts AS (
              SELECT loc AS url, 0 AS prio, 'sitemap' AS channel
              FROM ({_media_sitemap_sql()}) s
              UNION ALL
              SELECT url, 1, 'feed' FROM ({_enclosure_sql()}) f
              UNION ALL
              SELECT src_url, 2, 'page'
              FROM read_parquet('{_GOLDEN_AV}')
              WHERE src_url IS NOT NULL)
            SELECT url,
                   arg_min(channel, prio) AS channel,
                   count(*)::bigint AS n_refs
            FROM parts GROUP BY url""")
def q_media_frontier(spark, sf_dir):
    sm_blobs = spark.createDataFrame(
        [(b,) for b in _media_sitemap_shards()], "content binary")
    fe_blobs = spark.createDataFrame(
        [(b,) for b in _enclosure_feeds()], "content binary")
    sm = (sources.sitemap_media_from_blobs(sm_blobs)
          .select(F.col("loc").alias("url")))
    fe = (sources.feed_enclosures_from_blobs(fe_blobs)
          .select("url"))
    av = (spark.read.parquet(_GOLDEN_AV)
          .where(F.col("src_url").isNotNull())
          .select(F.col("src_url").alias("url")))
    return sources.media_fetch_frontier(
        [("sitemap", sm), ("feed", fe), ("page", av)])


# --- OPML feed lists (the discovery bridge's third leg: one
# blogroll fans out into hundreds of feeds; category = curator's
# topic label) — hash-checked against the committed golden parquet
# opml feed rows: committed golden parquet pinned by
# tests/test_feeds.py against the pure re-derivation
@query("opml_feeds", oracle=lambda: f"""
            SELECT url, pos, category, title, xml_url, html_url
            FROM read_parquet('{_GOLDEN_OPML}')""")
def q_opml(spark, sf_dir):
    df = _payload_df(spark, fixtures.opml_file_rows(30), 8)
    return sources.read_opml_feeds(df)
