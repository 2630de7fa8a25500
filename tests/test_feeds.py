"""Sitemap / RSS / Atom / OPML / JSON Feed parsers: round-trips,
malformed degrade, the Spark sitemap and feed readers, and the
frontier anti-join."""

from datetime import datetime, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import cdxx, feedx
from historicaldatadocumentparsersystem_spark.operators import webtext
from historicaldatadocumentparsersystem_spark.sources import (
    read_feed_entries, read_sitemap_urls)

_TS = datetime(2024, 5, 6, 7, 8, 9, tzinfo=timezone.utc)


def _sitemap_entries(n=6):
    freqs = [None, "daily", "weekly", "HOURLY", "monthly", "never"]
    return [{"kind": "url",
             "loc": f"https://site.com/p{i}?b={i}&a=1",
             "lastmod": _TS if i % 2 else None,
             "changefreq": (freqs[i].lower() if freqs[i] else None),
             "priority_bp": (i * 2000) if i % 3 else None}
            for i in range(n)]


def test_sitemap_roundtrip_plain_and_gzip():
    entries = _sitemap_entries()
    for gz in (False, True):
        got = feedx.parse_sitemap(
            feedx.build_sitemap(entries, gzip_file=gz))
        assert got == entries


def test_sitemapindex_roundtrip():
    idx = [{"kind": "sitemap", "loc": f"https://s.com/map{i}.xml.gz",
            "lastmod": None, "changefreq": None, "priority_bp": None}
           for i in range(3)]
    assert feedx.parse_sitemap(feedx.build_sitemap(idx)) == idx


def test_sitemap_malformed_degrades():
    # no <loc> -> dropped; junk priority/lastmod -> None; entities
    xml = (b"<urlset><url><lastmod>x</lastmod></url>"
           b"<url><loc> https://a.com/x?a=1&amp;b=2 </loc>"
           b"<lastmod>not-a-date</lastmod>"
           b"<priority>nine</priority></url>"
           b"<url><loc>https://a.com/y</loc>"
           b"<priority>7.5</priority></url>"          # out of range
           b"<url><loc>https://a.com/z</loc><lastmod>2024-01-02"
           b"</lastmod></url><url><loc>https://trunc")
    got = feedx.parse_sitemap(xml)
    assert [g["loc"] for g in got] == [
        "https://a.com/x?a=1&b=2", "https://a.com/y", "https://a.com/z"]
    assert got[0]["lastmod"] is None and got[0]["priority_bp"] is None
    assert got[1]["priority_bp"] is None
    assert got[2]["lastmod"] == datetime(2024, 1, 2,
                                         tzinfo=timezone.utc)


def _rss_entries(n=4):
    return [{"feed_kind": "rss", "url": f"https://blog.io/post-{i}",
             "title": f"Post {i} <&>" if i % 2 else None,
             "pub_ts": _TS if i % 3 else None}
            for i in range(n)]


def _atom_entries(n=4):
    return [{"feed_kind": "atom", "url": f"https://news.io/e{i}?x=1",
             "title": f"Entry {i}" if i % 2 else None,
             "pub_ts": _TS if i % 3 else None}
            for i in range(n)]


def test_feed_roundtrip_rss_and_atom():
    for entries in (_rss_entries(), _atom_entries()):
        for gz in (False, True):
            got = feedx.parse_feed(
                feedx.build_feed(entries, gzip_file=gz))
            assert got == entries


def test_feed_malformed_degrades():
    xml = (b"<rss><channel>"
           b"<item><title>no link</title></item>"
           b"<item><link>https://a.io/1</link>"
           b"<pubDate>junk date</pubDate></item>"
           b"</channel></rss>"
           b'<feed><entry><link rel="self"/></entry>'
           b'<entry><link href="https://a.io/2"/>'
           b"<updated>whenever</updated></entry></feed>")
    got = feedx.parse_feed(xml)
    assert [(g["feed_kind"], g["url"], g["pub_ts"]) for g in got] == [
        ("rss", "https://a.io/1", None), ("atom", "https://a.io/2", None)]


@given(st.binary(max_size=2048))
@settings(max_examples=100, deadline=None)
def test_feed_parsers_arbitrary_bytes_never_raise(data):
    assert isinstance(feedx.parse_sitemap(data), list)
    assert isinstance(feedx.parse_feed(data), list)


def test_spark_sitemap_and_feed_readers(spark, tmp_path):
    (tmp_path / "map.xml").write_bytes(
        feedx.build_sitemap(_sitemap_entries()))
    (tmp_path / "map2.xml.gz").write_bytes(
        feedx.build_sitemap(_sitemap_entries(3), gzip_file=True))
    urls = read_sitemap_urls(spark, str(tmp_path) + "/map*").collect()
    assert len(urls) == 9
    by_loc = {(r["loc"], r["changefreq"], r["priority_bp"])
              for r in urls}
    assert ("https://site.com/p1?b=1&a=1", "daily", 2000) in by_loc

    (tmp_path / "f.rss").write_bytes(feedx.build_feed(_rss_entries()))
    (tmp_path / "f.atom").write_bytes(feedx.build_feed(_atom_entries()))
    feed = read_feed_entries(spark, str(tmp_path) + "/f.*").collect()
    assert len(feed) == 8
    kinds = {r["feed_kind"] for r in feed}
    assert kinds == {"rss", "atom"}
    ts = [r["pub_ts"] for r in feed if r["url"] == "https://blog.io/post-1"]
    assert ts[0].replace(tzinfo=timezone.utc) == _TS


def test_frontier_candidates_anti_join_and_priority(spark):
    captured = spark.createDataFrame(
        [(cdxx.surt_key("https://www.site.com/p0?a=1&b=0"),),
         (cdxx.surt_key("https://site.com/p2"),)],
        "urlkey string")
    disc = spark.createDataFrame(
        [  # same page as captured p0 despite www/order differences
           ("https://site.com/p0?b=0&a=1", "daily", None),
           ("https://site.com/new-hot", "hourly", None),
           ("https://site.com/new-pri", None, 8000),
           ("https://site.com/new-norm", "yearly", None),
           ("https://site.com/new-low", None, None)],
        "loc string, changefreq string, priority_bp int")
    got = {r["url"]: r["priority"]
           for r in webtext.frontier_candidates(disc, captured).collect()}
    assert got == {"https://site.com/new-hot": "high",
                   "https://site.com/new-pri": "high",
                   "https://site.com/new-norm": "normal",
                   "https://site.com/new-low": "low"}


def test_frontier_candidates_defaults_without_hint_columns(spark):
    disc = spark.createDataFrame(
        [("https://x.io/a",)], "url string")
    captured = spark.createDataFrame([("never",)], "urlkey string")
    (row,) = webtext.frontier_candidates(
        disc, captured, url_col="url").collect()
    assert (row["priority"], row["changefreq"], row["priority_bp"]) == \
        ("low", None, None)


# --- OPML subscription lists --------------------------------------------------

GOLDEN_OPML = "fixtures/golden_opml_seed42_n30.parquet"


def test_opml_matches_committed_golden():
    import pyarrow.parquet as pq
    got = []
    for r in fixtures.opml_file_rows(30):
        for rec in feedx.parse_opml(r["payload"]):
            got.append((r["url"], rec["pos"], rec["category"],
                        rec["title"], rec["xml_url"], rec["html_url"]))
    golden = [(r["url"], r["pos"], r["category"], r["title"],
               r["xml_url"], r["html_url"])
              for r in pq.read_table(GOLDEN_OPML).to_pylist()]
    assert got == golden
    assert len(golden) == 81


def test_opml_nesting_quotes_and_fallbacks():
    raw = (b"<opml><body>"
           b"<outline text='A &amp; B'>"
           b"<outline title='fallback' xmlUrl='https://x/f.rss'/>"
           b"<outline text='C'>"
           b"<outline text='leaf' xmlUrl=\"https://x/g.rss\" "
           b"htmlUrl=\"https://x/\"/>"
           b"</outline></outline>"
           b"<outline xmlUrl='https://x/untitled.rss'/>"
           b"<outline text='folder only'/>"
           b"</body></opml>")
    rows = feedx.parse_opml(raw)
    assert [(r["category"], r["title"], r["xml_url"], r["html_url"])
            for r in rows] == [
        ("A & B", "fallback", "https://x/f.rss", None),
        ("A & B/C", "leaf", "https://x/g.rss", "https://x/"),
        ("", None, "https://x/untitled.rss", None)]
    assert [r["pos"] for r in rows] == [0, 1, 2]
    # a FEED outline with children contributes its title to theirs
    raw = (b"<opml><body><outline text='parent' xmlUrl='https://p/r'>"
           b"<outline text='kid' xmlUrl='https://k/r'/>"
           b"</outline></body></opml>")
    rows = feedx.parse_opml(raw)
    assert rows[1]["category"] == "parent"


def test_opml_roundtrip_and_gzip():
    tree = [("Tech & Data", [
                {"title": "A", "xml_url": "https://a/feed",
                 "html_url": "https://a/"},
                ("Nested", [{"title": "B <x>",
                             "xml_url": "https://b/feed"}])]),
            {"title": "Flat", "xml_url": "https://c/feed"}]
    want = [("Tech & Data", "A"), ("Tech & Data/Nested", "B <x>"),
            ("", "Flat")]
    for gz in (False, True):
        rows = feedx.parse_opml(feedx.build_opml(tree, gzip_file=gz))
        assert [(r["category"], r["title"]) for r in rows] == want


def test_opml_malformed_never_raises():
    import random
    rng = random.Random("opml-fuzz")
    for _ in range(150):
        payload = bytes(rng.randrange(256)
                        for _ in range(rng.randrange(300)))
        for r in feedx.parse_opml(payload):
            assert r["xml_url"]
    for p in (b"", b"<opml>", b"<outline xmlUrl=>", b"</outline>" * 40):
        feedx.parse_opml(p)


# --- media-extension sitemaps (video/image discovery) -------------------------

def _media_pages():
    return [
        {"page_loc": "https://v.example/watch/1", "media": [
            {"kind": "video", "loc": "https://cdn.v/1.mp4",
             "thumbnail_loc": "https://cdn.v/1.jpg",
             "title": "A first clip",
             "description": "Long & <descriptive>.",
             "duration_s": 312},
            {"kind": "image", "loc": "https://cdn.v/1p.png",
             "title": "poster", "description": None},
        ]},
        {"page_loc": "https://v.example/gallery", "media": [
            {"kind": "image", "loc": "https://cdn.v/g1.png",
             "title": None, "description": "caption <here>"},
        ]},
        {"page_loc": "https://v.example/empty", "media": []},
    ]


def test_sitemap_media_roundtrip_plain_and_gzip():
    pages = _media_pages()
    want = []
    for p in pages:
        for i, r in enumerate(p["media"]):
            row = {"page_loc": p["page_loc"], "pos": i, **r}
            row.setdefault("thumbnail_loc", None)
            row.setdefault("duration_s", None)
            want.append(row)
    for gz in (False, True):
        got = feedx.parse_sitemap_media(
            feedx.build_sitemap_media(pages, gzip_file=gz))
        assert got == want, gz


def test_sitemap_media_spec_rules():
    blob = (b"<urlset><url><loc>https://x/p</loc>"
            b"<video:video><video:player_loc>https://x/pl"
            b"</video:player_loc><video:duration>99999"
            b"</video:duration></video:video>"
            b"<video:video><video:title>locless</video:title>"
            b"</video:video>"
            b"<image:image><image:caption>locless</image:caption>"
            b"</image:image></url>"
            b"<url><video:video><video:content_loc>https://x/nopage"
            b"</video:content_loc></video:video></url></urlset>")
    rows = feedx.parse_sitemap_media(blob)
    # player_loc fallback; out-of-range duration nulled; locless
    # media and pageless url blocks dropped
    assert rows == [{"page_loc": "https://x/p", "pos": 0,
                     "kind": "video", "loc": "https://x/pl",
                     "thumbnail_loc": None, "title": None,
                     "description": None, "duration_s": None}]


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_sitemap_media_arbitrary_bytes_never_raises(data):
    for r in feedx.parse_sitemap_media(data):
        assert r["loc"]


# --- media attachments (podcast/audio discovery) ------------------------------

def test_enclosure_roundtrip_and_itunes_durations():
    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    rss = feedx.build_feed([
        {"feed_kind": "rss", "url": "https://p.ex/e1", "title": "a",
         "pub_ts": ts,
         "enclosure": {"url": "https://c.ex/e1.mp3",
                       "length": 123, "mime": "audio/mpeg"},
         "itunes_duration": "1:02:03"},
        {"feed_kind": "rss", "url": "https://p.ex/e2", "title": "b",
         "pub_ts": ts},
    ])
    rows = feedx.parse_feed_enclosures(rss)
    assert rows == [{"feed_kind": "rss", "page_url": "https://p.ex/e1",
                     "pos": 0, "url": "https://c.ex/e1.mp3",
                     "mime": "audio/mpeg", "length_bytes": 123,
                     "duration_ms": 3_723_000}]
    # parse_feed is untouched by attachment markup
    assert [e["url"] for e in feedx.parse_feed(rss)] \
        == ["https://p.ex/e1", "https://p.ex/e2"]
    atom = feedx.build_feed([
        {"feed_kind": "atom", "url": "https://v.ex/p", "title": "t",
         "pub_ts": ts,
         "enclosure": {"url": "https://c.ex/c.m4a", "length": 9,
                       "mime": "audio/mp4"}}])
    (row,) = feedx.parse_feed_enclosures(atom)
    assert (row["feed_kind"], row["url"], row["page_url"]) \
        == ("atom", "https://c.ex/c.m4a", "https://v.ex/p")
    # itunes duration forms; absurd declared length -> None
    assert feedx._itunes_ms("95") == 95_000
    assert feedx._itunes_ms("44:10") == 2_650_000
    assert feedx._itunes_ms("1:2:x") is None
    big = rss.replace(b'length="123"',
                      b'length="99999999999999999999"')
    assert feedx.parse_feed_enclosures(big)[0]["length_bytes"] is None


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_enclosures_arbitrary_bytes_never_raises(data):
    for r in feedx.parse_feed_enclosures(data):
        assert r["url"] and r["page_url"]


def _json_feed_blobs() -> list[bytes]:
    """JSON Feed fixtures and an RSS shard in one set (one channel,
    three wire formats): a v1.1 feed with attachments (audio
    durations, an absurd declared size, an attachment-less item, an
    external_url item), a gzipped v1 feed, a versionless JSON object
    (rejected), and junk."""
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
         "title": "XML sibling", "pub_ts": datetime(
             2024, 6, 1, tzinfo=timezone.utc)},
    ])
    not_feed = b'{"version": "1.0", "items": []}'
    return [jf, jf_gz, rss, not_feed, b"total junk"]


def test_json_feed_parse_and_dispatch():
    blobs = _json_feed_blobs()
    # dispatch: JSON / gzipped-JSON / XML through the ONE entry point
    kinds = [r["feed_kind"] for b in blobs for r in feedx.parse_feed(b)]
    assert kinds == ["json", "json", "json", "json", "rss"]
    items = feedx.parse_json_feed(blobs[0])
    assert [r["url"] for r in items] == [
        "https://jf.example/ep1", "https://jf.example/ep2",
        "https://elsewhere.example/read"]
    assert items[0]["pub_ts"].hour == 8
    assert items[1]["pub_ts"].hour == 7      # +02:00 -> UTC
    assert items[2]["pub_ts"] is None        # bad date degrades
    atts = feedx.parse_feed_enclosures(blobs[0])
    assert [(a["pos"], a["url"], a["length_bytes"], a["duration_ms"])
            for a in atts] == [
        (0, "https://cdn.jf.example/ep1.mp3", 8388608, 1903000),
        (1, "https://cdn.jf.example/ep1.vtt", None, None),
        (0, "https://cdn.jf.example/ep2.m4a", None, None)]
    # versionless JSON and junk are rejected (F5)
    assert feedx.parse_feed(blobs[3]) == []
    assert feedx.parse_feed(blobs[4]) == []
    assert feedx.parse_json_feed(b'{"version": '
                                 b'"https://jsonfeed.org/version/1"}') \
        == []
