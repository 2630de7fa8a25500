"""HLS playlist parsing: extractor/hlsx.py (round-trip-pinned) and
the fetch-planning source ops."""

from hypothesis import given, settings
from hypothesis import strategies as st

from historicaldatadocumentparsersystem_spark.extractor import hlsx


def test_master_roundtrip():
    variants = [
        {"uri": "v0/prog.m3u8", "bandwidth": 5000000, "width": 1920,
         "height": 1080, "codecs": "avc1.64002a,mp4a.40.2"},
        {"uri": "https://cdn.x/v2.m3u8", "bandwidth": 500000},
    ]
    media = [{"uri": "aud/en.m3u8", "type_": "audio",
              "language": "en", "name": "English"},
             {"uri": "sub/de.m3u8", "type_": "subtitles",
              "language": "de"}]
    kind, rows = hlsx.parse_m3u8(hlsx.build_master(variants, media))
    assert kind == "master"
    assert rows == [
        ("media", 0, "aud/en.m3u8", "audio", "en", "English"),
        ("media", 1, "sub/de.m3u8", "subtitles", "de", None),
        ("variant", 2, "v0/prog.m3u8", 5000000, 1920, 1080,
         "avc1.64002a,mp4a.40.2"),
        ("variant", 3, "https://cdn.x/v2.m3u8", 500000, None, None,
         None),
    ]


def test_media_roundtrip_and_exact_durations():
    segs = [{"uri": "s0.ts", "duration_ms": 6006, "title": "intro"},
            {"uri": "s1.ts", "duration_ms": 5000},
            {"uri": "s2.ts", "duration_ms": 4999}]
    kind, rows = hlsx.parse_m3u8(hlsx.build_media(segs))
    assert kind == "media"
    assert rows == [("segment", 0, "s0.ts", 6006, "intro"),
                    ("segment", 1, "s1.ts", 5000, None),
                    ("segment", 2, "s2.ts", 4999, None)]
    # float-free decimal parsing: truncation past ms, bare fraction
    assert hlsx._duration_ms("6.0069") == 6006
    assert hlsx._duration_ms(".5") == 500
    assert hlsx._duration_ms("10") == 10000
    assert hlsx._duration_ms("-1") is None
    assert hlsx._duration_ms("x.y") is None


def test_spec_edges():
    # BOM + leading blank lines; quoted attr containing commas
    kind, rows = hlsx.parse_m3u8(
        b"\xef\xbb\xbf\n#EXTM3U\n"
        b'#EXT-X-STREAM-INF:BANDWIDTH=1000,CODECS="a,b",'
        b"RESOLUTION=10x20\nu.m3u8\n")
    assert kind == "master"
    assert rows == [("variant", 0, "u.m3u8", 1000, 10, 20, "a,b")]
    # dangling STREAM-INF (no uri line) dropped; bad attrs -> None
    kind, rows = hlsx.parse_m3u8(
        b"#EXTM3U\n#EXT-X-STREAM-INF:BANDWIDTH=bad,RESOLUTION=AxB\n"
        b"ok.m3u8\n#EXT-X-STREAM-INF:BANDWIDTH=1\n#EXT-X-ENDLIST\n")
    assert rows == [("variant", 0, "ok.m3u8", None, None, None, None)]
    # malformed EXTINF duration -> row kept with NULL duration
    kind, rows = hlsx.parse_m3u8(
        b"#EXTM3U\n#EXTINF:notanumber,bad\nc.ts\n")
    assert (kind, rows) == ("media",
                            [("segment", 0, "c.ts", None, "bad")])
    assert hlsx.parse_m3u8(b"<html>") == ("unknown", [])
    assert hlsx.parse_m3u8(None) == ("unknown", [])


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_parse_arbitrary_bytes_never_raises(data):
    kind, rows = hlsx.parse_m3u8(data)
    assert kind in ("master", "media", "unknown")
    for r in rows:
        assert r[0] in ("variant", "media", "segment")


def test_spark_rows_and_summary(spark):
    from historicaldatadocumentparsersystem_spark.queries import (
        media_discovery as entry)
    from historicaldatadocumentparsersystem_spark import sources
    blobs = spark.createDataFrame(entry._hls_playlists(),
                                  "url string, content binary")
    rows = sources.hls_rows_from_blobs(blobs)
    got = {(r["playlist_url"], r["pos"]): r for r in rows.collect()}
    # uri resolution against the playlist url (linkx convention)
    assert got[("https://hls.example/v/master.m3u8", 2)]["uri"] \
        == "https://hls.example/v/v0/prog.m3u8"
    assert got[("https://hls.example/v/master.m3u8", 4)]["uri"] \
        == "https://cdn.hls.example/v2.m3u8"

    summary = {r["playlist_url"]: r for r in
               sources.hls_summary(rows).collect()}
    m = summary["https://hls.example/v/master.m3u8"]
    assert (m["n_variants"], m["n_renditions"], m["max_bandwidth"],
            m["min_bandwidth"]) == (3, 2, 5000000, 500000)
    s1 = summary["https://hls.example/v/v0/prog.m3u8"]
    # exact integer total: 4 x 6006 + 3 x 5994
    assert (s1["n_segments"], s1["total_duration_ms"]) \
        == (7, 4 * 6006 + 3 * 5994)
    live = summary["https://hls.example/live/now.m3u8"]
    # the malformed EXTINF row contributes a segment with NULL ms
    assert (live["n_segments"], live["total_duration_ms"]) \
        == (3, 8500)
    assert "https://hls.example/junk" not in summary

    plan = (sources.hls_rows_from_blobs(blobs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_adversarial_values_clamped():
    """Crawled manifests are adversarial: absurd ints become NULL in
    the extractor, so the Int32/Int64 op columns can never overflow."""
    k, rows = hlsx.parse_m3u8(
        b"#EXTM3U\n#EXT-X-STREAM-INF:BANDWIDTH=99999999999999999999,"
        b"RESOLUTION=4294967296x10\nu.m3u8\n"
        b"#EXT-X-STREAM-INF:BANDWIDTH=5,RESOLUTION=0x5\nv.m3u8\n")
    assert rows == [
        ("variant", 0, "u.m3u8", None, None, None, None),
        ("variant", 1, "v.m3u8", 5, None, None, None)]
    assert hlsx._duration_ms("99999999999999999999.9") is None
