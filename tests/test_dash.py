"""DASH MPD parsing: extractor/dashx.py (round-trip-pinned) and the
fetch-planning source op."""

from hypothesis import given, settings
from hypothesis import strategies as st

from historicaldatadocumentparsersystem_spark.extractor import dashx


def _full_mpd() -> bytes:
    return dashx.build_mpd(
        [[{"content_type": "video", "mime_type": "video/mp4",
           "codecs": "avc1.4d401f", "base_url": "video/",
           "template": {"initialization": "init.mp4",
                        "media": "seg-$Number$.m4s",
                        "duration": 4004, "timescale": 1000,
                        "start_number": 1},
           "representations": [
               {"id": "v0", "bandwidth": 5000000, "width": 1920,
                "height": 1080, "codecs": "avc1.64002a"},
               {"id": "v1", "bandwidth": 1200000, "width": 854,
                "height": 480,
                "template": {"media": "own-$Number$.m4s",
                             "duration": 2002, "timescale": 500}}]},
          {"mime_type": "audio/mp4", "lang": "EN",
           "representations": [{"id": "a0", "bandwidth": 128000}]}]],
        duration_ms=3_723_500)


def test_roundtrip_inheritance_and_overrides():
    meta, rows = dashx.parse_mpd(_full_mpd())
    assert meta == {"type": "static", "duration_ms": 3723500,
                    "min_buffer_ms": 2000}
    assert rows[0] == (0, 0, 0, "video", None, "v0", 5000000, 1920,
                       1080, "avc1.64002a", "video/mp4", "video/",
                       "init.mp4", "seg-$Number$.m4s", 4004, 1)
    # rep-level codecs fall back to the AdaptationSet's; rep-level
    # SegmentTemplate overrides it (2002 * 1000 // 500)
    assert rows[1][9] == "avc1.4d401f"
    assert (rows[1][13], rows[1][14]) == ("own-$Number$.m4s", 4004)
    # lang lowercased; contentType derived from mimeType major type
    assert (rows[2][3], rows[2][4]) == ("audio", "en")


def test_iso_duration_exact_ms():
    assert dashx._iso_ms("PT1H2M3.5S") == 3_723_500
    assert dashx._iso_ms("P2DT1S") == 172_801_000
    assert dashx._iso_ms("PT0.006S") == 6
    assert dashx._iso_ms("PT") is None
    assert dashx._iso_ms("99") is None
    assert dashx._iso_ms(None) is None


def test_adversarial_values_clamped():
    blob = (b'<MPD xmlns="urn:mpeg:dash:schema:mpd:2011"><Period>'
            b'<AdaptationSet mimeType="video/mp4">'
            b'<Representation id="r" '
            b'bandwidth="99999999999999999999" width="4294967296" '
            b'height="0"/></AdaptationSet></Period></MPD>')
    _meta, rows = dashx.parse_mpd(blob)
    assert rows == [(0, 0, 0, "video", None, "r", None, None, None,
                     None, "video/mp4", None, None, None, None,
                     None)]


def test_non_mpd_degrades():
    assert dashx.parse_mpd(b"<html>no</html>")[1] == []
    assert dashx.parse_mpd(b"\x00junk")[1] == []
    assert dashx.parse_mpd(None) == (
        {"type": None, "duration_ms": None, "min_buffer_ms": None},
        [])


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_parse_arbitrary_bytes_never_raises(data):
    meta, rows = dashx.parse_mpd(data)
    assert isinstance(rows, list)


def test_spark_rows_resolution(spark):
    from historicaldatadocumentparsersystem_spark.queries import (
        media_discovery as entry)
    from historicaldatadocumentparsersystem_spark import sources
    blobs = spark.createDataFrame(entry._mpd_manifests(),
                                  "url string, content binary")
    got = {(r["mpd_url"], r["pos"]): r
           for r in sources.mpd_rows_from_blobs(blobs).collect()}
    v0 = got[("https://dash.example/v/manifest.mpd", 0)]
    # base resolved against the manifest url; templates against base
    assert v0["base_url"] == "https://dash.example/v/video/"
    assert v0["init_uri"] \
        == "https://dash.example/v/video/init-$RepresentationID$.mp4"
    assert v0["media_template"].endswith("$Number$.m4s")
    assert v0["seg_duration_ms"] == 4004
    s0 = got[("https://dash.example/v/manifest.mpd", 4)]
    assert s0["base_url"] == "https://dash.example/v/subs/de.vtt"
    assert ("https://dash.example/junk.mpd", 0) not in got

    plan = (sources.mpd_rows_from_blobs(blobs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_segment_plan_fanout(spark):
    from historicaldatadocumentparsersystem_spark.queries import (
        media_discovery as entry)
    from historicaldatadocumentparsersystem_spark import sources
    blobs = spark.createDataFrame(entry._mpd_manifests(),
                                  "url string, content binary")
    plan_df = sources.dash_segment_plan(
        sources.mpd_rows_from_blobs(blobs))
    got = [r for r in plan_df.collect()]
    by_rep = {}
    for r in got:
        by_rep.setdefault(r["rep_id"], []).append(r)
    # v0: 3_723_500 ms / 4004 ms -> ceil = 930 segments from 1
    assert len(by_rep["v0"]) == -(-3_723_500 // 4004)
    nums = sorted(r["seg_number"] for r in by_rep["v0"])
    assert nums[0] == 1 and nums[-1] == len(nums)
    first = min(by_rep["v0"], key=lambda r: r["seg_number"])
    assert first["seg_uri"] \
        == "https://dash.example/v/video/seg-$RepresentationID$-1.m4s"
    # a0 starts at 0 (declared startNumber)
    assert min(r["seg_number"] for r in by_rep["a0"]) == 0
    # template-less / duration-less reps are excluded
    assert "s0" not in by_rep and "only" not in by_rep
    # the fan-out stays whole-stage codegen — no exchange, no UDF
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
