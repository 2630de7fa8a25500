"""Embedded media metadata: extractor/exifx.py (from-scratch EXIF
TIFF-IFD reader + PNG tEXt + GIF comments, golden-pinned) and the
media_metadata operator."""

import io
import wave

import pyarrow.parquet as pq
import pytest

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import (exifx,
                                                                imagex,
                                                                jpegx)
from historicaldatadocumentparsersystem_spark.operators import multimodal

GOLDEN_META = "fixtures/golden_mediameta_seed42.parquet"


def _pure_rows() -> list[tuple]:
    out = []
    for mid, payload in fixtures.metadata_media_rows():
        for r in exifx.extract_media_metadata(payload):
            out.append((mid, *r))
    return out


def test_metadata_matches_committed_golden():
    golden = [(r["media_id"], r["fmt"], r["idx"], r["key"], r["value"])
              for r in pq.read_table(GOLDEN_META).to_pylist()]
    assert golden == _pure_rows()


def test_exif_roundtrip_both_byte_orders():
    entries = [(0x010F, 2, "ACME"), (0x0112, 3, 6),
               (0x011A, 5, (72, 1)), (0x8827, 3, [100, 200])]
    for order in ("<", ">"):
        rows = exifx.parse_exif(exifx.build_exif(entries, order))
        assert rows == [("Make", "ACME"), ("Orientation", "6"),
                        ("XResolution", "72/1"),
                        ("ISOSpeed", "100 200")], order


def test_exif_sub_ifds_and_unknown_tags():
    tiff = exifx.build_exif(
        [(0x0110, 2, "M"), (0x1234, 4, 99)], "<",
        gps=[(0x0002, 5, [(10, 1), (30, 1), (0, 1)])],
        exif_sub=[(0x9003, 2, "2020:01:01 00:00:00"),
                  (0x9286, 7, bytes(range(40)))])
    rows = exifx.parse_exif(tiff)
    d = dict(rows)
    assert d["Model"] == "M" and d["0x1234"] == "99"
    assert d["DateTimeOriginal"] == "2020:01:01 00:00:00"
    assert d["GPSLatitude"] == "10/1 30/1 0/1"
    # UNDEFINED capped at 32 bytes of hex; pointer tags not emitted
    assert len(d["0x9286"]) == 64
    assert not any(k in ("0x8769", "0x8825") for k, _ in rows)
    # GPS ids only resolve inside the GPS IFD: a low tag in IFD0
    # stays hex (0x0001 would otherwise read as GPSLatitudeRef)
    rows2 = exifx.parse_exif(exifx.build_exif([(0x0001, 3, 5)], "<"))
    assert rows2 == [("0x0001", "5")]


def test_spliced_payloads_still_decode():
    tiff = exifx.build_exif([(0x0112, 3, 8)], "<")
    jpg = exifx.splice_jpeg_exif(
        jpegx.encode_jpeg(bytes(24 * 16 * 3), 24, 16, 3), tiff)
    assert jpegx.decode_jpeg(jpg)[:3] == (24, 16, 3)
    png = exifx.splice_png_text(imagex.make_test_png(8, 8), "k", "v")
    assert imagex.decode_png(png)[:2] == (8, 8)
    gif = exifx.splice_gif_comment(
        imagex.encode_gif(bytes(64), 8, 8, [(0, 0, 0)]), "hi")
    assert imagex.decode_gif(gif)[:2] == (8, 8)


def test_multiblock_gif_comment_reassembles():
    text = "x" * 700
    gif = exifx.splice_gif_comment(
        imagex.encode_gif(bytes(64), 8, 8, [(0, 0, 0)]), text)
    rows = exifx.extract_media_metadata(gif)
    assert rows == [("gif-comment", 0, "comment", text)]


def test_wav_info_and_mp4_meta():
    wav = exifx.splice_wav_info(
        imagex.make_wav(200),
        [("IART", "bob"), ("ICMT", "odd len")])   # odd-length padding
    assert exifx.extract_media_metadata(wav) == [
        ("wav-info", 0, "IART", "bob"),
        ("wav-info", 1, "ICMT", "odd len")]
    with wave.open(io.BytesIO(wav)) as w:         # still plays
        assert w.getnframes() == 200

    mp4 = exifx.build_mp4("avc1", timescale=600, duration=1800,
                          n_tracks=3)
    assert exifx.extract_media_metadata(mp4) == [
        ("mp4-meta", 0, "brand", "avc1"),
        ("mp4-meta", 1, "timescale", "600"),
        ("mp4-meta", 2, "duration", "1800"),
        ("mp4-meta", 3, "n_tracks", "3")]


def test_metadata_free_and_garbage_yield_no_rows():
    assert exifx.extract_media_metadata(b"junk") == []
    assert exifx.extract_media_metadata(None) == []
    assert exifx.extract_media_metadata(
        imagex.make_test_png(4, 4)) == []


def test_never_raises_on_fuzz():
    import random
    rng = random.Random("exifx-fuzz")
    blobs = []
    for magic in (b"\xff\xd8\xff", b"\x89PNG\r\n\x1a\n", b"GIF89a",
                  b"RIFFxxxxWAVE", b"\x00\x00\x00\x14ftyp", b""):
        for _ in range(80):
            blobs.append(magic + bytes(
                rng.randrange(256) for _ in range(rng.randrange(200))))
    # truncations of a VALID payload — the nastier class
    good = exifx.splice_jpeg_exif(
        jpegx.encode_jpeg(bytes(8 * 8 * 3), 8, 8, 3),
        exifx.build_exif([(0x010F, 2, "A"), (0x011A, 5, (72, 1))], "<"))
    blobs += [good[:i] for i in range(0, len(good), 7)]
    for blob in blobs:
        for row in exifx.extract_media_metadata(blob):
            assert len(row) == 4


def test_rotate_kernel():
    px = bytes([0, 1, 2, 3, 4, 5])          # 2x3, rows [0,1][2,3][4,5]
    assert imagex.rotate(px, 2, 3, 1, 1) == (
        bytes([4, 2, 0, 5, 3, 1]), 3, 2)
    assert imagex.rotate(px, 2, 3, 1, 2) == (
        bytes([5, 4, 3, 2, 1, 0]), 2, 3)
    assert imagex.rotate(px, 2, 3, 1, 3) == (
        bytes([1, 3, 5, 0, 2, 4]), 3, 2)
    # composition: 4 quarter turns = identity; 1+1 = 2
    cur, w, h = px, 2, 3
    for _ in range(4):
        cur, w, h = imagex.rotate(cur, w, h, 1, 1)
    assert (cur, w, h) == (px, 2, 3)
    rgb = bytes(range(12))                  # 2x2x3: channels travel
    assert imagex.rotate(rgb, 2, 2, 3, 1)[0] == bytes(
        [6, 7, 8, 0, 1, 2, 9, 10, 11, 3, 4, 5])


def test_normalize_orientation_uprights(spark):
    got = {r["media_id"]: (r["orientation"], r["width"], r["height"])
           for r in multimodal.normalize_orientation(
               fixtures.metadata_media_df(spark)).collect()}
    # orientation-6 jpeg swaps dims; EXIF-free images keep theirs
    assert got["m-jpg-le"] == (6, 16, 24)
    assert got["m-jpg-be"] == (1, 16, 24)
    assert got["m-png-2"] == (1, 12, 10)
    assert got["m-mp4"] == (None, None, None)


def test_media_artifacts_equals_individual_passes(spark):
    """The one-decode combined pass is definitionally identical to
    image_pixel_stats + image_dhash + normalize_orientation +
    media_metadata counts on the union of both media fixture sets."""
    rows = fixtures.metadata_media_rows() + fixtures.dhash_media_rows()
    docs = spark.createDataFrame(rows, "media_id string, payload binary")
    combined = {r["media_id"]: r for r in
                multimodal.media_artifacts(docs).collect()}
    stats = {r["media_id"]: r for r in
             multimodal.image_pixel_stats(docs).collect()}
    dhash = {r["media_id"]: r for r in
             multimodal.image_dhash(docs).collect()}
    upright = {r["media_id"]: r for r in
               multimodal.normalize_orientation(docs).collect()}
    meta_counts: dict[str, int] = {}
    for r in multimodal.media_metadata(docs).collect():
        meta_counts[r["media_id"]] = meta_counts.get(r["media_id"], 0) + 1
    assert len(combined) == len(rows)
    for mid, c in combined.items():
        s, d, u = stats[mid], dhash[mid], upright[mid]
        assert (c["width"], c["height"], c["channels"], c["px_md5"]) \
            == (s["width"], s["height"], s["channels"], s["px_md5"]), mid
        if c["mean_c0"] is not None:
            assert abs(c["mean_c0"] - s["mean_c0"]) < 1e-9, mid
        assert c["dhash"] == d["dhash"], mid
        assert (c["orientation"], c["upright_md5"]) \
            == (u["orientation"], u["px_md5"]), mid
        assert c["n_meta"] == meta_counts.get(mid, 0), mid

    plan = (multimodal.media_artifacts(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_operator_matches_golden(spark):
    got = sorted(tuple(r) for r in multimodal.media_metadata(
        fixtures.metadata_media_df(spark)).collect())
    golden = sorted((r["media_id"], r["fmt"], r["idx"], r["key"],
                     r["value"])
                    for r in pq.read_table(GOLDEN_META).to_pylist())
    assert got == golden

    docs = spark.createDataFrame(fixtures.metadata_media_rows(),
                                 "media_id string, payload binary")
    plan = (multimodal.media_metadata(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
