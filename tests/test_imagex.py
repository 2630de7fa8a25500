"""Real stdlib PNG/WAV codec tests (C8/C14 upgraded from stub)."""

import hashlib

import pytest

from historicaldatadocumentparsersystem_spark.extractor import imagex


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter(channels, filter_type):
    src = imagex.make_test_png(13, 7, channels, seed=channels * 10 + 3,
                               filter_type=filter_type)
    w, h, ch, px = imagex.decode_png(src)
    assert (w, h, ch) == (13, 7, channels)
    want = bytes((3 * x + 7 * y + 11 * c + channels * 10 + 3) % 256
                 for y in range(7) for x in range(13)
                 for c in range(channels))
    assert px == want


def test_png_rejects_unsupported():
    from historicaldatadocumentparsersystem_spark.operators import multimodal
    with pytest.raises(ValueError):
        imagex.decode_png(b"not a png")
    with pytest.raises(ValueError):        # header-only fixture: no IDAT
        imagex.decode_png(multimodal.make_png(4, 4))


def test_resize_nearest():
    # 2x2 RGB quadrants -> 4x4 repeats each quadrant 2x2
    q = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    px = bytes(v for p in q for v in p)
    big = imagex.resize_nearest(px, 2, 2, 3, 4, 4)
    assert big[0:3] == bytes(q[0]) and big[3:6] == bytes(q[0])
    assert big[6:9] == bytes(q[1])
    assert big[-3:] == bytes(q[3])


def test_resize_area_exact_rational():
    """The C14 kernel: exact fractional-coverage box averages with
    HALF_UP rounding — no float in the pipeline."""
    # 2x2 -> 1x1: avg(0,1,2,3) = 1.5 -> 2 (HALF_UP)
    assert imagex.resize_area(bytes([0, 1, 2, 3]), 2, 2, 1, 1, 1) == \
        bytes([2])
    # 3x1 -> 2x1 fractional boxes: (2*0 + 1*30)/3, (1*30 + 2*60)/3
    assert imagex.resize_area(bytes([0, 30, 60]), 3, 1, 1, 2, 1) == \
        bytes([10, 50])
    # constant image stays constant at any ratio (weights sum to w*h)
    c = bytes([77] * 35)
    for w2, h2 in ((3, 2), (10, 14), (5, 7), (1, 1)):
        assert set(imagex.resize_area(c, 5, 7, 1, w2, h2)) == {77}
    # upscale replicates; channels stay independent
    assert imagex.resize_area(bytes([9]), 1, 1, 1, 3, 3) == bytes([9] * 9)
    assert imagex.resize_area(bytes([10, 200, 30, 100]), 2, 1, 2,
                              1, 1) == bytes([20, 150])


def test_channel_means_exact():
    px = bytes([10, 20, 30, 50, 60, 70])          # two RGB pixels
    assert imagex.channel_means(px, 3) == [30.0, 40.0, 50.0]


def test_spark_image_ops_real_pixels(spark):
    from historicaldatadocumentparsersystem_spark.operators import multimodal
    rows = [("a", imagex.make_test_png(32, 20, 3, seed=1)),
            ("b", imagex.make_test_png(16, 16, 1, seed=2, filter_type=4)),
            ("c", b"garbage")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    stats = {r["media_id"]: r
             for r in multimodal.image_pixel_stats(df).collect()}
    w, h, ch, px = imagex.decode_png(rows[0][1])
    assert stats["a"]["px_md5"] == hashlib.md5(px).hexdigest()
    assert stats["a"]["mean_c0"] == round(
        imagex.channel_means(px, 3)[0], 6)
    assert stats["b"]["channels"] == 1 and stats["b"]["mean_c1"] is None
    assert stats["c"]["px_md5"] is None
    # REAL C14: resize -> re-encoded PNG decodes at the target size
    out = {r["media_id"]: r
           for r in multimodal.resize_media(df, 8, 5).collect()}
    w2, h2, ch2, px2 = imagex.decode_png(bytes(out["a"]["payload"]))
    assert (w2, h2, ch2) == (8, 5, 3)
    assert px2 == imagex.resize_area(px, 32, 20, 3, 8, 5)
    assert out["c"]["payload"] is None


# --- real GIF LZW codec -------------------------------------------------------

_PAL = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255),
        (255, 255, 0), (9, 9, 9)]


def _gif_indices(w, h, npal):
    return bytes((3 * x + 5 * y) % npal for y in range(h)
                 for x in range(w))


@pytest.mark.parametrize("interlaced", [False, True])
def test_gif_lzw_roundtrip(interlaced):
    w, h = 19, 11
    idx = _gif_indices(w, h, len(_PAL))
    gif = imagex.encode_gif(idx, w, h, _PAL, interlaced=interlaced)
    gw, gh, ch, px = imagex.decode_gif(gif)
    assert (gw, gh, ch) == (w, h, 3)
    want = bytearray()
    for i in idx:
        want += bytes(_PAL[i])
    assert px == bytes(want)


def test_gif_rejects_garbage():
    with pytest.raises(ValueError):
        imagex.decode_gif(b"GIF89a but not really")
    with pytest.raises(ValueError):
        imagex.decode_gif(b"PNG?")


def test_gif_large_palette_roundtrip():
    # 256-color palette exercises 8-bit min code (9-bit LZW codes)
    pal = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]
    w, h = 33, 9
    idx = bytes((x * y + x) % 256 for y in range(h) for x in range(w))
    gw, gh, ch, px = imagex.decode_gif(imagex.encode_gif(idx, w, h, pal))
    assert (gw, gh) == (w, h)
    assert px[:3] == bytes(pal[idx[0]])
    assert px[-3:] == bytes(pal[idx[-1]])


def test_spark_image_stats_decodes_gif(spark):
    from historicaldatadocumentparsersystem_spark.operators import multimodal
    idx = _gif_indices(8, 6, len(_PAL))
    rows = [("g1", imagex.encode_gif(idx, 8, 6, _PAL))]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    r = multimodal.image_pixel_stats(df).collect()[0]
    px = bytearray()
    for i in idx:
        px += bytes(_PAL[i])
    means = imagex.channel_means(bytes(px), 3)
    assert (r["width"], r["height"], r["channels"]) == (8, 6, 3)
    assert r["mean_c0"] == round(means[0], 6)
    assert r["px_md5"] == hashlib.md5(bytes(px)).hexdigest()


# --- baseline JPEG codec ------------------------------------------------------

from historicaldatadocumentparsersystem_spark.extractor import jpegx


def test_jpeg_flat_gray_roundtrip_exact():
    px = bytes([120] * (24 * 16))
    w, h, ch, out = jpegx.decode_jpeg(jpegx.encode_jpeg(px, 24, 16, 1))
    assert (w, h, ch) == (24, 16, 1)
    assert max(abs(a - b) for a, b in zip(px, out)) == 0


def test_jpeg_rgb_gradient_bounded_error():
    rgb = bytearray()
    for y in range(16):
        for x in range(24):
            rgb += bytes([(x * 6) % 256, (y * 8) % 256, 90])
    w, h, ch, out = jpegx.decode_jpeg(
        jpegx.encode_jpeg(bytes(rgb), 24, 16, 3))
    assert (w, h, ch) == (24, 16, 3)
    assert max(abs(a - b) for a, b in zip(rgb, out)) <= 12


def test_jpeg_odd_dims_and_header_parse():
    from historicaldatadocumentparsersystem_spark.operators import multimodal
    px = bytes([(3 * x + 5 * y) % 200 for y in range(11)
                for x in range(13)])
    j = jpegx.encode_jpeg(px, 13, 11, 1)
    w, h, ch, out = jpegx.decode_jpeg(j)
    assert (w, h) == (13, 11)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 4
    # the header-only parser agrees on a REAL encoded stream
    assert multimodal.parse_image_dimensions(j) == (13, 11)


def test_jpeg_rejects_progressive_and_garbage():
    j = bytearray(jpegx.encode_jpeg(bytes(64), 8, 8, 1))
    i = j.find(b"\xff\xc0")
    j[i + 1] = 0xC2                         # rewrite SOF0 -> SOF2
    with pytest.raises(ValueError):
        jpegx.decode_jpeg(bytes(j))
    with pytest.raises(ValueError):
        jpegx.decode_jpeg(b"\xff\xd8nonsense")
    with pytest.raises(ValueError):
        jpegx.decode_jpeg(b"PNG")


def test_spark_image_stats_decodes_jpeg(spark):
    from historicaldatadocumentparsersystem_spark.operators import multimodal
    px = bytes([120] * (24 * 16))
    j = jpegx.encode_jpeg(px, 24, 16, 1)
    df = spark.createDataFrame([("j1", j)],
                               "media_id string, payload binary")
    r = multimodal.image_pixel_stats(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (24, 16, 1)
    assert r["mean_c0"] == 120.0 and r["mean_c1"] is None
    assert r["px_md5"] == hashlib.md5(px).hexdigest()


def test_jpeg_420_subsampled_roundtrip():
    rgb = bytearray()
    for y in range(21):
        for x in range(30):
            rgb += bytes([(x * 5) % 256, (y * 7) % 256, 120])
    j = jpegx.encode_jpeg(bytes(rgb), 30, 21, 3, subsample=True)
    w, h, ch, out = jpegx.decode_jpeg(j)
    assert (w, h, ch) == (30, 21, 3)
    # chroma is 2x2-box averaged: smooth image stays within a few levels
    assert max(abs(a - b) for a, b in zip(rgb, out)) <= 20
    # and the stream really declares 4:2:0 (luma 0x22 in SOF0)
    i = j.find(b"\xff\xc0")
    assert j[i + 11] == 0x22 and j[i + 14] == 0x11


def test_lanczos_kernel_properties():
    """The fixed-point Lanczos-3 kernel (C14 parity with the
    reference's PIL LANCZOS family): sinc zeros at integer offsets,
    exact flat-field preservation (weights sum to exactly 65536),
    identity at 1:1 scale, and overshoot clamped to 8 bits."""
    from historicaldatadocumentparsersystem_spark.extractor.imagex import (
        _lanczos3, resize_lanczos)
    import math
    assert _lanczos3(0.0) == 1.0
    for d in (1.0, 2.0, -1.0, -2.0):
        assert abs(_lanczos3(d)) < 1e-12
    assert _lanczos3(3.0) == 0.0 and _lanczos3(-2.9) != 0.0
    # flat field survives down- AND up-scale exactly
    flat = bytes([137]) * (20 * 14 * 3)
    assert set(resize_lanczos(flat, 20, 14, 3, 7, 5)) == {137}
    assert set(resize_lanczos(bytes([9] * 16), 4, 4, 1, 9, 9)) == {9}
    # 1:1 resize is the identity (single unit weight per pixel)
    import random
    rng = random.Random(5)
    px = bytes(rng.randrange(256) for _ in range(12 * 7 * 3))
    assert resize_lanczos(px, 12, 7, 3, 12, 7) == px
    # a hard step edge overshoots (the negative-lobe signature the box
    # filter cannot produce) and the overshoot clamps into [0, 255]
    step = bytes([0] * 20 + [255] * 20) * 8
    up = resize_lanczos(step, 40, 8, 1, 80, 8)
    assert min(up) == 0 and max(up) == 255
    # deterministic: same input -> same bytes (sin is Taylor, not libm)
    assert resize_lanczos(px, 12, 7, 3, 5, 3) == \
        resize_lanczos(px, 12, 7, 3, 5, 3)


def test_lanczos_taylor_sin_matches_libm():
    """The deterministic Taylor sin tracks libm to < 5 ulp over the
    kernel's full argument range [-3*pi, 3*pi]."""
    import math
    from historicaldatadocumentparsersystem_spark.extractor.imagex import \
        _sin
    for i in range(-3000, 3001):
        x = i * 0.0031415926
        assert abs(_sin(x) - math.sin(x)) <= 5e-16, x
