"""Picture classifier (F3 score producer): integer feature vectors,
class sanity over encoder-built images, decode dispatch, fuzz."""

import random

from historicaldatadocumentparsersystem_spark.extractor import (imagex,
                                                                picturex)


def test_feature_vectors():
    # 2x2 flat gray: no edges, no spread, 1 gray level, no extremes
    px = bytes([128, 128, 128] * 4)
    assert picturex.picture_features(px, 2, 2, 3) == (
        0, 0, (1000 * 1) // 256, 0)
    # checkerboard black/white: max edges, no spread, extremes 1000
    bw = bytes()
    for y in range(2):
        for x in range(2):
            v = 255 if (x + y) % 2 else 0
            bw += bytes([v, v, v])
    e, s, u, x = picturex.picture_features(bw, 2, 2, 3)
    assert e == 1000 and s == 0 and x == 1000
    # saturated red: channel spread full scale
    red = bytes([255, 0, 0] * 4)
    assert picturex.picture_features(red, 2, 2, 3)[1] == 1000


def test_class_sanity_over_real_codecs():
    rng = random.Random(7)
    flat = imagex.encode_png(bytes([90, 90, 90]) * 900, 30, 30, 3)
    assert picturex.classify_picture(flat)[0][0] == "flat"
    g = []
    for y in range(24):
        for x in range(24):
            v = 255 if (y % 4) else (0 if x % 2 else 255)
            g += [v, v, v]
    assert picturex.classify_picture(
        imagex.encode_png(bytes(g), 24, 24, 3))[0][0] == "text"
    noisy = bytes(rng.randrange(256) for _ in range(24 * 24 * 3))
    top = picturex.classify_picture(
        imagex.encode_png(noisy, 24, 24, 3))
    assert top[0][0] in ("photo", "text")   # dense histogram wins
    # confidences: positive, sum to ~1, sorted desc
    confs = [c for _n, c in top]
    assert abs(sum(confs) - 1.0) < 1e-12
    assert confs == sorted(confs, reverse=True)
    assert len(top) == 4


def test_decode_dispatch_and_junk():
    px = bytes([10, 200, 30] * 64)
    png = imagex.encode_png(px, 8, 8, 3)
    out = picturex.classify_picture(png)
    assert out is not None and len(out) == 4
    assert picturex.classify_picture(b"") is None
    assert picturex.classify_picture(None) is None
    assert picturex.classify_picture(b"\x89PNG truncated") is None


def test_deterministic_and_never_raises():
    rng = random.Random(43)
    px = bytes([10, 200, 30] * 64)
    png = imagex.encode_png(px, 8, 8, 3)
    assert picturex.classify_picture(png) == \
        picturex.classify_picture(png)
    for _ in range(150):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 120)))
        picturex.classify_picture(blob)
    for i in range(0, len(png), 7):
        picturex.classify_picture(png[:i])


def test_pnm_codec_and_dispatch():
    """netpbm joins the real-decoder set: round-trip P5/P6, P4 bit
    expansion (MSB-first, row byte padding, 1 = black), header
    comments, and the classifier dispatch path."""
    import pytest
    px = bytes([10, 200, 30] * 12)
    p6 = imagex.encode_pnm(px, 4, 3, 3)
    assert imagex.decode_pnm(p6) == (4, 3, 3, px)
    g = bytes(range(12))
    assert imagex.decode_pnm(imagex.encode_pnm(g, 4, 3, 1)) == \
        (4, 3, 1, g)
    p4 = b"P4\n# cmt\n10 2\n" + bytes([0b10101010, 0b10000000]) * 2
    w, h, ch, out = imagex.decode_pnm(p4)
    assert (w, h, ch) == (10, 2, 1)
    assert list(out[:4]) == [0, 255, 0, 255]
    for bad in (b"P6\n4 3\n65535\n" + px,       # 16-bit reject
                b"P6\n4 3\n255\n" + px[:-1],     # short data
                b"P7 junk", b""):
        with pytest.raises(ValueError):
            imagex.decode_pnm(bad)
    # classifier consumes pnm payloads like any other codec
    flat = imagex.encode_pnm(bytes([90]) * 900, 30, 30, 1)
    out = picturex.classify_picture(flat)
    assert out is not None and out[0][0] == "flat"


def test_committed_weights_cover_every_class_and_feature():
    """pmodel holds one bias and one weight per feature for every
    class. class_scores zips the tables, so a short table would drop
    a class silently instead of failing."""
    from historicaldatadocumentparsersystem_spark.extractor import pmodel
    n_feats = len(picturex.picture_features(bytes([1, 2, 3]) * 4, 2, 2, 3))
    assert len(pmodel.B_MICRO) == len(picturex.CLASSES)
    assert len(pmodel.W_MICRO) == len(picturex.CLASSES)
    assert all(len(row) == n_feats for row in pmodel.W_MICRO)
    assert all(isinstance(v, int)
               for v in pmodel.B_MICRO + sum(pmodel.W_MICRO, []))
    assert picturex.class_scores((0,) * n_feats) == pmodel.B_MICRO
