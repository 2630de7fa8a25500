"""Audio container metadata: extractor/soundx.py (MP3 ID3v2 + MPEG
frame walk, FLAC STREAMINFO + Vorbis comments, OGG codec sniff).
Pure decode half mirrors exifx; fixture builders are the encode half."""

from historicaldatadocumentparsersystem_spark.extractor import exifx, soundx


def test_mp3_id3_encodings_and_cbr_walk():
    blob = soundx.make_mp3(
        [("TIT2", "plain"), ("TPE1", "Ana Béla"), ("TYER", "2023")],
        n_frames=38, bitrate_kbps=128, sample_rate=44100)
    rows = dict(soundx.mp3_info(blob))
    assert rows["id3:TIT2"] == "plain"
    assert rows["id3:TPE1"] == "Ana Béla"      # UTF-16 fallback frame
    assert rows["mpeg_version"] == "1" and rows["layer"] == "3"
    assert rows["bitrate_kbps"] == "128"
    assert rows["sample_rate"] == "44100"
    assert rows["channel_mode"] == "joint_stereo"
    assert rows["n_frames"] == "38"
    # CBR duration is exact: 38 frames x 1152 samples @ 44.1 kHz
    assert rows["duration_ms"] == str(38 * 1152 * 1000 // 44100)


def test_mp3_mpeg2_mono_untagged():
    blob = soundx.make_mp3([], n_frames=11, bitrate_kbps=64,
                           sample_rate=22050, mode=3, v2=True)
    rows = dict(soundx.mp3_info(blob))
    assert "id3:TIT2" not in rows
    assert rows["mpeg_version"] == "2"
    assert rows["channel_mode"] == "mono"
    assert rows["n_frames"] == "11"
    # MPEG2 Layer III = 576 samples per frame
    assert rows["duration_ms"] == str(11 * 576 * 1000 // 22050)


def test_mp3_vbr_duration_accumulates_per_frame():
    # hand-splice frames of different bitrates: headline bitrate is
    # the FIRST frame's, duration sums per-frame samples exactly
    f128 = soundx.make_mp3([], n_frames=1, bitrate_kbps=128)[10:]
    f320 = soundx.make_mp3([], n_frames=1, bitrate_kbps=320)[10:]
    rows = dict(soundx.mp3_info(f128 + f320 + f128))
    assert rows["bitrate_kbps"] == "128"
    assert rows["n_frames"] == "3"
    assert rows["duration_ms"] == str(3 * 1152 * 1000 // 44100)


def test_mp3_walk_stops_at_junk_no_resync():
    good = soundx.make_mp3([], n_frames=5)
    rows = dict(soundx.mp3_info(good + b"\x00garbage trailer"))
    assert rows["n_frames"] == "5"
    # truncated final frame is not counted
    rows2 = dict(soundx.mp3_info(good[:-10]))
    assert rows2["n_frames"] == "4"


def test_id3v24_syncsafe_sizes_and_skipped_frames():
    # v2.4 frame sizes are syncsafe; 200-byte body has a 7-bit carry
    body = b"\x03" + b"x" * 199
    frame = b"TIT2" + bytes([0, 0, (200 >> 7) & 0x7F, 200 & 0x7F]) \
        + b"\x00\x00" + body
    frame += b"PRIV" + bytes([0, 0, 0, 4]) + b"\x00\x00" + b"abcd"
    frame += b"TXXX" + bytes([0, 0, 0, 3]) + b"\x00\x00" + b"\x09ab"
    n = len(frame)
    ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                (n >> 7) & 0x7F, n & 0x7F])
    tag = b"ID3\x04\x00\x00" + ss + frame
    rows, off = soundx._id3_frames(tag)
    # PRIV (non-text) and TXXX (bad encoding byte 9) are skipped
    assert rows == [("id3:TIT2", "x" * 199)]
    assert off == len(tag)


def test_id3_tag_without_audio_frames():
    blob = soundx.make_mp3([("TALB", "a")], n_frames=0)
    assert soundx.mp3_info(blob) == [("id3:TALB", "a")]


def test_flac_roundtrip_24bit_and_comment_lowercasing():
    blob = soundx.make_flac(48000, 2, 24, 48000 * 9 + 7,
                            [("TITLE", "song"), ("Artist", "Bob=Ex")])
    rows = soundx.flac_info(blob)
    d = dict(rows)
    assert d["sample_rate"] == "48000" and d["channels"] == "2"
    assert d["bits_per_sample"] == "24"
    assert d["total_samples"] == str(48000 * 9 + 7)
    assert d["duration_ms"] == str((48000 * 9 + 7) * 1000 // 48000)
    assert d["vendor"] == "hddps-soundx"
    # names lowercase (spec: case-insensitive); '=' splits once
    assert d["vc:title"] == "song" and d["vc:artist"] == "Bob=Ex"
    # stored order preserved
    keys = [k for k, _ in rows if k.startswith("vc:")]
    assert keys == ["vc:title", "vc:artist"]


def test_flac_total_samples_above_32_bits():
    total = (3 << 32) + 123            # exercises the 4 high bits
    d = dict(soundx.flac_info(soundx.make_flac(
        44100, 1, 16, total, [])))
    assert d["total_samples"] == str(total)


def test_ogg_vorbis_and_opus_sniff():
    assert soundx.ogg_info(soundx.make_ogg_vorbis(2, 44100)) == [
        ("codec", "vorbis"), ("channels", "2"),
        ("sample_rate", "44100")]
    assert soundx.ogg_info(soundx.make_ogg_opus(1, 312, 16000)) == [
        ("codec", "opus"), ("channels", "1"), ("pre_skip", "312"),
        ("input_sample_rate", "16000")]
    # an OggS page whose first packet is neither codec yields nothing
    assert soundx.ogg_info(soundx._ogg_page(b"\x03vorbis junk")) == []


def test_dispatch_formats_through_extract_media_metadata():
    cases = [(soundx.make_mp3([("TIT2", "t")]), "mp3-meta"),
             (soundx.make_flac(), "flac-meta"),
             (soundx.make_ogg_opus(), "ogg-meta")]
    for blob, want_fmt in cases:
        rows = exifx.extract_media_metadata(blob)
        assert rows and all(r[0] == want_fmt for r in rows), want_fmt
    # a bare ID3-less frame stream still dispatches via the sync word
    bare = soundx.make_mp3([], n_frames=2)
    assert exifx.extract_media_metadata(bare)[0][0] == "mp3-meta"


def test_audio_never_raises_on_fuzz():
    import random
    rng = random.Random("soundx-fuzz")
    blobs = []
    for magic in (b"ID3", b"\xff\xfb", b"\xff\xf3", b"fLaC", b"OggS",
                  b""):
        for _ in range(80):
            blobs.append(magic + bytes(
                rng.randrange(256) for _ in range(rng.randrange(200))))
    for good in (soundx.make_mp3([("TIT2", "t")], n_frames=3),
                 soundx.make_flac(comments=[("a", "b")]),
                 soundx.make_ogg_vorbis()):
        blobs += [good[:i] for i in range(0, len(good), 5)]
    for blob in blobs:
        for row in exifx.extract_media_metadata(blob):
            assert len(row) == 4


def test_utf16_bom_not_misfiled_as_mp3():
    assert exifx.extract_media_metadata(b"\xff\xfeH\x00i\x00" * 40) \
        == []
