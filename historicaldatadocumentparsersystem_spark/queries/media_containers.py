"""Media containers: MP4, AVI, WAV and ID3, with audio fingerprints."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..extractor import imagex, soundx
from ..extractor.soundx import mp3_chapters
from ..operators import multimodal
from . import _fixture, _payload_df, query


def _podcast_rows() -> list[tuple[str, bytes]]:
    """Deterministic chaptered-podcast fixtures: full chapter lists
    (unicode titles, open-ended last chapter), the end<=start
    degrade, a chapterless episode, junk."""
    return [
        ("pod-ep1", soundx.make_mp3(
            [("TIT2", "Show 12")], n_frames=6,
            chapters=[("ch0", 0, 95000, "Intro"),
                      ("ch1", 95000, 1680000, "M\u00e4in topic \u2014 deep dive"),
                      ("ch2", 1680000, None, "Outro")])),
        ("pod-ep2", soundx.make_mp3(
            [("TIT2", "Show 13")], n_frames=4,
            chapters=[("a", 1000, 500, None),
                      ("b", 500, 2500, "Only titled")])),
        ("pod-plain", soundx.make_mp3([("TIT2", "No chapters")],
                                      n_frames=3)),
        ("pod-junk", b"ID3junk not a tag"),
    ]


def _podcast_sql() -> str:
    """Oracle for podcast_chapters: the PURE extractor feeds the
    VALUES rows (round-trips pinned in tests/test_soundx.py)."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    rows = []
    for mid, blob in _podcast_rows():
        for r in mp3_chapters(blob):
            rows.append("('{}', {}::int, {}, {}::bigint, {}::bigint, "
                        "{})".format(mid, r[0], lit(r[1]), r[2],
                                     lit(r[3]), lit(r[4])))
    return """
        SELECT * FROM (VALUES %s)
        AS t(media_id, pos, element_id, start_ms, end_ms, title)
        ORDER BY media_id, pos""" % ",\n".join(rows)


_GOLDEN_MP4 = _fixture("golden_mp4_seed42_n20.parquet")
_GOLDEN_AVI = _fixture("golden_avi_seed42_n5.parquet")

# audio fingerprints of fixtures.audio_fp_rows(), pinned as literals
# from the committed pure kernel (soundx.afp64) — the dhash pattern:
# touching the kernel or fixture shifts a hash and fails loudly
_AFP_VALUES = """(VALUES
  ('au0a', 8000::int, 6240::bigint, -1::bigint),
  ('au0b', 8000::int, 6240::bigint, -2147483649::bigint),
  ('au1a', 8000::int, 6240::bigint, 0::bigint),
  ('au1b', 8000::int, 6240::bigint, 2147483648::bigint),
  ('au2a', 8000::int, 6240::bigint, 6148914691236517205::bigint),
  ('au2b', 8000::int, 6240::bigint, 6148914688015291733::bigint),
  ('au3a', 8000::int, 6240::bigint, 1229782938247303441::bigint),
  ('au3b', 8000::int, 6240::bigint, 1229782939321045265::bigint),
  ('au4a', 8000::int, 6240::bigint, -2677716848204206675::bigint),
  ('au4b', 8000::int, 6240::bigint, -2677716850351690323::bigint),
  ('au5a', 8000::int, 6240::bigint, 4294967295::bigint),
  ('au5b', 8000::int, 6240::bigint, 2147483647::bigint),
  ('au2x', 16000::int, 12480::bigint, 6148914691236517205::bigint),
  ('aubad', NULL::int, NULL::bigint, NULL::bigint)
  ) AS t(media_id, sample_rate, n_frames, afp)"""


# --- MP4 container metadata (real ISO-BMFF box walk; sample data
# never decoded) — hash-checked against the committed golden,
# pinned by tests/test_mp4.py against the pure re-derivation
# mp4 tracks: committed golden parquet pinned by
# tests/test_mp4.py against the pure re-derivation
@query("mp4_metadata", oracle=lambda: f"""
            SELECT media_id, brand, duration_ms, n_boxes, track_id,
                   handler, codec, width, height, track_ms, lang
            FROM read_parquet('{_GOLDEN_MP4}')
            ORDER BY media_id, track_id""")
def q_mp4(spark, sf_dir):
    files = fixtures.mp4_media_rows(20)
    df = spark.createDataFrame(
        [(r["media_id"], r["payload"]) for r in files],
        "media_id string, payload binary").repartition(8)
    return (multimodal.video_metadata(df)
            .orderBy("media_id", "track_id"))


# --- per-codec track profile — golden both sides (the
# frame-budget / resolution-bucket accounting a video corpus runs)
# per-codec track profile: golden both sides
@query("video_track_stats", oracle=lambda: f"""
            SELECT handler, codec, count(*)::bigint AS n_tracks,
                   sum(track_ms)::bigint AS total_ms,
                   max(width * height)::bigint AS max_pixels,
                   count(DISTINCT lang)::bigint AS n_langs
            FROM read_parquet('{_GOLDEN_MP4}')
            WHERE track_id IS NOT NULL
            GROUP BY handler, codec
            ORDER BY handler, codec""")
def q_video_stats(spark, sf_dir):
    t = spark.read.parquet(_GOLDEN_MP4).where(
        F.col("track_id").isNotNull())
    return (t.groupBy("handler", "codec")
            .agg(F.count("*").cast("long").alias("n_tracks"),
                 F.sum("track_ms").cast("long").alias("total_ms"),
                 F.max(F.col("width") * F.col("height"))
                 .cast("long").alias("max_pixels"),
                 F.countDistinct("lang").cast("long")
                 .alias("n_langs"))
            .orderBy("handler", "codec"))


# --- podcast chapters (ID3v2 CHAP) — pure-extractor-fed VALUES
# oracle; the (audio-span, text) alignment rows for enclosures
@query("podcast_chapters", oracle=_podcast_sql)
def q_podcast_chapters(spark, sf_dir):
    df = spark.createDataFrame(_podcast_rows(),
                               "media_id string, payload binary")
    return (multimodal.podcast_chapters(df)
            .orderBy("media_id", "pos"))


# --- acoustic fingerprint: 64-bit energy-delta hash over REAL
# 16-bit PCM WAV (the dHash recipe in the time domain;
# rate-relative windows) — SQL-checked against hashes pinned as
# literals from the committed pure kernel; the fixture plants
# adjacent-window-swap near-twins and a cross-rate exact dup
# acoustic fingerprints pinned as literals from the committed
# pure kernel (soundx.afp64 — energy-delta bits over window-
# aligned fixtures; cross-rate dup included)
@query("audio_fingerprint", oracle=lambda: f"""
            SELECT * FROM {_AFP_VALUES}
            ORDER BY media_id""")
def q_audio_fp(spark, sf_dir):
    return (multimodal.audio_fingerprint(
        fixtures.audio_fp_df(spark)).orderBy("media_id"))


# --- acoustic near-dup pairs: the same pigeonhole bit-band path
# as dhash_near_pairs; brute-force oracle over the pinned hashes
# acoustic near-dup pairs: brute force over the pinned hashes
# == the banded join exactly (pigeonhole is lossless within
# the threshold)
@query("afp_near_pairs", oracle=lambda: f"""
            WITH h AS (
              SELECT * FROM {_AFP_VALUES} WHERE afp IS NOT NULL
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   bit_count(xor(a.afp, b.afp))::int AS hamming
            FROM h a JOIN h b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.afp, b.afp)) <= 7
            ORDER BY id_a, id_b""")
def q_afp_pairs(spark, sf_dir):
    hashes = multimodal.audio_fingerprint(
        fixtures.audio_fp_df(spark))
    return (multimodal.afp_near_pairs(hashes, max_hamming=7)
            .orderBy("id_a", "id_b"))


# --- REAL WAV audio stats (stdlib wave reader) — SQL-checked
# against pinned literals
# REAL WAV stats pinned the same way (square wave: rms == amp)
@query("audio_wav_stats", oracle=lambda: """
            SELECT * FROM (VALUES
              ('w1', 1, 8000, 4000::bigint, 500::bigint, 12000.0e0),
              ('w2', 1, 16000, 1000::bigint, 62::bigint, 12000.0e0),
              ('w3', NULL, NULL, NULL::bigint, NULL::bigint, NULL)
            ) AS t(media_id, n_channels, sample_rate, n_frames,
                   duration_ms, rms)""")
def q_audio_stats(spark, sf_dir):
    rows = [("w1", imagex.make_wav(4000, 8000, 32)),
            ("w2", imagex.make_wav(1000, 16000, 64)),
            ("w3", b"RIFFnot-a-wav")]
    df = spark.createDataFrame(rows,
                               "media_id string, payload binary")
    return multimodal.audio_stats(df)


# AVI headers (legacy-video sibling of mp4_metadata)
# AVI: committed golden pinned by tests/test_avix.py
@query("avi_headers", oracle=lambda: f"""
            SELECT url, pos, row_kind, us_per_frame, fps_milli,
                   width, height, total_frames, n_streams,
                   stream_kind, handler, rate_milli, length
            FROM read_parquet('{_GOLDEN_AVI}')""")
def q_avi_headers(spark, sf_dir):
    df = _payload_df(spark, fixtures.avi_file_rows(), 4)
    return sources.read_avi_headers(df)
