"""Timed text: subtitle cues and frame-cue alignment."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_SUBS = _fixture("golden_subtitles_seed42_n36.parquet")


# --- subtitle source (the timed-text member of the loader family:
# SRT/WebVTT detection, BOM/legacy decode, tag strip) — hash-checked
# against the committed golden cues parquet
# subtitle cues: committed golden parquet pinned by
# tests/test_subtitles.py against the pure re-derivation
@query("subtitle_cues", oracle=lambda: f"""
            SELECT url, pos, start_ms, end_ms, text
            FROM read_parquet('{_GOLDEN_SUBS}')""")
def q_subs(spark, sf_dir):
    df = _payload_df(spark, fixtures.subtitle_file_rows(36), 8)
    return sources.read_subtitle_cues(df)


# --- per-file transcript profile (cue density + reading speed —
# the caption-quality gate a video-text pairing pipeline applies)
# — golden both sides; the speed flag is an integer cross-multiply
@query("subtitle_stats", oracle=lambda: f"""
            SELECT url,
                   count(*)::bigint AS n_cues,
                   sum(end_ms - start_ms)::bigint AS total_cue_ms,
                   sum(length(text))::bigint AS n_chars,
                   max(end_ms)::bigint AS last_end_ms,
                   sum(length(text)) * 1000
                     > sum(end_ms - start_ms) * 17 AS fast_speech
            FROM read_parquet('{_GOLDEN_SUBS}')
            GROUP BY url ORDER BY url""")
def q_sub_stats(spark, sf_dir):
    cues = spark.read.parquet(_GOLDEN_SUBS)
    return (cues.groupBy("url")
            .agg(F.count("*").cast("long").alias("n_cues"),
                 F.sum(F.col("end_ms") - F.col("start_ms"))
                 .cast("long").alias("total_cue_ms"),
                 F.sum(F.length("text")).cast("long")
                 .alias("n_chars"),
                 F.max("end_ms").cast("long").alias("last_end_ms"))
            .withColumn(
                "fast_speech",
                F.col("n_chars") * 1000 > F.col("total_cue_ms") * 17)
            .orderBy("url"))


# --- frame-cue alignment (the text half of a video-text pairing
# pipeline): deterministic frame timestamps every 2 s per file,
# interval-joined to the transcript cues — golden both sides. The
# join is equi on url + a between filter: groups are file-sized,
# never cross-corpus.
# frame-cue alignment: unnest(generate_series) == Spark
# sequence+explode on int64 ms; half-open interval containment
@query("frame_cue_alignment", oracle=lambda: f"""
            WITH cues AS (
              SELECT * FROM read_parquet('{_GOLDEN_SUBS}')
            ), frames AS (
              SELECT url, unnest(generate_series(0, max_ms, 2000))
                       AS frame_ms
              FROM (SELECT url, max(end_ms) AS max_ms
                    FROM cues GROUP BY url)
            )
            SELECT f.url AS url, f.frame_ms, c.pos,
                   c.text AS cue_text
            FROM frames f JOIN cues c
              ON f.url = c.url
             AND f.frame_ms >= c.start_ms AND f.frame_ms < c.end_ms
            ORDER BY f.url, f.frame_ms, c.pos""")
def q_frame_cues(spark, sf_dir):
    cues = spark.read.parquet(_GOLDEN_SUBS)
    frames = (cues.groupBy("url")
              .agg(F.max("end_ms").alias("max_ms"))
              .select("url", F.explode(F.expr(
                  "sequence(0::long, max_ms, 2000::long)"))
                  .alias("frame_ms")))
    return (frames.join(cues, "url")
            .where((F.col("frame_ms") >= F.col("start_ms"))
                   & (F.col("frame_ms") < F.col("end_ms")))
            .select("url", "frame_ms", "pos",
                    F.col("text").alias("cue_text"))
            .orderBy("url", "frame_ms", "pos"))
