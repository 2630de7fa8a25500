"""iCalendar events and RRULE expansion."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_ICS = _fixture("golden_ics_seed42_n30.parquet")


# --- iCalendar source (the calendar member of the loader family:
# RFC 5545 unfolding, quoted-param content lines, TEXT unescape,
# VALARM isolation, DURATION folding, RRULE harvest) —
# hash-checked against the committed golden events parquet
# transcript profile: golden both sides; integer-only speed gate
# iCalendar events: committed golden parquet pinned by
# tests/test_ics.py against the pure re-derivation
@query("ics_events", oracle=lambda: f"""
            SELECT url, pos, uid, summary, location, start_ms, end_ms,
                   all_day, tzid, freq, rrule_interval, rrule_count,
                   until_ms, status
            FROM read_parquet('{_GOLDEN_ICS}')""")
def q_ics(spark, sf_dir):
    df = _payload_df(spark, fixtures.ics_file_rows(30), 8)
    return sources.read_ics_events(df)


# --- RRULE occurrence expansion (the time-window fan-out a
# calendar join needs: DAILY/WEEKLY rules expand to concrete
# occurrences, capped at 100; COUNT wins, then UNTIL, else the
# base occurrence only) — golden BOTH sides to isolate the
# expansion arithmetic; Spark sequence+explode == DuckDB
# unnest(generate_series) on pure int64 ms math (no calendar
# arithmetic: MONTHLY/YEARLY emit only their base occurrence)
# RRULE occurrence expansion: golden both sides; Spark
# sequence+explode == unnest(generate_series) on int64 ms;
# `div`/`//` agree (the dividend is clamped non-negative)
@query("event_expansion", oracle=lambda: f"""
            WITH ev AS (
              SELECT *,
                     rrule_interval::bigint * 86400000
                       * (CASE WHEN freq = 'WEEKLY' THEN 7 ELSE 1 END)
                       AS step_ms,
                     CASE
                       WHEN freq IS NULL
                            OR freq NOT IN ('DAILY', 'WEEKLY') THEN 1
                       WHEN rrule_count IS NOT NULL
                         THEN least(rrule_count::bigint, 100)
                       WHEN until_ms IS NOT NULL
                         THEN least(1 + greatest(0, until_ms - start_ms)
                                      // step_ms, 100)
                       ELSE 1
                     END AS n_occ
              FROM read_parquet('{_GOLDEN_ICS}')
            )
            SELECT url, uid, pos,
                   unnest(generate_series(0, n_occ - 1, 1)) AS k,
                   start_ms + k * step_ms AS occ_start_ms,
                   end_ms + k * step_ms AS occ_end_ms
            FROM ev
            ORDER BY url, pos, k""")
def q_ics_expand(spark, sf_dir):
    ev = spark.read.parquet(_GOLDEN_ICS)
    step = (F.col("rrule_interval").cast("long") * F.lit(86400000)
            * F.when(F.col("freq") == "WEEKLY", F.lit(7))
            .otherwise(F.lit(1)))
    n_by_until = F.lit(1) + F.expr(
        "greatest(0L, until_ms - start_ms) div step_ms")
    n_occ = (F.when(F.col("freq").isNull()
                    | ~F.col("freq").isin("DAILY", "WEEKLY"),
                    F.lit(1))
             .when(F.col("rrule_count").isNotNull(),
                   F.least(F.col("rrule_count").cast("long"),
                           F.lit(100)))
             .when(F.col("until_ms").isNotNull(),
                   F.least(n_by_until, F.lit(100)))
             .otherwise(F.lit(1)))
    return (ev.withColumn("step_ms", step)
            .withColumn("n_occ", F.coalesce(n_occ, F.lit(1)))
            .select("url", "uid", "pos", "start_ms", "end_ms",
                    "step_ms",
                    F.explode(F.expr("sequence(0L, n_occ - 1)"))
                    .alias("k"))
            .select("url", "uid", "pos", "k",
                    (F.col("start_ms") + F.col("k")
                     * F.col("step_ms")).alias("occ_start_ms"),
                    (F.col("end_ms") + F.col("k")
                     * F.col("step_ms")).alias("occ_end_ms"))
            .orderBy("url", "pos", "k"))
