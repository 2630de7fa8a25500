"""Portable sketches: Count-Min, HyperLogLog and Bloom membership."""

from pyspark.sql import functions as F

from ..operators import membership, sketches
from ..operators.skew import spread_small_scan
from ..operators.textstats import tokens as _tk
from . import _TOK, _t, query


# Count-Min probe terms (shared Spark/oracle; zzqx is absent)
_CMS_PROBES = ("the", "spark", "join", "window", "zzqx")

# HLL estimate over a CTE named d carrying (url): register + estimate
# fragments shared by the hll_url_distinct and hll_calibration twins
_HLL_EST_CTES = """r AS (
              SELECT h // 4503599627370496 AS bucket,
                     max(CASE WHEN h % 4503599627370496 = 0 THEN 53
                         ELSE 53
                              - length(bin(h % 4503599627370496))
                         END)::int AS max_rho
              FROM (SELECT cast('0x' || substr(md5('42:' || url), 1, 15)
                           AS bigint) AS h FROM d)
              GROUP BY bucket
            ), a AS (
              SELECT count(*)::bigint AS used,
                     sum(1::bigint << (53 - max_rho))::bigint
                       AS s_used
              FROM r
            )"""

_HLL_EST_EXPR = """CASE WHEN (4.2399330249068963e+20
                              / (s_used + (256 - used)
                                 * 9007199254740992)::double)
                             <= 640.0e0
                         AND (256 - used) > 0
                        THEN round(256.0e0
                                   * ln(256.0e0 / (256 - used)::double),
                                   6)
                        ELSE round(4.2399330249068963e+20
                                   / (s_used + (256 - used)
                                      * 9007199254740992)::double, 6)
                   END"""

_HLL_URLS = ("SELECT 'https://' || source || '/doc-' || doc_id AS url"
             " FROM documents")


# --- Count-Min sketch term counts — SQL-checked (exact integer
# cells; est is min over d portable md5 rows, only ever >= true)
# Count-Min sketch: exact integer cells from the portable md5
# bucket family; est = min over d rows (left join, empty -> 0)
@query("cms_term_counts", oracle=lambda: f"""
            WITH toks AS (
              SELECT lower(u.t) AS term
              FROM documents, unnest({_TOK}) AS u(t)
            ), rr AS (SELECT unnest(generate_series(0, 3)) AS r),
            cells AS (
              SELECT r, cast('0x' || substr(md5('42:' || r || ':' ||
                     term), 1, 8) AS bigint) % 256 AS cell
              FROM toks CROSS JOIN rr
            ), sk AS (
              SELECT r, cell, count(*) AS cnt FROM cells GROUP BY 1, 2
            ), probes AS (
              SELECT unnest({list(_CMS_PROBES)!r}) AS term
            ), pc AS (
              SELECT term, r, cast('0x' || substr(md5('42:' || r || ':'
                     || term), 1, 8) AS bigint) % 256 AS cell
              FROM probes CROSS JOIN rr
            ), est AS (
              SELECT term, min(coalesce(cnt, 0))::bigint AS est
              FROM pc LEFT JOIN sk USING (r, cell) GROUP BY term
            ), tc AS (
              SELECT term, count(*)::bigint AS true_cnt FROM toks
              WHERE term IN {repr(tuple(_CMS_PROBES))} GROUP BY 1
            )
            SELECT p.term, est, coalesce(true_cnt, 0)::bigint AS true_cnt
            FROM probes p JOIN est USING (term) LEFT JOIN tc USING (term)""")
def q_cms(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # ONE tokenize+explode+aggregate pass: the per-term counts
    # (vocab-sized) feed the sketch as weights AND the true-count
    # side; checkpointed so neither consumer re-runs the corpus
    # scan (r6 — was two full tokenization passes + one md5 per
    # token ROW instead of per distinct term)
    term_counts = (spread_small_scan(docs.select("text"))
                   .select(F.explode(F.transform(
                       _tk("text"), lambda t: F.lower(t)))
                       .alias("term"))
                   .groupBy("term")
                   .agg(F.count("*").cast("long").alias("cnt"))
                   .localCheckpoint())
    sk = sketches.cms_table(term_counts, "term", d=4, w=256,
                            weight_col="cnt")
    probes = spark.createDataFrame(
        [(t,) for t in _CMS_PROBES], "term string")
    est = sketches.cms_estimate(sk, probes, "term", d=4, w=256)
    true = (term_counts.where(F.col("term").isin(*_CMS_PROBES))
            .select("term", F.col("cnt").alias("true_cnt")))
    return (probes.join(est, "term").join(true, "term", "left")
            .select("term", "est",
                    F.coalesce("true_cnt", F.lit(0)).cast("long")
                    .alias("true_cnt")))


# --- portable Bloom filter (crawl-history URL seen-set) — SQL-
# checked bit-for-bit incl. false positives: filter built from the
# even-doc_id half, every url probed against it (no false
# negatives by construction; FPs are deterministic md5 math)
# portable Bloom filter: same md5 hash family / 63-bit words;
# bit_or build over the even half, 4-probe AND membership —
# bit-for-bit identical to Spark including false positives
@query("bloom_url_membership", oracle=lambda: """
            WITH d AS (
              SELECT doc_id,
                     'https://' || source || '/doc-' || doc_id AS url
              FROM documents
            ), pb AS (
              SELECT (cast('0x' || substr(md5('42:' || i || ':' || url), 1, 15) AS bigint) % 65536) AS pos
              FROM d, unnest([0, 1, 2, 3]) AS u(i)
              WHERE doc_id % 2 = 0
            ), bloom AS (
              SELECT pos // 63 AS word_idx,
                     bit_or(1::bigint << (pos % 63)::int) AS bits
              FROM pb GROUP BY word_idx
            ), pq AS (
              SELECT doc_id, (cast('0x' || substr(md5('42:' || i || ':' || url), 1, 15) AS bigint) % 65536) AS pos
              FROM d, unnest([0, 1, 2, 3]) AS u(i)
            ), j AS (
              SELECT doc_id,
                     CASE WHEN (coalesce(bits, 0)
                                & (1::bigint << (pos % 63)::int))
                          = (1::bigint << (pos % 63)::int)
                     THEN 1 ELSE 0 END AS hit
              FROM pq LEFT JOIN bloom ON pq.pos // 63 = bloom.word_idx
            )
            SELECT doc_id,
                   (CASE WHEN sum(hit) = 4 THEN 1 ELSE 0 END)::bigint
                     AS might_contain
            FROM j GROUP BY doc_id""")
def q_bloom(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    bloom = membership.bloom_build(
        d.where(F.col("doc_id") % 2 == 0), "url",
        m_bits=1 << 16, k=4)
    return membership.bloom_might_contain(
        d, bloom, "url", "doc_id", m_bits=1 << 16, k=4)


# --- portable HyperLogLog distinct-url estimate — SQL-checked to
# the last bit: integer register math, one IEEE divide (or one ln
# on the linear-counting branch), round 6 — same op order both
# engines; the register table itself is the mergeable artifact
# portable HyperLogLog: 60-bit md5 hash, top-8-bit bucket,
# integer 2^(W+1-M) indicator sum, one IEEE divide / ln + round
# — estimate matches Spark to the last bit
@query("hll_url_distinct", oracle=lambda: f"""
            WITH d AS ({_HLL_URLS}), {_HLL_EST_CTES}
            SELECT used AS n_registers_used,
                   {_HLL_EST_EXPR} AS estimate
            FROM a""")
def q_hll(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    return sketches.hll_distinct(d, "url", b=8)


# --- HLL estimator calibration: estimate vs EXACT distinct, 3-
# sigma acceptance — SQL-checked (shared register/estimate twin)
@query("hll_calibration", oracle=lambda: f"""
            WITH d AS ({_HLL_URLS}), {_HLL_EST_CTES},
            e AS (SELECT count(DISTINCT url)::bigint AS exact FROM d),
            est AS (SELECT {_HLL_EST_EXPR} AS estimate FROM a)
            SELECT exact, estimate,
                   round(abs(estimate - exact) / exact, 6)
                     AS err_ratio,
                   0.065e0 AS bound_ratio,
                   (round(abs(estimate - exact) / exact, 6)
                    <= 3 * 0.065e0) AS within_3_sigma
            FROM est, e""")
def q_hll_cal(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    return sketches.hll_calibration(d, "url", b=8)
