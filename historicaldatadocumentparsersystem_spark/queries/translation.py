"""Translation memories: gettext PO and TMX bitext."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..operators import bitext
from . import _fixture, _payload_df, query


def _bitext_gate_sql(a: str, b: str) -> str:
    """The shared length-ratio gate predicate, generated from the
    operator constants (integer cross-multiply)."""
    r, m = bitext.MAX_RATIO, bitext.MIN_CHARS
    return (f"length({a}) >= {m} AND length({b}) >= {m} "
            f"AND length({a}) <= {r} * length({b}) "
            f"AND length({b}) <= {r} * length({a})")


def _po_langs_cte() -> str:
    """Shared hdr CTE: per-catalog declared language (arg_min ==
    Spark min_by over the NULL-filtered header rows; LANG_RE
    generated from the operator constant, never hand-retyped)."""
    return f"""hdr AS (
              SELECT url, arg_min(lang, pos) AS lang FROM (
                SELECT url, pos,
                       nullif(trim(regexp_extract(msgstr,
                         '{bitext.LANG_RE}', 2)), '') AS lang
                FROM g WHERE msgid = '')
              WHERE lang IS NOT NULL GROUP BY url)"""


_GOLDEN_PO = _fixture("golden_po_seed42_n20.parquet")
_GOLDEN_TMX = _fixture("golden_tmx_seed42_n16.parquet")


# --- gettext PO source (the bitext member of the loader
# family: l10n catalogs are the densest open MT-data channel) —
# entry rows hash-checked against the committed golden; pair
# mining + catalog rollup golden both sides
# PO entries: committed golden parquet pinned by
# tests/test_pox.py against the pure re-derivation
@query("po_entries", oracle=lambda: f"""
            SELECT url, pos, ctxt, msgid, msgid_plural, msgstr,
                   n_plurals, fuzzy, obsolete, refs
            FROM read_parquet('{_GOLDEN_PO}')""")
def q_po_entries(spark, sf_dir):
    df = _payload_df(spark, fixtures.po_file_rows(20), 8)
    return sources.read_po_entries(df)


# bitext mining: golden both sides; LANG_RE generated from
# the operator constant; integer cross-multiply length gate
@query("po_bitext_pairs", oracle=lambda: f"""
            WITH g AS (SELECT * FROM
                       read_parquet('{_GOLDEN_PO}')),
            {_po_langs_cte()}
            SELECT e.url, e.pos, h.lang, e.msgid AS src,
                   e.msgstr AS tgt
            FROM g e LEFT JOIN hdr h ON e.url = h.url
            WHERE NOT e.fuzzy AND NOT e.obsolete
              AND e.msgid != '' AND e.msgstr != ''
              AND length(e.msgid) >= 2 AND length(e.msgstr) >= 2
              AND length(e.msgid) <= 3 * length(e.msgstr)
              AND length(e.msgstr) <= 3 * length(e.msgid)
            ORDER BY e.url, e.pos""")
def q_po_bitext(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_PO)
    return (bitext.po_bitext_pairs(g)
            .orderBy("url", "pos"))


@query("po_catalog_stats", oracle=lambda: f"""
            WITH g AS (SELECT * FROM
                       read_parquet('{_GOLDEN_PO}')),
            {_po_langs_cte()},
            stats AS (
              SELECT url, count(*)::bigint AS n_entries,
                     sum(CASE WHEN msgstr != '' THEN 1 ELSE 0
                         END)::bigint AS n_translated,
                     sum(CASE WHEN fuzzy THEN 1 ELSE 0
                         END)::bigint AS n_fuzzy,
                     sum(CASE WHEN n_plurals > 0 THEN 1 ELSE 0
                         END)::bigint AS n_plural,
                     sum(CASE WHEN obsolete THEN 1 ELSE 0
                         END)::bigint AS n_obsolete
              FROM g WHERE msgid != '' GROUP BY url)
            SELECT s.url, h.lang, s.n_entries, s.n_translated,
                   s.n_fuzzy, s.n_plural, s.n_obsolete
            FROM stats s LEFT JOIN hdr h ON s.url = h.url
            ORDER BY s.url""")
def q_po_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_PO)
    stats = (g.where(F.col("msgid") != "")
             .groupBy("url")
             .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_entries"),
                  F.sum((F.col("msgstr") != "").cast("long"))
                  .alias("n_translated"),
                  F.sum(F.col("fuzzy").cast("long"))
                  .alias("n_fuzzy"),
                  F.sum((F.col("n_plurals") > 0).cast("long"))
                  .alias("n_plural"),
                  F.sum(F.col("obsolete").cast("long"))
                  .alias("n_obsolete")))
    return (stats.join(bitext.po_catalog_langs(g), "url",
                       "left")
            .select("url", "lang", "n_entries", "n_translated",
                    "n_fuzzy", "n_plural", "n_obsolete")
            .orderBy("url"))


# --- TMX source (CAT-tool / OPUS translation memories: the
# second bitext channel) — tuv rows hash-checked against the
# committed golden; tu pairing golden both sides with the
# shared length gate
# TMX tuv rows: committed golden parquet pinned by
# tests/test_tmx.py against the pure re-derivation
@query("tmx_rows", oracle=lambda: f"""
            SELECT url, tu, tuid, pos, srclang, lang, seg
            FROM read_parquet('{_GOLDEN_TMX}')""")
def q_tmx_rows(spark, sf_dir):
    df = _payload_df(spark, fixtures.tmx_file_rows(16), 8)
    return sources.read_tmx_rows(df)


# tu pairing: golden both sides; source pick via arg_min ==
# Spark min_by; gate thresholds generated from the operator
# constants
@query("tmx_bitext_pairs", oracle=lambda: f"""
            WITH g AS (SELECT * FROM
                       read_parquet('{_GOLDEN_TMX}')),
            src AS (
              SELECT url, tu, min(pos) AS src_pos,
                     arg_min(lang, pos) AS src_lang,
                     arg_min(seg, pos) AS src
              FROM g
              WHERE CASE WHEN srclang IS NOT NULL
                          AND lower(srclang) != '*all*'
                         THEN lang = lower(srclang)
                         ELSE pos = 0 END
              GROUP BY url, tu)
            SELECT t.url, t.tu, s.src_lang, s.src,
                   t.lang AS tgt_lang, t.seg AS tgt
            FROM g t JOIN src s
              ON t.url = s.url AND t.tu = s.tu
            WHERE t.pos != s.src_pos
              AND {_bitext_gate_sql('s.src', 't.seg')}""")
def q_tmx_pairs(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_TMX)
    return bitext.tmx_bitext_pairs(g)


@query("tmx_memory_stats", oracle=lambda: f"""
            SELECT url, count(DISTINCT tu)::bigint AS n_units,
                   count(*)::bigint AS n_segments,
                   count(DISTINCT lang)::bigint AS n_langs
            FROM read_parquet('{_GOLDEN_TMX}')
            GROUP BY url ORDER BY url""")
def q_tmx_stats(spark, sf_dir):
    # golden both sides: per-memory rollup
    g = spark.read.parquet(_GOLDEN_TMX)
    return (g.groupBy("url")
            .agg(F.countDistinct("tu").cast("long")
                 .alias("n_units"),
                 F.count(F.lit(1)).cast("long")
                 .alias("n_segments"),
                 F.countDistinct("lang").cast("long")
                 .alias("n_langs"))
            .orderBy("url"))
