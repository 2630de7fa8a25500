"""HTML page structure, hash-checked against the committed goldens."""

from pyspark.sql import functions as F

from .. import fixtures
from ..extractor.figx import parse_srcset
from ..operators import encoding, pagemeta, webtext
from . import (
    _GOLDEN_DATES, _GOLDEN_LINKS, _GOLDEN_META, _GOLDEN_OUTLINE,
    _fixture, query)

_GOLDEN_AV = _fixture("golden_av_seed42_n120.parquet")


_SRCSET_ROWS = (
    ("https://ss.example/hero",
     "hero-480.jpg 480w, hero-960.jpg 960w, hero-2x.jpg 2x"),
    ("https://ss.example/density", "small.png, big.png 1.5x"),
    ("https://ss.example/commas", "u,v.png 2x, plain.png"),
    ("https://ss.example/errors",
     "bad.png 3q, ok.png 100w, zero.png 0w"),
    ("https://ss.example/spacing",
     "  spaced.png   2.25x  ,tight.png 640w"),
    ("https://ss.example/clamp", "huge.png 99999999999w"),
    ("https://ss.example/empty", " , ,, "),
    ("https://ss.example/absent", None),
)


def _srcset_candidates_sql() -> str:
    """Oracle for srcset_candidates: the PURE parser feeds the VALUES
    rows (spec microsyntax pinned by tests/test_figx.py vectors)."""
    rows = []
    for url, raw in _SRCSET_ROWS:
        for pos, img, kind, val in parse_srcset(raw):
            rows.append(f"('{url}', {pos}::int, '{img}', '{kind}', "
                        f"{val}::bigint)")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, pos, img_url, kind, val)
        ORDER BY url, pos"""


def _srcset_best_sql() -> str:
    """QUALIFY twin of pagemeta.srcset_best over the same candidate
    rows: largest width wins, else largest density, first-declared
    on ties."""
    return f"""
        WITH c AS ({_srcset_candidates_sql().replace(
            'ORDER BY url, pos', '')})
        SELECT url, img_url, kind, val FROM c
        QUALIFY row_number() OVER (
            PARTITION BY url
            ORDER BY (kind = 'w') DESC, val DESC, pos) = 1
        ORDER BY url"""


def _embed_hosts_in(hosts) -> str:
    return "host IN (%s)" % ", ".join(f"'{h}'" for h in hosts)


def _embed_provider_case() -> str:
    """WHEN arms of the provider CASE — GENERATED from
    operators/pagemeta.EMBED_PROVIDERS (never retyped)."""
    return " ".join(
        f"WHEN {_embed_hosts_in(hosts)} THEN '{name}'"
        for name, hosts, _marker in pagemeta.EMBED_PROVIDERS)


def _embed_id_case() -> str:
    """WHEN arms of the video-id CASE: the path segment after the
    provider's marker, cut at '?' or '/', NULL when absent/empty —
    split_part(x, m, 2) == Spark try_element_at(split(x, m), 2) on
    marker-bearing urls. GENERATED from pagemeta.EMBED_PROVIDERS."""
    arms = []
    for name, hosts, marker in pagemeta.EMBED_PROVIDERS:
        seg = (f"nullif(split_part(split_part(split_part(src_url, "
               f"'{marker}', 2), '?', 1), '/', 1), '')")
        arms.append(f"WHEN {_embed_hosts_in(hosts)} "
                    f"AND src_url LIKE '%{marker}%' THEN {seg}")
    return " ".join(arms)


_GOLDEN_TABLES = _fixture("golden_tables_seed42_n120.parquet")
_GOLDEN_CHARSET = _fixture("golden_charset_seed42_n120.parquet")
_GOLDEN_CODE = _fixture("golden_code_seed42_n120.parquet")
_GOLDEN_IMAGES = _fixture("golden_images_seed42_n120.parquet")
_GOLDEN_FORMS = _fixture("golden_forms_seed42_n120.parquet")
_GOLDEN_IDN = _fixture("golden_idn_seed42_n96.parquet")
_GOLDEN_SHAPES = _fixture("golden_shapes_seed42_n300.parquet")
_GOLDEN_HREFLANG = _fixture("golden_hreflang_seed42_n120.parquet")
_GOLDEN_MARKDOWN = _fixture("golden_markdown_seed42_n120.parquet")
_GOLDEN_PAGING = _fixture("golden_paging_seed42.parquet")
_PAGING_CAP = 8  # stitch depth cap shared by query and oracle


# --- page-metadata extraction (title/description/robots/canonical/
# OpenGraph/lang from the <head>) — hash-checked against the
# committed golden meta parquet (same oracle pattern as
# extract_links: the Spark UDF calls the Spark-free extractor)
# page metadata: committed golden parquet pinned by
# tests/test_pagemeta.py against the pure re-derivation
@query("extract_meta", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_META}')
            ORDER BY url""")
def q_meta(spark, sf_dir):
    docs = fixtures.meta_pages_df(spark, 120)
    return pagemeta.extract_meta_df(docs).orderBy("url")


# --- HTML -> Markdown serialization (the structure-preserving
# emission format) — hash-checked against the committed golden
# markdown parquet (same oracle pattern as extract_links: the
# Spark UDF calls the Spark-free extractor/mdx.py)
# markdown serialization: committed golden parquet pinned by
# tests/test_mdx.py against the pure re-derivation
@query("extract_markdown", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_MARKDOWN}')
            ORDER BY url""")
def q_markdown(spark, sf_dir):
    docs = fixtures.md_pages_df(spark, 120)
    return pagemeta.extract_markdown_df(docs).orderBy("url")


# --- markdown structural census — reads the GOLDEN on both sides
# (serialization==golden is proven by extract_markdown; this
# isolates the line/substring arithmetic of the layout profile)
# markdown structural census: golden on both sides (the
# serialization itself is proven by extract_markdown; this
# checks the line/substring arithmetic alone). Integer div and
# list_filter+regexp mirror the Spark projection exactly.
@query("markdown_stats", oracle=lambda: f"""
            WITH lines AS (
                SELECT url, markdown,
                       string_split(markdown, chr(10)) AS ls
                FROM read_parquet('{_GOLDEN_MARKDOWN}'))
            SELECT url,
                   length(markdown)::bigint AS n_chars,
                   len(list_filter(ls,
                       ln -> regexp_matches(ln, '^#{{1,6}} ')))::bigint
                       AS n_headings,
                   len(list_filter(ls,
                       ln -> regexp_matches(ln, '^ *(- |[0-9]+\\. )')))
                       ::bigint AS n_list_items,
                   (len(list_filter(ls,
                        ln -> regexp_matches(ln, '^\\| ')))
                    - len(list_filter(ls,
                        ln -> regexp_matches(ln, '^\\|( --- \\|)+$'))))
                       ::bigint AS n_table_rows,
                   (len(list_filter(ls,
                        ln -> regexp_matches(ln, '^`{{3}}')))::bigint
                    // 2) AS n_code_blocks,
                   len(list_filter(ls,
                       ln -> regexp_matches(ln, '^>')))::bigint
                       AS n_quote_lines,
                   (len(string_split(markdown, '](')) - 1)::bigint
                       AS n_links
            FROM lines ORDER BY url""")
def q_markdown_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_MARKDOWN)
    return pagemeta.markdown_stats(g).orderBy("url")


# --- charset diagnostics + mojibake repair (the byte-level decode
# explanation layer) — hash-checked against the committed golden
# charset parquet (same oracle pattern as extract_links: the Spark
# UDF calls the Spark-free extractor/charsetx.py)
# charset diagnostics: committed golden parquet pinned by
# tests/test_charset.py against the pure re-derivation
@query("encoding_profile", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_CHARSET}')
            ORDER BY url""")
def q_encoding(spark, sf_dir):
    docs = fixtures.charset_pages_df(spark, 120)
    return encoding.encoding_profile_df(docs).orderBy("url")


# --- charset mix rollup — reads the GOLDEN on both sides
# (profile==golden is proven by encoding_profile; this isolates the
# rollup a crawl operator actually dashboards: decode source mix,
# lossy-decode damage, repair and mis-declaration counts)
# charset mix rollup: golden on both sides (profile==golden is
# proven by encoding_profile; this checks the rollup alone)
@query("charset_stats", oracle=lambda: f"""
            SELECT charset, source,
                   count(*)::bigint AS n_docs,
                   sum(n_replacements)::bigint AS total_replacements,
                   sum(CASE WHEN mojibake_passes > 0 THEN 1 ELSE 0
                       END)::bigint AS n_repaired,
                   sum(CASE WHEN declared_ok = false THEN 1 ELSE 0
                       END)::bigint AS n_misdeclared
            FROM read_parquet('{_GOLDEN_CHARSET}')
            GROUP BY charset, source
            ORDER BY charset, source""")
def q_charset_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_CHARSET)
    return (g.groupBy("charset", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_replacements").cast("long")
                 .alias("total_replacements"),
                 F.sum(F.when(F.col("mojibake_passes") > 0, 1)
                       .otherwise(0)).cast("long").alias("n_repaired"),
                 F.sum(F.when(F.col("declared_ok") == False, 1)  # noqa: E712
                       .otherwise(0)).cast("long")
                 .alias("n_misdeclared"))
            .orderBy("charset", "source"))


# --- encoding quality gate — golden on both sides (same isolation
# rationale): route documents to keep / repair-and-keep / transcode
# encoding gate: golden on both sides (same isolation)
@query("encoding_gate", oracle=lambda: f"""
            SELECT url, charset,
                   mojibake_passes > 0 AS repaired,
                   (n_replacements = 0 AND moji_hits_after = 0) AS keep,
                   charset <> 'utf-8' AS needs_transcode
            FROM read_parquet('{_GOLDEN_CHARSET}')
            ORDER BY url""")
def q_encoding_gate(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_CHARSET)
    return (g.select(
        "url", "charset",
        (F.col("mojibake_passes") > 0).alias("repaired"),
        ((F.col("n_replacements") == 0)
         & (F.col("moji_hits_after") == 0)).alias("keep"),
        (F.col("charset") != "utf-8").alias("needs_transcode"))
        .orderBy("url"))


# --- publication-date candidates (htmldate analog: meta/JSON-LD/
# time/url/text precedence) — hash-checked against the committed
# golden dates parquet
# date candidates: committed golden parquet pinned by
# tests/test_dates.py against the pure re-derivation
@query("extract_dates", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_DATES}')
            ORDER BY url, pos""")
def q_dates(spark, sf_dir):
    docs = fixtures.date_pages_df(spark, 120)
    return pagemeta.extract_dates_df(docs).orderBy("url", "pos")


# --- per-page winning date — reads the GOLDEN on both sides
# (candidates==golden is proven by extract_dates; this isolates the
# min_by precedence resolution, one map-side-combinable groupBy)
# winning date: golden both sides; arg_min == Spark min_by
# (pos is unique per url, so the pick is deterministic)
@query("publish_date", oracle=lambda: f"""
            SELECT url,
                   arg_min(date_iso, pos) AS published,
                   arg_min(source, pos) AS source,
                   count(*)::bigint AS n_candidates
            FROM read_parquet('{_GOLDEN_DATES}')
            GROUP BY url
            ORDER BY url""")
def q_publish_date(spark, sf_dir):
    cands = spark.read.parquet(_GOLDEN_DATES)
    return pagemeta.publish_date(cands).orderBy("url")


# --- code-block extraction + language ID (the code-routing pass
# splitting source code out of the prose stream) — hash-checked
# against the committed golden code parquet
# code blocks: committed golden parquet pinned by
# tests/test_codex.py against the pure re-derivation
@query("extract_code", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_CODE}')
            ORDER BY url, pos""")
def q_code(spark, sf_dir):
    docs = fixtures.code_pages_df(spark, 120)
    return pagemeta.extract_code_df(docs).orderBy("url", "pos")


# --- per-language corpus mixture — reads the GOLDEN on both sides
# (blocks==golden is proven by extract_code; this isolates the
# mixture aggregation, one map-side-combinable groupBy)
# per-language mixture: golden both sides (blocks==golden is
# proven by extract_code; this isolates the aggregation)
@query("code_lang_stats", oracle=lambda: f"""
            SELECT lang,
                   count(*)::bigint AS n_blocks,
                   sum(n_lines)::bigint AS total_lines,
                   sum(n_chars)::bigint AS total_chars,
                   sum(CASE WHEN lang_hint IS NOT NULL THEN 1
                            ELSE 0 END)::bigint AS n_hinted
            FROM read_parquet('{_GOLDEN_CODE}')
            GROUP BY lang ORDER BY lang""")
def q_code_lang_stats(spark, sf_dir):
    blocks = spark.read.parquet(_GOLDEN_CODE)
    return (blocks.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_blocks"),
                 F.sum("n_lines").cast("long").alias("total_lines"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.sum(F.when(F.col("lang_hint").isNotNull(), 1)
                       .otherwise(0)).cast("long").alias("n_hinted"))
            .orderBy("lang"))


# --- per-page code profile (the code-vs-prose routing signal) —
# golden on both sides; integer cross-multiply keeps floats out
# per-page code profile: golden both sides; the gate is pure
# integer comparisons (no floats in the hash)
@query("code_block_profile", oracle=lambda: f"""
            SELECT url,
                   count(*)::bigint AS n_blocks,
                   count(DISTINCT lang)::bigint AS n_langs,
                   max(n_lines)::bigint AS max_lines,
                   sum(n_chars)::bigint AS code_chars,
                   (count(*) >= 2 OR sum(n_chars) >= 60) AS code_heavy
            FROM read_parquet('{_GOLDEN_CODE}')
            GROUP BY url ORDER BY url""")
def q_code_profile(spark, sf_dir):
    blocks = spark.read.parquet(_GOLDEN_CODE)
    return (blocks.groupBy("url")
            .agg(F.count("*").cast("long").alias("n_blocks"),
                 F.countDistinct("lang").cast("long")
                 .alias("n_langs"),
                 F.max("n_lines").cast("long").alias("max_lines"),
                 F.sum("n_chars").cast("long").alias("code_chars"))
            .withColumn(
                "code_heavy",
                (F.col("n_blocks") >= 2) | (F.col("code_chars") >= 60))
            .orderBy("url"))


# --- image/figure extraction (one row per <img>) — hash-checked
# against the committed golden images parquet (figcaption
# association, lazy data-src, dimension attrs, nested figures)
# image rows: committed golden parquet pinned by
# tests/test_figx.py against the pure re-derivation
@query("extract_images", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_IMAGES}')
            ORDER BY url, pos""")
def q_images(spark, sf_dir):
    docs = fixtures.image_pages_df(spark, 120)
    return pagemeta.extract_images_df(docs).orderBy("url", "pos")


# --- CLIP-candidate pair selection — reads the GOLDEN on both
# sides (rows==golden is proven by extract_images; this isolates
# the precedence/threshold/first-occurrence logic)
# CLIP-pair selection over the golden (caption > alt > title
# precedence, declared-dimension and text-length thresholds,
# first occurrence per image URL corpus-wide)
@query("image_text_pairs", oracle=lambda: f"""
            WITH cand AS (
              SELECT url, pos, src_url,
                CASE WHEN coalesce(caption, '') <> '' THEN caption
                     WHEN coalesce(alt, '') <> '' THEN alt
                     WHEN coalesce(title, '') <> '' THEN title
                END AS text,
                CASE WHEN coalesce(caption, '') <> '' THEN 'caption'
                     WHEN coalesce(alt, '') <> '' THEN 'alt'
                     WHEN coalesce(title, '') <> '' THEN 'title'
                END AS text_source
              FROM read_parquet('{_GOLDEN_IMAGES}')
              WHERE src_url IS NOT NULL
                AND coalesce(width >= 64, TRUE)
                AND coalesce(height >= 64, TRUE))
            SELECT url, pos, src_url, text, text_source
            FROM cand
            WHERE text IS NOT NULL AND length(text) >= 8
            QUALIFY row_number() OVER (PARTITION BY src_url
                      ORDER BY url, pos) = 1""")
def q_image_pairs(spark, sf_dir):
    return pagemeta.image_text_pairs(
        spark.read.parquet(_GOLDEN_IMAGES))


# --- audio/video/embed extraction (one row per media element) —
# hash-checked against the committed golden av parquet (source
# lists, subtitle tracks, posters, player iframes, figcaptions)
# av rows: committed golden parquet pinned by
# tests/test_avx.py against the pure re-derivation
@query("extract_av", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_AV}')
            ORDER BY url, pos""")
def q_av(spark, sf_dir):
    docs = fixtures.av_pages_df(spark, 120)
    return pagemeta.extract_av_df(docs).orderBy("url", "pos")


# --- video/audio-text pair selection — reads the GOLDEN on both
# sides (rows==golden is proven by extract_av; this isolates the
# caption>title precedence / threshold / first-occurrence logic)
# video/audio-text pair selection over the golden (caption >
# title precedence, text-length threshold, first occurrence
# per asset URL corpus-wide)
@query("av_text_pairs", oracle=lambda: f"""
            WITH cand AS (
              SELECT url, pos, kind, src_url,
                CASE WHEN coalesce(caption, '') <> '' THEN caption
                     WHEN coalesce(title, '') <> '' THEN title
                END AS text,
                CASE WHEN coalesce(caption, '') <> '' THEN 'caption'
                     WHEN coalesce(title, '') <> '' THEN 'title'
                END AS text_source
              FROM read_parquet('{_GOLDEN_AV}')
              WHERE src_url IS NOT NULL)
            SELECT url, pos, kind, src_url, text, text_source
            FROM cand
            WHERE text IS NOT NULL AND length(text) >= 8
            QUALIFY row_number() OVER (PARTITION BY src_url
                      ORDER BY url, pos) = 1""")
def q_av_pairs(spark, sf_dir):
    return pagemeta.av_text_pairs(spark.read.parquet(_GOLDEN_AV))


# --- third-party embed resolution — golden both sides; host and
# id extraction are pure string ops, the provider/marker tables
# are GENERATED into the SQL from pagemeta.EMBED_PROVIDERS
# third-party embed resolution over the golden: host between
# '://' and the next '/' (port stripped), provider/id via the
# GENERATED host/marker tables (pagemeta.EMBED_PROVIDERS)
@query("embed_providers", oracle=lambda: f"""
            WITH base AS (
              SELECT url, pos, src_url, title,
                     lower(split_part(split_part(split_part(
                       src_url, '://', 2), '/', 1), ':', 1)) AS host
              FROM read_parquet('{_GOLDEN_AV}')
              WHERE kind = 'iframe' AND src_url IS NOT NULL)
            SELECT url, pos, src_url, host,
                   CASE {_embed_provider_case()} ELSE 'other' END
                     AS provider,
                   CASE {_embed_id_case()} END AS video_id,
                   title
            FROM base ORDER BY url, pos""")
def q_embed_providers(spark, sf_dir):
    return pagemeta.embed_providers(
        spark.read.parquet(_GOLDEN_AV)).orderBy("url", "pos")


# --- form extraction (one row per <form>) — hash-checked against
# the committed golden forms parquet (control census, spec
# defaults, nested-form isolation, search-name conventions)
# form rows: committed golden parquet pinned by
# tests/test_formx.py against the pure re-derivation
@query("extract_forms", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_FORMS}')
            ORDER BY url, pos""")
def q_forms(spark, sf_dir):
    docs = fixtures.form_pages_df(spark, 120)
    return pagemeta.extract_forms_df(docs).orderBy("url", "pos")


# --- page-function flags (login wall / signup / search / upload)
# — reads the GOLDEN on both sides (rows==golden is proven by
# extract_forms; this isolates the flag aggregation)
# page-function flags over the golden: integer census ->
# booleans, one group per url
@query("form_page_flags", oracle=lambda: f"""
            SELECT url, count(*)::bigint AS n_forms,
                   bool_or(n_password = 1) AS has_login,
                   bool_or(n_password >= 2) AS has_signup,
                   bool_or(has_search) AS has_search_form,
                   bool_or(n_file >= 1) AS has_upload
            FROM read_parquet('{_GOLDEN_FORMS}')
            GROUP BY url""")
def q_form_flags(spark, sf_dir):
    return pagemeta.form_page_flags(
        spark.read.parquet(_GOLDEN_FORMS))


# --- IDN host profile (from-scratch RFC 3492 punycode + UTS #39
# script mixing) — hash-checked against the committed golden
# (the codec itself is pinned vs the stdlib punycode codec)
# IDN profile: committed golden parquet pinned by
# tests/test_idnx.py against the pure re-derivation (and the
# codec against the stdlib punycode codec)
@query("idn_hosts", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_IDN}')
            ORDER BY host""")
def q_idn_hosts(spark, sf_dir):
    return (webtext.idn_host_profile(
        fixtures.idn_hosts_df(spark, 96)).orderBy("host"))


# --- homograph gate — reads the GOLDEN on both sides (profile ==
# golden is proven by idn_hosts; this isolates the flag logic)
# homograph gate over the golden: single-label script mixing
# first, then malformed punycode
@query("idn_homograph_gate", oracle=lambda: f"""
            SELECT host, unicode_host,
                   CASE WHEN mixed_label THEN 'mixed-script'
                        WHEN is_idn AND NOT decode_ok
                        THEN 'bad-punycode' END AS reason
            FROM read_parquet('{_GOLDEN_IDN}')
            WHERE mixed_label OR (is_idn AND NOT decode_ok)
            ORDER BY host""")
def q_idn_gate(spark, sf_dir):
    return (webtext.idn_homograph_gate(
        spark.read.parquet(_GOLDEN_IDN)).orderBy("host"))


# --- HTML table extraction (one row per table cell) — hash-checked
# against the committed golden tables parquet (structured-data
# pass: thead/soup/nested/colspan cases in the fixture pages)
# table cells: committed golden parquet pinned by
# tests/test_pagemeta.py against the pure re-derivation
@query("extract_tables", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_TABLES}')
            ORDER BY url, table_idx, row_idx, col_idx""")
def q_tables(spark, sf_dir):
    docs = fixtures.table_pages_df(spark, 120)
    return (pagemeta.extract_tables_df(docs)
            .orderBy("url", "table_idx", "row_idx", "col_idx"))


# --- per-table shape stats — SQL-checked over the golden tables
# parquet on both sides (same isolation rationale)
# per-table shape stats (max+1 extents stay INTEGER in both
# engines; count/sum cast to bigint per the HUGEINT rule)
@query("table_shape_stats", oracle=lambda: f"""
            SELECT url, table_idx,
                   max(row_idx) + 1 AS n_rows,
                   max(col_idx) + 1 AS n_cols,
                   count(*)::bigint AS n_cells,
                   sum(CASE WHEN is_header THEN 1 ELSE 0 END)::bigint
                     AS n_header_cells
            FROM read_parquet('{_GOLDEN_TABLES}')
            GROUP BY url, table_idx""")
def q_tshapes(spark, sf_dir):
    return pagemeta.table_shapes(
        spark.read.parquet(_GOLDEN_TABLES))


# --- header-keyed table records (tables -> KV training records) —
# SQL-checked over the golden tables parquet on both sides
# header-keyed table records: first-row <th> gates the table,
# later rows pivot to (key, value) by column position
@query("table_records", oracle=lambda: f"""
            WITH cells AS (
              SELECT * FROM read_parquet('{_GOLDEN_TABLES}')
            ), eligible AS (
              SELECT url, table_idx FROM cells WHERE row_idx = 0
              GROUP BY 1, 2 HAVING max(CASE WHEN is_header THEN 1
                                            ELSE 0 END) = 1
            ), header AS (
              SELECT url, table_idx, col_idx, cell_text AS key
              FROM cells WHERE row_idx = 0
            )
            SELECT c.url, c.table_idx,
                   c.row_idx - 1 AS record_idx, c.col_idx,
                   coalesce(h.key, 'col' || c.col_idx) AS key,
                   c.cell_text AS value
            FROM cells c
            JOIN eligible e USING (url, table_idx)
            LEFT JOIN header h USING (url, table_idx, col_idx)
            WHERE c.row_idx > 0""")
def q_trecords(spark, sf_dir):
    return pagemeta.table_records(
        spark.read.parquet(_GOLDEN_TABLES))


# --- DOM-shape skeletons (layout fingerprints) — hash-checked
# against the committed golden shapes parquet over the standard
# seed-42 corpus (the extract_links pattern)
# DOM skeletons: committed golden parquet pinned by
# tests/test_pagemeta.py against the pure re-derivation
@query("page_shapes", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_SHAPES}')
            ORDER BY url""")
def q_shapes(spark, sf_dir):
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    return pagemeta.page_shapes(docs).orderBy("url")


# --- per-host template clusters — SQL-checked over the golden
# shapes parquet on both sides (quality-gate isolation pattern)
# template clusters: same host regex as the Spark url_host and
# the shared 48-bit md5-prefix hash of the skeleton
@query("template_clusters", oracle=lambda: f"""
            SELECT lower(regexp_replace(regexp_extract(url,
                     '^[^:/?#]+://([^/?#:@]+(?::\\d+)?)', 1),
                     ':\\d+$', '')) AS host,
                   cast('0x' || substr(md5(skeleton), 1, 12) AS bigint)
                     AS shape_hash,
                   count(*)::bigint AS n_pages,
                   min(url) AS sample_url
            FROM read_parquet('{_GOLDEN_SHAPES}')
            GROUP BY 1, 2""")
def q_templates(spark, sf_dir):
    return pagemeta.template_clusters(
        spark.read.parquet(_GOLDEN_SHAPES))


# --- hreflang language alternates (mirror-cluster discovery) —
# hash-checked against the committed golden hreflang parquet
# hreflang alternates: committed golden parquet pinned by
# tests/test_pagemeta.py against the pure re-derivation
@query("extract_hreflang", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_HREFLANG}')
            ORDER BY url, pos""")
def q_hreflang(spark, sf_dir):
    docs = fixtures.meta_pages_df(spark, 120)
    return (pagemeta.extract_hreflang_df(docs)
            .orderBy("url", "pos"))


# --- one-parse combined artifact pass — SQL-checked by CROSSING
# two independent goldens: per-page family sizes from the single
# parse must match golden_links counts joined onto golden_shapes
# one-parse artifact pass vs TWO independent goldens: link
# counts from golden_links, skeleton stats from golden_shapes;
# the seed-42 corpus carries no tables/JSON-LD/microdata (the
# literal zeros are load-bearing — they fail loudly if the
# corpus fixture ever grows those elements)
@query("page_artifacts_stats", oracle=lambda: f"""
            SELECT s.url,
                   coalesce(l.c, 0)::bigint AS n_links,
                   0::bigint AS n_table_cells,
                   0::bigint AS n_jsonld,
                   0::bigint AS n_microdata,
                   0::bigint AS n_rdfa,
                   0::bigint AS n_mf2,
                   0::bigint AS n_date_candidates,
                   0::bigint AS n_code_blocks,
                   0::bigint AS n_images,
                   0::bigint AS n_av,
                   0::bigint AS n_forms,
                   s.n_tags, s.max_depth, s.truncated
            FROM read_parquet('{_GOLDEN_SHAPES}') s
            LEFT JOIN (SELECT url, count(*)::bigint AS c
                       FROM read_parquet('{_GOLDEN_LINKS}')
                       GROUP BY url) l USING (url)""")
def q_artifacts(spark, sf_dir):
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    a = pagemeta.page_artifacts(docs)
    return a.select(
        "url",
        F.size("links").cast("long").alias("n_links"),
        F.size("cells").cast("long").alias("n_table_cells"),
        F.size("jsonld").cast("long").alias("n_jsonld"),
        F.size("microdata").cast("long").alias("n_microdata"),
        F.size("rdfa").cast("long").alias("n_rdfa"),
        F.size("mf2").cast("long").alias("n_mf2"),
        F.size("dates").cast("long").alias("n_date_candidates"),
        F.size("code").cast("long").alias("n_code_blocks"),
        F.size("images").cast("long").alias("n_images"),
        F.size("av").cast("long").alias("n_av"),
        F.size("forms").cast("long").alias("n_forms"),
        "n_tags", "max_depth", "truncated")


# --- pagination-chain stitching (rel=next de-pagination): reads
# the GOLDEN paging parquet on BOTH sides (extraction==golden is
# pinned by tests/test_paging.py re-derivation; this row isolates
# the chain-walk composition, the quality-gate pattern)
# pagination stitching: the SAME head/walk/first-visit/stitch
# semantics as pagemeta.stitch_pagination — heads = pages with
# no in-edge, depth-capped recursive walk (a cycle would
# otherwise recurse forever), QUALIFY keeps each page's first
# visit (min pos, chain_id), string_agg ORDER BY pos is the
# blank-line join. NOT IN is null-safe here because the
# subquery filters rel_next IS NOT NULL.
@query("stitch_pagination", oracle=lambda: f"""
            WITH RECURSIVE pages AS (
              SELECT url, rel_next, body_text
              FROM read_parquet('{_GOLDEN_PAGING}')),
            walk AS (
              SELECT p.url AS chain_id, p.url AS url, 0 AS pos,
                     p.rel_next, p.body_text
              FROM pages p
              WHERE p.url NOT IN (SELECT rel_next FROM pages
                                  WHERE rel_next IS NOT NULL)
              UNION ALL
              SELECT w.chain_id, p.url, w.pos + 1, p.rel_next,
                     p.body_text
              FROM walk w JOIN pages p ON p.url = w.rel_next
              WHERE w.pos + 1 < {_PAGING_CAP}),
            dedup AS (
              SELECT chain_id, url, pos, body_text FROM walk
              QUALIFY row_number() OVER (PARTITION BY url
                                         ORDER BY pos, chain_id) = 1)
            SELECT chain_id, count(*)::bigint AS n_pages,
                   string_agg(body_text, chr(10) || chr(10)
                              ORDER BY pos) AS full_text
            FROM dedup GROUP BY chain_id""")
def q_stitch(spark, sf_dir):
    return pagemeta.stitch_pagination(
        spark.read.parquet(_GOLDEN_PAGING), max_pages=_PAGING_CAP)


# --- srcset microsyntax (responsive-image fetch planning) —
# pure-parser-fed VALUES oracle + a QUALIFY/window twin for the
# best-candidate pick
# srcset microsyntax: pure-parser-fed VALUES; best pick via
# QUALIFY == Spark row_number window
@query("srcset_candidates", oracle=_srcset_candidates_sql)
def q_srcset(spark, sf_dir):
    df = spark.createDataFrame(
        list(_SRCSET_ROWS), "url string, srcset string")
    return (pagemeta.srcset_candidates(df)
            .orderBy("url", "pos"))


@query("srcset_best", oracle=_srcset_best_sql)
def q_srcset_best(spark, sf_dir):
    df = spark.createDataFrame(
        list(_SRCSET_ROWS), "url string, srcset string")
    return (pagemeta.srcset_best(pagemeta.srcset_candidates(df))
            .orderBy("url"))


# --- HTML structural element stream (the HTML member of the
# shared element schema) — hash-checked against the committed
# golden outline parquet
# html outline elements: committed golden parquet pinned by
# tests/test_outline.py against the pure re-derivation
@query("extract_outline", oracle=lambda: f"""
            SELECT url, para, kind, level, text
            FROM read_parquet('{_GOLDEN_OUTLINE}')
            ORDER BY url, para""")
def q_outline(spark, sf_dir):
    docs = fixtures.md_pages_df(spark, 120)
    return pagemeta.extract_outline_df(docs).orderBy("url", "para")


# --- bitext candidate pairs (CCMatrix-style candidate generation
# from declared language mirrors) — golden both sides: per page,
# every unordered pair of non-default alternates becomes one
# (lang_a, lang_b) mirror-pair row for downstream alignment.
# Equi-join on url (page-sized groups), never cross-corpus.
# bitext mirror pairs: golden both sides, unordered pairs by
# declaration position within a page
@query("bitext_candidates", oracle=lambda: f"""
            WITH h AS (
              SELECT * FROM read_parquet('{_GOLDEN_HREFLANG}')
              WHERE hreflang != 'x-default'
            )
            SELECT a.url AS url,
                   a.hreflang AS lang_a, a.href AS href_a,
                   b.hreflang AS lang_b, b.href AS href_b
            FROM h a JOIN h b
              ON a.url = b.url AND a.pos < b.pos
            ORDER BY a.url, lang_a, lang_b""")
def q_bitext(spark, sf_dir):
    h = (spark.read.parquet(_GOLDEN_HREFLANG)
         .where(F.col("hreflang") != "x-default"))
    a = h.select("url", F.col("pos").alias("pos_a"),
                 F.col("hreflang").alias("lang_a"),
                 F.col("href").alias("href_a"))
    b = h.select("url", F.col("pos").alias("pos_b"),
                 F.col("hreflang").alias("lang_b"),
                 F.col("href").alias("href_b"))
    return (a.join(b, "url")
            .where(F.col("pos_a") < F.col("pos_b"))
            .select("url", "lang_a", "href_a", "lang_b", "href_b")
            .orderBy("url", "lang_a", "lang_b"))
