"""Office, EPUB and RTF sources: OOXML, ODF and legacy OLE/CFB."""

from pyspark.sql import functions as F

from .. import fixtures, pipeline, sources
from ..extractor.core import extract_document
from ..operators import chunking, keywords
from . import _GOLDEN_ODT, _GOLDEN_RTF, _KEYWORDS, _fixture, _payload_df, query


def _legacy_extract_oracle() -> str:
    """Twin of legacy_office_extract: the SAME Spark-free dispatcher
    (core.extract_document) runs at SQL-generation time over the CFB
    fixture payloads — the extract_corpus byte-identity contract
    applied to the ppt/doc branch."""
    vals = []
    for r in fixtures.cfb_file_rows():
        res = extract_document(r["payload"], None)
        vals.append(
            f"('{r['url']}', '{res.doc_kind}', {res.n_blocks}, "
            f"{len(res.extracted_text)}, "
            f"{1 if res.failed else 0})")
    return f"""
            SELECT * FROM (VALUES {", ".join(vals)})
            t(url, doc_kind, n_blocks, n_chars, failed)
            ORDER BY url"""


_GOLDEN_PPTX = _fixture("golden_pptx_elements_seed42_n40.parquet")
_GOLDEN_DOCX = _fixture("golden_docx_elements_seed42_n40.parquet")
_GOLDEN_EPUB = _fixture("golden_epub_chapters_seed42_n30.parquet")
_GOLDEN_OFFICEMETA = _fixture("golden_officemeta_seed42.parquet")
_GOLDEN_CFB = _fixture("golden_cfb_seed42_n6.parquet")
_GOLDEN_OLEPS = _fixture("golden_oleps_seed42_n6.parquet")


# --- S7 pptx-subset source — hash-checked against the committed
# golden (pure-Python extract_pptx over the same deterministic
# decks; tests/test_sources.py re-derives it element-by-element)
def _pptx_df(spark):
    decks = fixtures.pptx_deck_rows(40)
    return _payload_df(spark, decks, 8)


# --- S6 docx-subset source — hash-checked against committed golden
def _docx_df(spark):
    return _payload_df(spark, fixtures.docx_file_rows(40), 8)


@query("pptx_elements", oracle=lambda: f"""
            SELECT url, slide, shape, para, kind, text
            FROM read_parquet('{_GOLDEN_PPTX}')""")
def q_pptx(spark, sf_dir):
    return sources.read_pptx_elements(_pptx_df(spark))


# S7 routed through F4+A2: keyword sections per deck in reading order
@query("pptx_keyword_sections", oracle=lambda: f"""
            SELECT url, string_agg(text, chr(10) || chr(10)
                     ORDER BY slide * 1000000 + shape * 1000 + para
                   ) AS joined
            FROM read_parquet('{_GOLDEN_PPTX}')
            WHERE regexp_matches(lower(text), 'merge|window|stream')
            GROUP BY url""")
def q_pptx_kw(spark, sf_dir):
    els = sources.read_pptx_elements(_pptx_df(spark)).withColumn(
        "elem_no", F.col("slide") * 1000000 + F.col("shape") * 1000
        + F.col("para"))
    return keywords.keyword_sections(els, _KEYWORDS, group_col="url",
                                     order_col="elem_no")


@query("docx_elements", oracle=lambda: f"""
            SELECT url, para, kind, text
            FROM read_parquet('{_GOLDEN_DOCX}')""")
def q_docx(spark, sf_dir):
    return sources.read_docx_elements(_docx_df(spark))


# --- office-container metadata (docProps/core.xml, ODF meta.xml,
# EPUB OPF — the zip sibling of pdf_info); golden pinned by
# tests/test_officemeta.py against the pure re-derivation
# office-container metadata: committed golden parquet pinned
# by tests/test_officemeta.py against the pure re-derivation
@query("office_metadata", oracle=lambda: f"""
            SELECT url, format, title, creator, subject, description,
                   keywords, created, modified
            FROM read_parquet('{_GOLDEN_OFFICEMETA}')""")
def q_office_meta(spark, sf_dir):
    rows = (fixtures.docx_file_rows(40) + fixtures.pptx_deck_rows(40)
            + fixtures.odt_file_rows(40)
            + fixtures.epub_file_rows(30))
    df = _payload_df(spark, rows, 8)
    return sources.read_office_meta(df)


# --- ODT source (the ODF member of the per-format loader family)
# — hash-checked against the committed golden elements parquet
# (pinned by tests/test_odt.py against the pure re-derivation)
# odt elements: committed golden parquet pinned by
# tests/test_odt.py against the pure re-derivation
@query("odt_elements", oracle=lambda: f"""
            SELECT url, para, kind, level, text
            FROM read_parquet('{_GOLDEN_ODT}')""")
def q_odt(spark, sf_dir):
    df = _payload_df(spark, fixtures.odt_file_rows(40), 8)
    return sources.read_odt_elements(df)


# --- RTF source (the legacy-office member of the per-format
# loader family) — hash-checked against the committed golden
# elements parquet (pinned by tests/test_rtf.py against the pure
# re-derivation; codepage rotation + \uN escapes + garbage rows)
# rtf paragraph elements: committed golden parquet pinned by
# tests/test_rtf.py against the pure re-derivation
@query("rtf_elements", oracle=lambda: f"""
            SELECT url, para, kind, level, text
            FROM read_parquet('{_GOLDEN_RTF}')""")
def q_rtf(spark, sf_dir):
    df = _payload_df(spark, fixtures.rtf_file_rows(40), 8)
    return sources.read_rtf_elements(df)


# --- EPUB source (the e-book member of the per-format loader
# family) — hash-checked against the committed golden chapters
# parquet (pinned by tests/test_epub.py against the pure
# re-derivation; non-epub payload rows must yield zero rows)
# epub chapters: committed golden parquet pinned by
# tests/test_epub.py against the pure re-derivation
@query("epub_chapters", oracle=lambda: f"""
            SELECT url, chapter, href, title, text
            FROM read_parquet('{_GOLDEN_EPUB}')
            ORDER BY url, chapter""")
def q_epub(spark, sf_dir):
    return (sources.read_epub_chapters(
                fixtures.epub_rows_df(spark, 30))
            .orderBy("url", "chapter"))


# S6 routed through A4 (the reference's docx shape: extract
# paragraphs -> token-budget chunking, unstructured_chunker.py:79-91)
# same linear recursive-CTE fold as chunk_token_budget, over the
# golden docx paragraphs (single page, so only the budget rule
# closes chunks; fixture paragraphs are < max_tokens by
# construction, so the window-split path cannot trigger)
@query("docx_token_chunks", oracle=lambda: rf"""
            WITH RECURSIVE elems AS (
              SELECT url, text,
                     len(list_filter(regexp_split_to_array(trim(text),
                         '\s+'), x -> x != '')) AS w,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY para) AS idx
              FROM read_parquet('{_GOLDEN_DOCX}')
            ), rec AS (
              SELECT url, idx, text, w, 0 AS chunk_id, w AS cur_tokens
              FROM elems WHERE idx = 1
              UNION ALL
              SELECT e.url, e.idx, e.text, e.w,
                     CASE WHEN r.cur_tokens + e.w > 24
                          THEN r.chunk_id + 1 ELSE r.chunk_id END,
                     CASE WHEN r.cur_tokens + e.w > 24
                          THEN e.w ELSE r.cur_tokens + e.w END
              FROM rec r JOIN elems e ON e.url = r.url
                                     AND e.idx = r.idx + 1
            )
            SELECT url, chunk_id::int AS chunk_id, 0::int AS page,
                   string_agg(text, chr(10) ORDER BY idx) AS text,
                   sum(w)::bigint AS n_tokens
            FROM rec GROUP BY url, chunk_id""")
def q_docx_chunks(spark, sf_dir):
    els = sources.read_docx_elements(_docx_df(spark)).select(
        "url", F.lit(0).alias("page"), F.col("para").alias("pos"),
        "text")
    return chunking.chunk_by_token_budget(els, max_tokens=24,
                                          overlap=6)


# --- legacy OLE2/CFB office (.ppt/.doc — the reference's
# loaders.py:18-37 partition_ppt branch; extractor/cfbx.py)
# legacy OLE2/CFB office: committed golden pinned by
# tests/test_cfbx.py against the pure re-derivation
@query("cfb_documents", oracle=lambda: f"""
            SELECT url, pos, row_kind, path, entry_kind, size,
                   text_kind, cp_start, cp_end, text
            FROM read_parquet('{_GOLDEN_CFB}')""")
def q_cfb_documents(spark, sf_dir):
    df = _payload_df(spark, fixtures.cfb_file_rows(), 4)
    return sources.read_legacy_office(df)


@query("ppt_elements", oracle=lambda: f"""
            SELECT url, pos, text_kind, text
            FROM read_parquet('{_GOLDEN_CFB}')
            WHERE row_kind = 'ppt_text'
            ORDER BY url, pos""")
def q_ppt_elements(spark, sf_dir):
    # golden both sides: container parse == golden is proven by
    # cfb_documents; this isolates the ppt-text view
    g = spark.read.parquet(_GOLDEN_CFB)
    return (g.where(F.col("row_kind") == "ppt_text")
            .select("url", "pos", "text_kind", "text")
            .orderBy("url", "pos"))


@query("doc_elements", oracle=lambda: f"""
            SELECT url, pos, text_kind, cp_start, cp_end, text,
                   cp_end - cp_start AS n_chars
            FROM read_parquet('{_GOLDEN_CFB}')
            WHERE row_kind = 'doc_piece'
            ORDER BY url, pos""")
def q_doc_elements(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_CFB)
    return (g.where(F.col("row_kind") == "doc_piece")
            .select("url", "pos", "text_kind", "cp_start",
                    "cp_end", "text",
                    (F.col("cp_end") - F.col("cp_start"))
                    .alias("n_chars"))
            .orderBy("url", "pos"))


# legacy office THROUGH the flagship pipeline: the CFB payloads
# ride extract_df's real mapInPandas stage end-to-end (dispatch ->
# ppt/doc kinds -> reading-order text), pure-extractor-fed VALUES
# twin — proves the dispatcher branch in the distributed path,
# not just the pure function
@query("legacy_office_extract", oracle=_legacy_extract_oracle)
def q_legacy_office_extract(spark, sf_dir):
    files = fixtures.cfb_file_rows()
    docs = spark.createDataFrame(
        [(r["url"], None, None, r["payload"], None)
         for r in files],
        "url string, warc_ts timestamp, lang string, "
        "html binary, text string").repartition(4)
    return (pipeline.extract_df(docs, num_buckets=4)
            .select("url", "doc_kind", "n_blocks",
                    F.length("extracted_text").alias("n_chars"),
                    "failed")
            .orderBy("url"))


# [MS-OLEPS] property sets — legacy-office metadata (the CFB
# sibling of office_metadata; extractor/olepsx.py)
# [MS-OLEPS]: committed golden pinned by tests/test_olepsx.py
@query("oleps_properties", oracle=lambda: f"""
            SELECT url, pos, stream, prop_id, name, vtype, value
            FROM read_parquet('{_GOLDEN_OLEPS}')""")
def q_oleps_properties(spark, sf_dir):
    df = _payload_df(spark, fixtures.cfb_file_rows(), 4)
    return sources.read_office_properties(df)


@query("legacy_office_metadata", oracle=lambda: f"""
            SELECT url,
                   max(CASE WHEN stream = 'summary'
                       AND name = 'title' THEN value END) AS title,
                   max(CASE WHEN stream = 'summary'
                       AND name = 'author' THEN value END)
                     AS author,
                   max(CASE WHEN stream = 'summary'
                       AND name = 'created' THEN value END)
                     AS created,
                   max(CASE WHEN stream = 'summary'
                       AND name = 'app_name' THEN value END)
                     AS app_name,
                   count(*)::bigint AS n_props
            FROM read_parquet('{_GOLDEN_OLEPS}')
            GROUP BY url ORDER BY url""")
def q_legacy_office_metadata(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_OLEPS)
    pick = (lambda n: F.max(F.when(
        (F.col("stream") == "summary") & (F.col("name") == n),
        F.col("value"))))
    return (g.groupBy("url")
            .agg(pick("title").alias("title"),
                 pick("author").alias("author"),
                 pick("created").alias("created"),
                 pick("app_name").alias("app_name"),
                 F.count(F.lit(1)).cast("long")
                 .alias("n_props"))
            .orderBy("url"))
