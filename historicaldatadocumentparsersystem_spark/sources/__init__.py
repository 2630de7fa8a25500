"""Sources: readers for the documents table and auxiliary formats.

Reference scan/source inventory (SURVEY.md §2.1): the directory walk S1
becomes a table scan; format dispatch happens per row by payload sniff
(extractor.sniff), not per file extension.

Reader contract. Each per-format reader turns its input rows into
structured records with one :func:`..flatmap.flat_map` pass:

- it selects its input columns (a url plus a payload or text column,
  or a binaryFile ``content`` column);
- its ``rows_of`` generator calls a Spark-free parser and yields output
  tuples in the order of the reader's DDL, and keeps the reader's own
  ``None`` handling;
- the helper types the output from that DDL (``int``/``bigint``/
  ``boolean`` as nullable pandas dtypes) and owns F5: a row whose parse
  raises yields no rows, and the rest of its batch is kept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..flatmap import flat_map

DOCUMENTS_DDL = ("url string, warc_ts timestamp, html binary, "
                 "text string, lang string")


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan the Common-Crawl-style documents table (schema-checked).

    Narrow reads: callers should .select() immediately so Catalyst
    prunes the parquet scan to the touched columns.
    """
    df = spark.read.parquet(path)
    missing = {"url", "warc_ts", "html", "text", "lang"} - set(df.columns)
    if missing:
        raise ValueError(f"documents table missing columns: {missing}")
    return df


PPTX_ELEMENTS_DDL = ("url string, slide int, shape int, para int, "
                     "kind string, text string")


def read_pptx_elements(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """S7: (url, pptx payload) rows -> ordered slide elements.

    Arrow-batched mapInPandas over the binary column; each row's parse
    is the pure-Python ``extractor.pptx.extract_pptx`` (the oracle —
    reference ``utils/loaders.py:30-37`` -> ``partition_pptx``), so
    Spark output equals the single-process parse structurally.
    Unparseable payloads yield no rows (F5: degrade, never crash).
    """
    from ..extractor.pptx import extract_pptx

    def rows_of(url, payload):
        for el in extract_pptx(bytes(payload)):
            yield url, el.slide, el.shape, el.para, el.kind, el.text

    return flat_map(df, [url_col, payload_col], PPTX_ELEMENTS_DDL,
                    rows_of)


DOCX_ELEMENTS_DDL = "url string, para int, kind string, text string"


def read_docx_elements(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """S6: (url, docx payload) rows -> ordered paragraph elements.

    Same shape as :func:`read_pptx_elements`; the per-row parse is the
    pure-Python ``extractor.docx.extract_docx`` (reference
    ``unstructured_chunker.py:79-91`` Docx2txt extraction subset).
    """
    from ..extractor.docx import extract_docx

    def rows_of(url, payload):
        for el in extract_docx(bytes(payload)):
            yield url, el.para, el.kind, el.text

    return flat_map(df, [url_col, payload_col], DOCX_ELEMENTS_DDL,
                    rows_of)


ODT_ELEMENTS_DDL = ("url string, para int, kind string, level int, "
                    "text string")


def read_odt_elements(df: DataFrame, url_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """(url, odt payload) rows -> ordered paragraph elements.

    Same shape as :func:`read_docx_elements`; the per-row parse is the
    pure-Python ``extractor.odtx.extract_odt`` (the ODF member of the
    per-format loader family, reference
    ``unstructured_chunker.py:79-91``). Non-zip payloads are skipped
    (F5); a malformed content part yields no rows for that document.
    """
    from ..extractor.odtx import extract_odt

    def rows_of(url, payload):
        for el in extract_odt(bytes(payload)):
            yield url, el.para, el.kind, el.level, el.text

    return flat_map(df, [url_col, payload_col], ODT_ELEMENTS_DDL,
                    rows_of)


WACZ_CAPTURES_DDL = (
    "wacz string, index_path string, urlkey string, ts timestamp, "
    "url string, mime string, status int, digest string, "
    "length long, offset long, filename string")
WACZ_RESOURCES_DDL = (
    "wacz string, path string, declared_bytes long, "
    "actual_bytes long, size_ok boolean, hash_ok boolean")


def read_wacz_captures(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """(wacz url, WACZ payload) rows -> one row per capture from the
    container's ``indexes/*.cdx(.gz)`` members.

    The container member of the crawl-ecosystem family: a WACZ is the
    webrecorder packaging of WARC shards + CDXJ locators + a manifest
    (``extractor/waczx.py`` composes the existing cdxx/warcx
    parsers). This reader surfaces the INDEX view only — at 100 TB
    the CDX rows are ~1/200 the archive bytes, so planning queries
    (dedup, fetch gating) never decompress a WARC member.
    Map-only 1->N; non-zip payloads yield no rows (F5)."""
    from ..extractor.waczx import parse_wacz

    cols = ("index_path", "urlkey", "ts", "url", "mime", "status",
            "digest", "length", "offset", "filename")

    def rows_of(wacz, payload):
        if payload is None:
            return
        for cap in parse_wacz(bytes(payload))["captures"]:
            yield (wacz, *(cap[c] for c in cols))

    return flat_map(df, [url_col, payload_col], WACZ_CAPTURES_DDL,
                    rows_of)


def read_wacz_resources(df: DataFrame, url_col: str = "url",
                        payload_col: str = "payload") -> DataFrame:
    """(wacz url, WACZ payload) rows -> one row per DECLARED
    datapackage resource with the integrity audit against the actual
    zip members (size_ok / sha256 hash_ok; NULL when the manifest
    declares nothing to check, false when the member is missing) —
    the hand-off acceptance gate a pipeline runs before ingesting a
    delivered archive. Map-only 1->N (F5 on junk)."""
    from ..extractor.waczx import parse_wacz

    cols = ("path", "declared_bytes", "actual_bytes", "size_ok",
            "hash_ok")

    def rows_of(wacz, payload):
        if payload is None:
            return
        for res in parse_wacz(bytes(payload))["resources"]:
            yield (wacz, *(res[c] for c in cols))

    return flat_map(df, [url_col, payload_col], WACZ_RESOURCES_DDL,
                    rows_of)


def read_rtf_elements(df: DataFrame, url_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """(url, rtf payload) rows -> ordered paragraph elements.

    Same shape (and DDL) as :func:`read_odt_elements`; the per-row
    parse is the pure-Python ``extractor.rtfx.extract_rtf`` (the
    legacy-office member of the per-format loader family). Non-RTF
    payloads are skipped (F5); malformed bodies degrade to fewer
    elements inside the tokenizer."""
    from ..extractor.rtfx import extract_rtf

    def rows_of(url, payload):
        for el in extract_rtf(bytes(payload)):
            yield url, el.para, el.kind, el.level, el.text

    return flat_map(df, [url_col, payload_col], ODT_ELEMENTS_DDL,
                    rows_of)


PDF_INFO_DDL = ("url string, title string, author string, "
                "subject string, keywords string, creator string, "
                "producer string, creation_date string, "
                "mod_date string")


PDF_OUTLINE_DDL = "url string, pos int, depth int, title string"


def read_pdf_outline(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, pdf payload) rows -> one row per bookmark (url, pos,
    depth, title) in preorder — the PDF table of contents (12.3.3),
    the docling-analog heading surface for PDFs and the natural input
    to ``chunking.section_chunks`` after a kind='heading' relabel.
    Per-row parse is the pure-Python ``extractor.pdfx.
    extract_pdf_outline``; outline-less PDFs yield no rows (F5).
    Map-only 1->N."""
    from ..extractor.pdfx import extract_pdf_outline

    def rows_of(url, payload):
        for pos, depth, title in extract_pdf_outline(
                bytes(payload) if payload is not None else b""):
            yield url, pos, depth, title

    return flat_map(df, [url_col, payload_col], PDF_OUTLINE_DDL,
                    rows_of)


def read_pdf_info(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, pdf payload) rows -> document-information-dictionary rows
    (PDF 14.3.3; dates ISO-8601). Per-row parse is the pure-Python
    ``extractor.pdfx.extract_pdf_info`` — the provenance metadata a
    curation pipeline joins against capture timestamps (reference
    reads documents via docling, ``docling_chunker.py:38-58``, which
    surfaces the same dictionary). PDFs without /Info yield no row
    (the extract_links zero-row contract); malformed structures
    degrade inside the extractor."""
    from ..extractor.pdfx import INFO_FIELDS, extract_pdf_info

    def rows_of(url, payload):
        info = extract_pdf_info(
            bytes(payload) if payload is not None else b"")
        if info is not None:
            yield (url, *(info[f] for f in INFO_FIELDS))

    return flat_map(df, [url_col, payload_col], PDF_INFO_DDL, rows_of)


OFFICE_META_DDL = ("url string, format string, title string, "
                   "creator string, subject string, "
                   "description string, keywords string, "
                   "created string, modified string")


def read_office_meta(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, zip-container payload) rows -> office-document metadata
    (docProps/core.xml, ODF meta.xml, EPUB OPF dc block — the
    container sibling of ``read_pdf_info``). Documents without a
    metadata part yield no row; malformed containers degrade inside
    the extractor."""
    from ..extractor.officemeta import META_FIELDS, extract_office_meta

    def rows_of(url, payload):
        meta = extract_office_meta(
            bytes(payload) if payload is not None else b"")
        if meta is not None:
            yield (url, meta["format"], *(meta[f] for f in META_FIELDS))

    return flat_map(df, [url_col, payload_col], OFFICE_META_DDL,
                    rows_of)


EPUB_CHAPTERS_DDL = ("url string, chapter int, href string, "
                     "title string, text string")


def read_epub_chapters(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """(url, epub payload) rows -> spine-ordered chapter rows.

    Same shape as :func:`read_docx_elements`; the per-row parse is the
    pure-Python ``extractor.epubx.extract_epub`` (the e-book member of
    the per-format loader family, reference
    ``unstructured_chunker.py:79-91``). Non-zip payloads are skipped
    (F5); malformed inner layers degrade inside the extractor.
    """
    from ..extractor.epubx import extract_epub

    def rows_of(url, payload):
        for ch in extract_epub(bytes(payload)):
            yield url, ch.idx, ch.href, ch.title, ch.text

    return flat_map(df, [url_col, payload_col], EPUB_CHAPTERS_DDL,
                    rows_of)


WARC_CAPTURES_DDL = ("url string, warc_ts timestamp, status int, "
                     "content_type string, x_robots string, "
                     "location string, content_encoding string, "
                     "decoded boolean, sniffed_kind string, "
                     "n_bytes long")


def warc_captures_from_blobs(blobs: DataFrame) -> DataFrame:
    """WARC shards (a ``content binary`` column) -> a metadata-only
    capture view: (url, warc_ts, status, content_type, x_robots,
    location, content_encoding, decoded, sniffed_kind, n_bytes).
    Bodies are entity bytes (chunked framing and gzip/deflate codings
    undone by parse_warc; ``decoded`` False marks captures left as
    stored). The payload is magic-byte-sniffed
    (``extractor.sniff.sniff_kind``) IN the same Arrow pass and then
    dropped — the served-vs-actual comparison input for
    ``webtext.content_type_mismatch`` without ever shuffling body
    bytes (output rows are ~100 B regardless of capture size)."""
    from ..extractor.sniff import sniff_kind
    from ..extractor.warcx import parse_warc

    def rows_of(blob):
        for rec in parse_warc(bytes(blob)):
            yield (rec["url"], rec["warc_ts"], rec["status"],
                   rec["content_type"], rec["x_robots"],
                   rec["location"], rec["content_encoding"],
                   rec["decoded"], sniff_kind(rec["body"]),
                   len(rec["body"]))

    return flat_map(blobs, ["content"], WARC_CAPTURES_DDL, rows_of)


def arc_documents_from_blobs(blobs: DataFrame) -> DataFrame:
    """ARC v1 shards (a ``content binary`` column) -> the documents
    table (url, warc_ts, html, text, lang) — the pre-2013 Common
    Crawl path into the same extraction pipeline as WARC. http(s)
    response bodies land in ``html`` (entity bytes — chunked/gzip
    codings undone by ``extractor.warcx.parse_arc``); non-http
    records (dns:, filedesc:) are skipped; ``text``/``lang`` stay
    null. Shard bytes never leave the task that scanned them."""
    from ..extractor.warcx import parse_arc

    def rows_of(blob):
        for rec in parse_arc(bytes(blob)):
            if rec["url"].startswith(("http://", "https://")):
                yield rec["url"], rec["warc_ts"], rec["body"], None, None

    return flat_map(blobs, ["content"], DOCUMENTS_DDL, rows_of)


CFB_DDL = (
    "url string, pos int, row_kind string, path string, "
    "entry_kind string, size long, text_kind string, "
    "cp_start int, cp_end int, text string")


def read_legacy_office(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """(url, OLE2/CFB bytes) -> one 'entry' row per directory-tree
    entry (path, kind, size) plus 'ppt_text' rows ([MS-PPT] text
    atoms in record order) and 'doc_piece' rows ([MS-DOC] piece
    table, CP-ordered). Pure parse: ``extractor.cfbx``
    (golden-pinned). Map-only; junk yields no rows."""
    from ..extractor.cfbx import (extract_doc_pieces,
                                  extract_ppt_elements, parse_cfb)

    def rows_of(url, payload):
        blob = bytes(payload) if payload is not None else None
        d = parse_cfb(blob)
        if d is None:
            return
        for pos, path, kind, size, _start in d["entries"]:
            # Int64 clamp: declared sizes are u64 in the spec
            size = size if size < 1 << 62 else None
            yield (url, pos, "entry", path, kind, size, None, None, None,
                   None)
        for pos, kind, text in extract_ppt_elements(blob):
            yield (url, pos, "ppt_text", None, None, None, kind, None,
                   None, text)
        for pos, compressed, cp0, cp1, text in extract_doc_pieces(blob):
            yield (url, pos, "doc_piece", None, None, None,
                   "cp1252" if compressed else "utf16", cp0, cp1, text)

    return flat_map(df, [url_col, payload_col], CFB_DDL, rows_of)


OLEPS_DDL = ("url string, pos int, stream string, prop_id int, "
             "name string, vtype string, value string")


def read_office_properties(df: DataFrame, url_col: str = "url",
                           payload_col: str = "payload"
                           ) -> DataFrame:
    """(url, CFB bytes) -> one row per [MS-OLEPS] property from the
    summary / document-summary streams (the legacy-office sibling
    of ``read_office_metadata``). Pure parse:
    ``extractor.olepsx.extract_office_properties``. Map-only; CFB
    without property streams (or junk) yields no rows."""
    from ..extractor.olepsx import extract_office_properties

    def rows_of(url, payload):
        for pos, stream, pid, name, vtype, val in \
                extract_office_properties(
                    bytes(payload) if payload is not None else None):
            # Int32 clamp: property ids are u32 on disk
            pid = pid if pid <= 0x7FFFFFFF else None
            yield url, pos, stream, pid, name, vtype, val

    return flat_map(df, [url_col, payload_col], OLEPS_DDL, rows_of)
