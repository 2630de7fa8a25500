"""Sources: readers for the documents table and auxiliary formats.

Reference scan/source inventory (SURVEY.md §2.1): the directory walk S1
becomes a table scan; format dispatch happens per row by payload sniff
(extractor.sniff), not per file extension. S5 (CSV rows regrouped 10 per
chunk, ``unstructured_chunker.py:65-78``) is re-expressed relationally.

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

``read_warc_members`` (one file handle across rows) and the sitemap/feed
batch parsers (shared with the streaming discovery source) keep their
own ``mapInPandas`` bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


def read_csv_chunks(spark: SparkSession, path: str,
                    rows_per_chunk: int = 10, **csv_opts) -> DataFrame:
    """S5: CSV rows regrouped ``rows_per_chunk`` rows per chunk
    (``unstructured_chunker.py:65-78``: CSVLoader rows joined 10 at a
    time into one text chunk).

    Output: (file, chunk_id, text) where text is the newline-join of the
    chunk's rows in row order. Row order within a file follows the CSV's
    physical order via the input file + a monotonic position.
    """
    raw = (spark.read.options(**csv_opts).csv(path)
           .withColumn("_file", F.input_file_name())
           .withColumn("_pos", F.monotonically_increasing_id()))
    row_text = F.concat_ws(",", *[c for c in raw.columns
                                  if c not in ("_file", "_pos")])
    w = Window.partitionBy("_file").orderBy("_pos")
    rows = (raw.select("_file", "_pos", row_text.alias("_row"))
            .withColumn("_rn", F.row_number().over(w) - 1)
            .withColumn("chunk_id",
                        (F.col("_rn") / rows_per_chunk).cast("int")))
    return (rows.groupBy(F.col("_file").alias("file"), "chunk_id")
            .agg(F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(
                        F.struct(F.col("_rn").alias("o"),
                                 F.col("_row").alias("t")))),
                    lambda s: s.getField("t")), "\n").alias("text")))


def read_text_documents(spark: SparkSession, path: str) -> DataFrame:
    """S4: plain-text files, one row per file (wholetext)."""
    return (spark.read.text(path, wholetext=True)
            .withColumn("file", F.input_file_name())
            .withColumnRenamed("value", "text"))


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


IPYNB_CELLS_DDL = ("url string, cell_idx int, cell_type string, "
                   "lang string, source string, exec_count int, "
                   "n_outputs int, output_text string")


def read_ipynb_cells(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, ipynb payload) rows -> ordered notebook cells.

    The JSON member of the per-format loader family; the per-row
    parse is the pure-Python ``extractor.ipynbx.parse_notebook``
    (v4 cells and v3 worksheets).  Non-notebook payloads yield no
    rows (F5)."""
    from ..extractor.ipynbx import parse_notebook

    def rows_of(url, payload):
        for c in parse_notebook(
                bytes(payload) if payload is not None else None):
            yield (url, c.idx, c.cell_type, c.lang, c.source,
                   c.exec_count, c.n_outputs, c.output_text)

    return flat_map(df, [url_col, payload_col], IPYNB_CELLS_DDL,
                    rows_of)


def read_latex_elements(df: DataFrame, url_col: str = "url",
                        text_col: str = "tex") -> DataFrame:
    """(url, latex source) rows -> ordered elements in the SHARED
    (url, para, kind, level, text) office/outline schema (the detex
    analog; ``chunking.section_chunks`` composes directly).  The
    per-row parse is the pure-Python ``extractor.texx.parse_latex``."""
    from ..extractor.texx import parse_latex

    def rows_of(url, src):
        for el in parse_latex(src if src is not None else ""):
            yield url, el.para, el.kind, el.level, el.text

    return flat_map(df, [url_col, text_col], ODT_ELEMENTS_DDL, rows_of)


WIKI_LINKS_DDL = "url string, pos int, target string, label string"

WIKI_PAGES_DDL = ("url string, page_idx int, title string, ns int, "
                  "page_id long, redirect string, wikitext string")


def read_wiki_dump(df: DataFrame, url_col: str = "url",
                   payload_col: str = "payload") -> DataFrame:
    """(url, MediaWiki export XML payload) rows -> one row per page
    (the pages-articles.xml shape Wikipedia actually ships).  Chains
    into read_wikitext_elements / read_wiki_links on the wikitext
    column.  Junk payloads yield no rows (F5)."""
    from ..extractor.wikix import parse_wiki_dump

    def rows_of(url, payload):
        for p in parse_wiki_dump(
                bytes(payload) if payload is not None else None):
            yield (url, p.idx, p.title, p.ns, p.page_id, p.redirect,
                   p.wikitext)

    return flat_map(df, [url_col, payload_col], WIKI_PAGES_DDL,
                    rows_of)


def read_wikitext_elements(df: DataFrame, url_col: str = "url",
                           text_col: str = "wikitext") -> DataFrame:
    """(url, wikitext) rows -> ordered elements in the SHARED
    (url, para, kind, level, text) office/outline schema — wiki pages
    section exactly like office documents (``chunking.section_chunks``
    composes directly).  The per-row parse is the pure-Python
    ``extractor.wikix.parse_wikitext``."""
    from ..extractor.wikix import parse_wikitext

    def rows_of(url, src):
        for el in parse_wikitext(src if src is not None else ""):
            yield url, el.para, el.kind, el.level, el.text

    return flat_map(df, [url_col, text_col], ODT_ELEMENTS_DDL, rows_of)


def read_wiki_links(df: DataFrame, url_col: str = "url",
                    text_col: str = "wikitext") -> DataFrame:
    """(url, wikitext) rows -> internal links in document order
    (File:/Image:/Category: and template/table/ref positions
    excluded — they do not render as article links)."""
    from ..extractor.wikix import wiki_links

    def rows_of(url, src):
        for lk in wiki_links(src if src is not None else ""):
            yield url, lk.pos, lk.target, lk.label

    return flat_map(df, [url_col, text_col], WIKI_LINKS_DDL, rows_of)


TAR_MEMBERS_DDL = ("url string, member_idx int, name string, "
                   "size long, mtime long, typeflag string, "
                   "payload binary")


def read_tar_members(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, tar payload) rows -> one row per archive member (the
    arXiv-bulk shape: tars of .tex/.html sources).  Member payloads
    stay binary so any per-format reader chains on them.  Junk
    payloads yield no rows (F5)."""
    from ..extractor.tarx import list_tar

    def rows_of(url, payload):
        for m in list_tar(bytes(payload) if payload is not None else None):
            yield (url, m.idx, m.name, m.size, m.mtime, m.typeflag,
                   m.payload)

    return flat_map(df, [url_col, payload_col], TAR_MEMBERS_DDL,
                    rows_of)


MBOX_MESSAGES_DDL = ("url string, msg_idx int, message_id string, "
                     "from_addr string, to_addrs string, subject string, "
                     "date_ts timestamp, in_reply_to string, text string, "
                     "n_parts int, has_html boolean, n_attachments int")


def read_mbox_messages(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """(url, mbox payload) rows -> one row per message.

    The message-container member of the loader family; the per-row
    parse is the pure-Python ``extractor.mailx.parse_mbox`` (RFC 5322
    headers, RFC 2047 encoded words, nested MIME, mboxrd escaping).
    Junk payloads yield no rows (F5)."""
    from ..extractor.mailx import parse_mbox

    def rows_of(url, payload):
        for m in parse_mbox(
                bytes(payload) if payload is not None else None):
            date_ts = (m.date_ts.replace(tzinfo=None)
                       if m.date_ts is not None else None)
            yield (url, m.idx, m.message_id, m.from_addr, m.to_addrs,
                   m.subject, date_ts, m.in_reply_to, m.text,
                   len(m.parts), m.has_html, m.n_attachments)

    return flat_map(df, [url_col, payload_col], MBOX_MESSAGES_DDL,
                    rows_of)


OPML_FEEDS_DDL = ("url string, pos int, category string, "
                  "title string, xml_url string, html_url string")


def read_opml_feeds(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, opml payload) rows -> one row per subscribed feed
    (url, pos, category, title, xml_url, html_url).

    The discovery bridge's third leg (robots -> sitemaps, feeds ->
    fresh urls, OPML -> feed COLLECTIONS): one blogroll/podcast list
    fans out into hundreds of feed urls for ``read_feed_entries`` to
    poll, and ``category`` carries the curator's topic label — a free
    domain-mixture signal. Map-only 1->N over the Spark-free
    ``extractor.feedx.parse_opml``; malformed documents degrade to
    fewer rows (F5)."""
    from ..extractor.feedx import parse_opml

    cols = ("pos", "category", "title", "xml_url", "html_url")

    def rows_of(url, payload):
        if payload is None:
            return
        for rec in parse_opml(bytes(payload)):
            yield (url, *(rec[c] for c in cols))

    return flat_map(df, [url_col, payload_col], OPML_FEEDS_DDL, rows_of)


SUBTITLE_CUES_DDL = ("url string, pos int, start_ms bigint, "
                     "end_ms bigint, text string")


def read_subtitle_cues(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """(url, subtitle payload) rows -> one row per timed cue
    (url, pos, start_ms, end_ms, text).

    The timed-text member of the per-format loader family
    (``extractor/subx.py`` is the Spark-free oracle: SRT/WebVTT
    detection, BOM/legacy-cp1252 decoding, tag stripping). Map-only
    1->N; payloads without a parseable cue yield no rows (F5). At
    100 TB the downstream joins (cue windows x sampled video frames)
    key on (url, time) — this source shuffles nothing itself."""
    from ..extractor.subx import parse_subtitles

    def rows_of(url, payload):
        if payload is None:
            return
        for pos, start_ms, end_ms, text in parse_subtitles(bytes(payload)):
            yield url, pos, start_ms, end_ms, text

    return flat_map(df, [url_col, payload_col], SUBTITLE_CUES_DDL,
                    rows_of)


DIFF_HUNKS_DDL = (
    "url string, file_idx int, old_path string, new_path string, "
    "kind string, is_binary boolean, similarity int, hunk_idx int, "
    "old_start int, old_len int, new_start int, new_len int, "
    "section string, n_added int, n_removed int")


def read_diff_hunks(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, patch payload) rows -> one row per hunk, denormalized
    with its file section's columns; hunkless sections (renames,
    binary files) emit ONE row with NULL hunk columns so file-level
    facts survive in the same table.

    The code-corpus member of the per-format loader family
    (``extractor/diffx.py`` is the Spark-free oracle: git + plain
    unified grammar, quoted-path unquoting, header harvest, clamped
    Int32 hunk coordinates). Map-only 1->N; payloads with no
    sections yield no rows (F5). At 100 TB churn aggregations key on
    (url, new_path) — this source shuffles nothing itself."""
    from ..extractor.diffx import parse_unified_diff

    fcols = ("file_idx", "old_path", "new_path", "kind", "is_binary",
             "similarity")
    hcols = ("hunk_idx", "old_start", "old_len", "new_start",
             "new_len", "section", "n_added", "n_removed")

    def rows_of(url, payload):
        if payload is None:
            return
        for f in parse_unified_diff(bytes(payload)):
            head = (url,) + tuple(f[c] for c in fcols)
            if not f["hunks"]:
                yield head + (None,) * len(hcols)
            for h in f["hunks"]:
                yield head + tuple(h[c] for c in hcols)

    return flat_map(df, [url_col, payload_col], DIFF_HUNKS_DDL, rows_of)


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
    (dedup, fetch gating) never decompress a WARC member; the fetch
    path resolves individual locators via ``waczx.fetch_capture``.
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


ICS_EVENTS_DDL = (
    "url string, pos int, uid string, summary string, "
    "location string, start_ms bigint, end_ms bigint, "
    "all_day boolean, tzid string, freq string, rrule_interval int, "
    "rrule_count int, until_ms bigint, status string")


def read_ics_events(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, iCalendar payload) rows -> one row per VEVENT
    (url, pos, uid, summary, location, start_ms, end_ms, all_day,
    tzid, freq, rrule_interval, rrule_count, until_ms, status).

    The calendar member of the per-format loader family
    (``extractor/icsx.py`` is the Spark-free oracle: RFC 5545
    unfolding, quoted-param content lines, TEXT unescaping, VALARM
    isolation, DURATION folding, RRULE harvest). Map-only 1->N;
    payloads without a parseable VEVENT yield no rows (F5). The
    parser clamps every attribute-fed integer (RRULE interval/count,
    duration seconds) so the typed pd.array columns can't overflow.
    At 100 TB the downstream joins (occurrence expansion, time
    windows) key on (url, time) — this source shuffles nothing."""
    from ..extractor.icsx import parse_ics

    cols = [f.split()[0] for f in ICS_EVENTS_DDL.split(", ")][1:]

    def rows_of(url, payload):
        if payload is None:
            return
        for ev in parse_ics(bytes(payload)):
            yield (url, *(ev[c] for c in cols))

    return flat_map(df, [url_col, payload_col], ICS_EVENTS_DDL, rows_of)


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


BIB_FIELDS_DDL = ("url string, pos int, entry_type string, "
                  "key string, field string, value string")


def read_bib_fields(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, .bib payload) rows -> one row per FIELD of each parsed
    BibTeX entry (fieldless entries emit a single row with NULL
    field/value, so every entry survives the flatten).

    Per-row parse is the pure ``extractor.bibx.extract_bib_entries``
    (golden-pinned, rtfx pattern). No sniff/core-dispatch branch:
    a bare ``@`` is not an unambiguous magic, so .bib payloads are
    routed by the caller, not guessed."""
    from ..extractor.bibx import extract_bib_entries

    def rows_of(url, payload):
        for e in extract_bib_entries(bytes(payload)):
            head = (url, e["pos"], e["entry_type"], e["key"])
            if not e["fields"]:
                yield head + (None, None)
            for fname, val in e["fields"]:
                yield head + (fname, val)

    return flat_map(df, [url_col, payload_col], BIB_FIELDS_DDL, rows_of)


FRONT_MATTER_DDL = ("url string, pos int, key string, idx int, "
                    "value string")


def read_front_matter(df: DataFrame, url_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """(url, markdown payload) rows -> one row per front-matter
    scalar / list item (Jekyll/Hugo YAML micro-subset). Documents
    without a front-matter block emit nothing (F5).

    Per-row parse is the pure ``extractor.frontmx.parse_front_matter``
    (golden-pinned); payloads decode strict-UTF-8 then cp1252 (the
    bibx fallback)."""
    from ..extractor.bibx import _decode
    from ..extractor.frontmx import parse_front_matter

    def rows_of(url, payload):
        rows, _ = parse_front_matter(_decode(bytes(payload)))
        for pos, key, idx, val in rows:
            yield url, pos, key, idx, val

    return flat_map(df, [url_col, payload_col], FRONT_MATTER_DDL,
                    rows_of)


LLMS_LINKS_DDL = ("url string, pos int, section string, "
                  "name string, href string, description string")


def read_llms_links(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, llms.txt payload) rows -> one row per curated link
    (pos, section, name, href, desc). Pure parse:
    ``extractor.llmstxtx.parse_llms_txt`` (golden-pinned)."""
    from ..extractor.bibx import _decode
    from ..extractor.llmstxtx import parse_llms_txt

    def rows_of(url, payload):
        d = parse_llms_txt(_decode(bytes(payload)))
        for pos, sec, name, href, desc in d["links"]:
            yield url, pos, sec, name, href, desc

    return flat_map(df, [url_col, payload_col], LLMS_LINKS_DDL, rows_of)


def read_llms_files(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, llms.txt payload) rows -> one file-level row each:
    title, summary, n_sections, n_links, has_optional (an
    'Optional' section marks crawl-skippable links per the
    proposal)."""
    from ..extractor.bibx import _decode
    from ..extractor.llmstxtx import parse_llms_txt

    def rows_of(url, payload):
        d = parse_llms_txt(_decode(bytes(payload)))
        yield (url, d["title"], d["summary"], len(d["sections"]),
               len(d["links"]),
               "optional" in [s.lower() for s in d["sections"]])

    return flat_map(df, [url_col, payload_col],
                    "url string, title string, summary string, "
                    "n_sections bigint, n_links bigint, "
                    "has_optional boolean", rows_of)


CSV_RECORDS_DDL = ("url string, row int, col int, header string, "
                   "value string")


def read_csv_records(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, CSV/DSV payload) rows -> one row per CELL with the
    sniffed dialect applied (SURVEY §2 S5). Pure parse:
    ``extractor.csvx.extract_csv`` (golden-pinned); header cells
    become the ``header`` column (NULL for headerless files or
    ragged overflow columns)."""
    from ..extractor.csvx import extract_csv

    def rows_of(url, payload):
        for rec in extract_csv(bytes(payload))["records"]:
            yield (url, *rec)

    return flat_map(df, [url_col, payload_col], CSV_RECORDS_DDL,
                    rows_of)


def read_csv_meta(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, payload) -> one dialect row per file: sniffed
    delimiter (tab rendered as '\\t'), header flag, data-row count
    and widest row."""
    from ..extractor.csvx import extract_csv

    def rows_of(url, payload):
        d = extract_csv(bytes(payload))
        recs = d["records"]
        n_rows = max(r for r, _, _, _ in recs) + 1 if recs else 0
        n_cols = max(c for _, c, _, _ in recs) + 1 if recs else 0
        yield (url, "\\t" if d["delimiter"] == "\t" else d["delimiter"],
               d["has_header"], n_rows, n_cols)

    return flat_map(df, [url_col, payload_col],
                    "url string, delimiter string, has_header boolean, "
                    "n_rows bigint, n_cols bigint", rows_of)


XLSX_CELLS_DDL = ("url string, sheet int, sheet_name string, "
                  "row int, col int, cell_type string, value string")


def read_xlsx_cells(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, XLSX payload) rows -> one row per CELL across all
    sheets (the tabular OOXML sibling of ``read_csv_records``; cell
    schema matches so both feed the same typing profile). Pure
    parse: ``extractor.xlsxx.extract_xlsx`` (golden-pinned);
    non-workbook payloads are skipped."""
    from ..extractor.xlsxx import extract_xlsx

    def rows_of(url, payload):
        d = extract_xlsx(bytes(payload))
        names = d["sheets"]
        for si, row, col, ctype, value in d["cells"]:
            yield url, si, names[si], row, col, ctype, value

    return flat_map(df, [url_col, payload_col], XLSX_CELLS_DDL, rows_of)


def read_xlsx_sheets(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, payload) -> one row per SHEET (workbook order):
    cell count and the populated extent (max row/col + 1; 0 for an
    empty sheet)."""
    from ..extractor.xlsxx import extract_xlsx

    def rows_of(url, payload):
        d = extract_xlsx(bytes(payload))
        per: dict[int, list[tuple[int, int]]] = {}
        for si, row, col, _, _ in d["cells"]:
            per.setdefault(si, []).append((row, col))
        for si, name in enumerate(d["sheets"]):
            rcs = per.get(si, [])
            yield (url, si, name, len(rcs),
                   max((r for r, _ in rcs), default=-1) + 1,
                   max((c for _, c in rcs), default=-1) + 1)

    return flat_map(df, [url_col, payload_col],
                    "url string, sheet int, sheet_name string, "
                    "n_cells bigint, n_rows bigint, n_cols bigint",
                    rows_of)


PO_ENTRIES_DDL = ("url string, pos int, ctxt string, msgid string, "
                  "msgid_plural string, msgstr string, "
                  "n_plurals int, fuzzy boolean, obsolete boolean, "
                  "refs string")


def read_po_entries(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, gettext PO payload) rows -> one row per catalog entry
    (the bitext member of the per-format loader family). Pure
    parse: ``extractor.pox.extract_po_entries`` (golden-pinned);
    ``refs`` is the space-joined ``#:`` reference list ('' when
    none) — arrays stay out of the golden so both engines hash the
    same scalar."""
    from ..extractor.pox import extract_po_entries

    def rows_of(url, payload):
        for e in extract_po_entries(bytes(payload)):
            yield (url, e["pos"], e["ctxt"], e["msgid"],
                   e["msgid_plural"], e["msgstr"], e["n_plurals"],
                   e["fuzzy"], e["obsolete"], " ".join(e["refs"]))

    return flat_map(df, [url_col, payload_col], PO_ENTRIES_DDL, rows_of)


TMX_ROWS_DDL = ("url string, tu int, tuid string, pos int, "
                "srclang string, lang string, seg string")


def read_tmx_rows(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, TMX payload) rows -> one row per tuv segment with the
    header srclang denormalized onto every row (the pairing
    operator needs it and the golden stays one flat table). Pure
    parse: ``extractor.tmxx.extract_tmx`` (golden-pinned)."""
    from ..extractor.tmxx import extract_tmx

    def rows_of(url, payload):
        d = extract_tmx(bytes(payload))
        for tu, tuid, pos, lang, seg in d["rows"]:
            yield url, tu, tuid, pos, d["srclang"], lang, seg

    return flat_map(df, [url_col, payload_col], TMX_ROWS_DDL, rows_of)


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


def read_warc_documents(spark: SparkSession, path: str) -> DataFrame:
    """WARC shards -> the documents table (url, warc_ts, html, text,
    lang): binaryFile scan (one row per shard) + Arrow batch over the
    Spark-free ``extractor.warcx.parse_warc``; response bodies land in
    ``html`` for the payload-sniffing extraction stage, ``text``/
    ``lang`` stay null (no fallback, no crawl-provided language).

    Scale: Common Crawl ships ~64k shards per crawl — per-FILE
    parallelism is the archive's own unit of work, and shard bytes
    stay inside the executor that scanned them (no shuffle between
    scan and parse). Each task holds one shard in memory (~1 GB for
    production CC; size executors or split shards accordingly).
    Malformed/truncated shards degrade to fewer rows (F5 contract).
    """
    from ..extractor.warcx import parse_warc

    def rows_of(blob):
        for rec in parse_warc(bytes(blob)):
            yield rec["url"], rec["warc_ts"], rec["body"], None, None

    return flat_map(spark.read.format("binaryFile").load(path),
                    ["content"], DOCUMENTS_DDL, rows_of)


WARC_CAPTURES_DDL = ("url string, warc_ts timestamp, status int, "
                     "content_type string, x_robots string, "
                     "location string, content_encoding string, "
                     "decoded boolean, sniffed_kind string, "
                     "n_bytes long")


def read_warc_captures(spark: SparkSession, path: str) -> DataFrame:
    """WARC shards -> a metadata-only capture view: (url, warc_ts,
    status, content_type, x_robots, location, content_encoding,
    decoded, sniffed_kind, n_bytes) — bodies are entity bytes
    (chunked framing and gzip/deflate codings undone by parse_warc;
    ``decoded`` False marks captures left as stored). The payload is
    magic-byte-sniffed (``extractor.sniff.sniff_kind``) IN the same
    Arrow pass and then dropped — the served-vs-actual comparison
    input for ``webtext.content_type_mismatch`` without ever
    shuffling body bytes (output rows are ~100 B regardless of
    capture size).

    Scale: identical shape to ``read_warc_documents`` — per-shard
    binaryFile parallelism, bodies die in the task that read them.
    """
    return warc_captures_from_blobs(
        spark.read.format("binaryFile").load(path).select("content"))


def warc_captures_from_blobs(blobs: DataFrame) -> DataFrame:
    """The capture view over an in-hand shard column — same Arrow
    pass as ``read_warc_captures`` minus the binaryFile scan (for
    shards that arrive via another source, e.g. ranged reads or
    fixtures). ``blobs`` needs a ``content binary`` column."""
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


def read_wet_documents(spark: SparkSession, path: str) -> DataFrame:
    """WET shards (Common Crawl's pre-extracted plain text) -> the
    documents table: ``text`` carries the conversion-record payload,
    ``html`` stays null (there is nothing to extract — WET rows enter
    the pipeline downstream of the extraction stage, feeding the
    quality/dedup/curation operators directly).

    Scale: identical shape to ``read_warc_documents`` — per-shard
    binaryFile parallelism, shard bytes never shuffle, malformed
    records degrade to fewer rows (F5).
    """
    from ..extractor.warcx import parse_wet

    def rows_of(blob):
        for rec in parse_wet(bytes(blob)):
            yield rec["url"], rec["warc_ts"], None, rec["text"], None

    return flat_map(spark.read.format("binaryFile").load(path),
                    ["content"], DOCUMENTS_DDL, rows_of)


WAT_LINKS_DDL = ("url string, warc_ts timestamp, title string, "
                 "link_pos int, path string, href string, anchor string")


def read_wat_links(spark: SparkSession, path: str) -> DataFrame:
    """WAT shards (Common Crawl's per-page metadata JSON) -> the link
    table (url, warc_ts, title, link_pos, path, href, anchor): one row
    per outgoing link, 1->N via the Spark-free
    ``extractor.warcx.parse_wat``. This is the cheap path to the link
    graph — ``linkgraph.host_edges``/``pagerank_hosts``/
    ``anchor_text_terms`` consume it directly without ever touching
    page bodies (WAT shards are ~1/5 the bytes of their WARC parents).

    Pages whose metadata parses but carries no links still emit one
    row with link_pos = -1 and null href, so URL coverage (for
    crawl-frontier joins) survives the explode.

    Scale: identical shape to ``read_warc_documents`` — per-shard
    binaryFile parallelism, shard bytes never shuffle, malformed
    envelopes degrade to titleless/linkless rows (F5).
    """
    from ..extractor.warcx import parse_wat

    def rows_of(blob):
        for rec in parse_wat(bytes(blob)):
            head = (rec["url"], rec["warc_ts"], rec["title"])
            if not rec["links"]:
                yield head + (-1, None, None, None)
            for i, lk in enumerate(rec["links"]):
                yield head + (i, lk["path"], lk["href"], lk["anchor"])

    return flat_map(spark.read.format("binaryFile").load(path),
                    ["content"], WAT_LINKS_DDL, rows_of)


CDX_DDL = ("urlkey string, ts timestamp, url string, mime string, "
           "status int, digest string, length long, offset long, "
           "filename string")


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX(J) index shards -> the capture-index table (urlkey, ts,
    url, mime, status, digest, length, offset, filename): one row per
    capture, via the Spark-free ``extractor.cdxx.parse_cdxj``.

    The index is the crawl's planning surface: ``webtext.
    cdx_fetch_plan`` gates/dedups over THESE rows and only then does
    ``read_warc_members`` touch WARC bytes — at 100 TB of WARC the
    index is ~1/200 the bytes, so every query answered here is a
    ~200x IO saving over scanning the archive.

    Scale: identical shape to ``read_warc_documents`` — per-shard
    binaryFile parallelism, shard bytes never shuffle, malformed
    lines degrade to fewer rows (F5).
    """
    from ..extractor.cdxx import parse_cdxj

    cols = [f.split()[0] for f in CDX_DDL.split(", ")]

    def rows_of(blob):
        for rec in parse_cdxj(bytes(blob)):
            yield tuple(rec[c] for c in cols)

    return flat_map(spark.read.format("binaryFile").load(path),
                    ["content"], CDX_DDL, rows_of)


WARC_MEMBER_DDL = ("url string, warc_ts timestamp, status int, "
                   "body binary, filename string, offset long")


def read_warc_members(locators: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """Record-locator fetch: (filename, offset, length) rows — the
    output of ``webtext.cdx_fetch_plan`` — -> exactly those WARC
    members, decoded. THE production fetch shape: a plan that kept
    1% of captures reads 1% of the archive bytes, because each member
    is sliced at [offset, offset+length) instead of scanning shards.

    Locators are hash-partitioned by filename and sorted by offset
    within the partition, so one shard is visited by one task and its
    members are read in ascending-offset order (sequential IO; on
    object stores each slice is one ranged GET).  The per-batch file
    handle is reused across consecutive rows of the same shard.
    Locators whose slice is corrupt/truncated degrade to no row (F5).
    """
    import pandas as pd

    from ..extractor.cdxx import read_warc_member

    def fetch(batches):
        fname, fh = None, None
        for b in batches:
            rows = []
            for fn, off, ln in zip(b["filename"], b["offset"],
                                   b["length"]):
                if fn != fname:
                    if fh is not None:
                        fh.close()
                    fname, fh = fn, None
                    try:
                        fh = open(fn, "rb")
                    except OSError:
                        pass
                if fh is None:
                    continue
                try:
                    fh.seek(int(off))
                    chunk = fh.read(int(ln))
                except OSError:
                    continue
                rec = read_warc_member(chunk, 0, len(chunk))
                if rec is not None:
                    rows.append((rec["url"], rec["warc_ts"],
                                 rec["status"], rec["body"], fn,
                                 int(off)))
            df = pd.DataFrame(rows, columns=(
                "url", "warc_ts", "status", "body", "filename",
                "offset"))
            df["status"] = df["status"].astype("Int32")
            yield df
        if fh is not None:
            fh.close()

    n = num_partitions or locators.sparkSession.sparkContext.defaultParallelism
    return (locators.select("filename", "offset", "length")
            .repartition(n, "filename")
            .sortWithinPartitions("filename", "offset")
            .mapInPandas(fetch, WARC_MEMBER_DDL))


SITEMAP_DDL = ("kind string, loc string, lastmod timestamp, "
               "changefreq string, priority_bp int")


def _sitemap_parse_batches(batches):
    """Arrow-batch parser shared by the batch reader and the
    streaming ``discovery_stream`` (same bytes -> same rows)."""
    import pandas as pd

    from ..extractor.feedx import parse_sitemap

    cols = ("kind", "loc", "lastmod", "changefreq", "priority_bp")
    for b in batches:
        rows = [tuple(rec[c] for c in cols)
                for blob in b["content"]
                for rec in parse_sitemap(bytes(blob))]
        df = pd.DataFrame(rows, columns=cols)
        df["priority_bp"] = df["priority_bp"].astype("Int32")
        yield df


def read_sitemap_urls(spark: SparkSession, path: str) -> DataFrame:
    """Sitemap documents (urlset or sitemapindex, plain or .gz) ->
    frontier rows (kind, loc, lastmod, changefreq, priority_bp) via
    the Spark-free ``extractor.feedx.parse_sitemap``. kind='sitemap'
    rows are index pointers (the caller recurses by globbing those
    paths next); kind='url' rows feed ``webtext.frontier_candidates``.

    Scale: per-file binaryFile parallelism (a large site ships
    thousands of 50k-url sitemap shards), no shuffle between scan and
    parse; malformed XML degrades to fewer rows (F5).
    """
    return (spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(_sitemap_parse_batches, SITEMAP_DDL))


FEED_DDL = "feed_kind string, url string, title string, pub_ts timestamp"


def _feed_parse_batches(batches):
    """Arrow-batch parser shared by the batch reader and the
    streaming ``discovery_stream(source_format="feed")``."""
    import pandas as pd

    from ..extractor.feedx import parse_feed

    cols = ("feed_kind", "url", "title", "pub_ts")
    for b in batches:
        rows = [tuple(rec[c] for c in cols)
                for blob in b["content"]
                for rec in parse_feed(bytes(blob))]
        yield pd.DataFrame(rows, columns=cols)


def feed_entries_from_blobs(blobs: DataFrame) -> DataFrame:
    """Feed shards already in a DataFrame (a ``content binary``
    column) -> frontier rows (FEED_DDL) — the blob variant of
    ``read_feed_entries`` (same Arrow pass; RSS/Atom/JSON Feed
    dispatch lives in ``extractor.feedx.parse_feed``)."""
    return (blobs.select("content")
            .mapInPandas(_feed_parse_batches, FEED_DDL))


def read_feed_entries(spark: SparkSession, path: str) -> DataFrame:
    """RSS 2.0 / Atom feeds -> frontier rows (feed_kind, url, title,
    pub_ts) via the Spark-free ``extractor.feedx.parse_feed`` — the
    freshness-driven complement of sitemaps (feeds surface NEW urls
    minutes after publication; sitemaps enumerate the whole site).

    Scale: identical shape to ``read_sitemap_urls`` — per-file
    parallelism, no shuffle, malformed feeds degrade (F5).
    """
    return (spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(_feed_parse_batches, FEED_DDL))


def arc_documents_from_blobs(blobs: DataFrame) -> DataFrame:
    """ARC v1 shards (a ``content binary`` column) -> the documents
    table (url, warc_ts, html, text, lang) — the pre-2013 Common
    Crawl path into the same extraction pipeline as WARC. http(s)
    response bodies land in ``html`` (entity bytes — chunked/gzip
    codings undone by ``extractor.warcx.parse_arc``); non-http
    records (dns:, filedesc:) are skipped; ``text``/``lang`` stay
    null. Same scale shape as read_warc_documents: shard bytes never
    leave the task that scanned them."""
    from ..extractor.warcx import parse_arc

    def rows_of(blob):
        for rec in parse_arc(bytes(blob)):
            if rec["url"].startswith(("http://", "https://")):
                yield rec["url"], rec["warc_ts"], rec["body"], None, None

    return flat_map(blobs, ["content"], DOCUMENTS_DDL, rows_of)


def read_arc_documents(spark: SparkSession, path: str) -> DataFrame:
    """ARC shards on disk -> the documents table; binaryFile scan
    (one row per shard, per-FILE parallelism — the archive's own unit
    of work) + the Arrow pass of ``arc_documents_from_blobs``."""
    return arc_documents_from_blobs(
        spark.read.format("binaryFile").load(path).select("content"))


def sitemap_media_from_blobs(blobs: DataFrame) -> DataFrame:
    """Media-extension sitemap shards (a ``content binary`` column)
    -> one row per declared video/image (page_loc, pos, kind, loc,
    thumbnail_loc, title, description, duration_s) — the crawl-side
    DISCOVERY channel for multimodal pair mining
    (extractor.feedx.parse_sitemap_media is the Spark-free oracle).
    Map-only; shard bytes never leave the scanning task; the output
    joins the fetch frontier on loc."""
    from ..extractor.feedx import parse_sitemap_media

    ddl = ("page_loc string, pos int, kind string, loc string, "
           "thumbnail_loc string, title string, description string, "
           "duration_s int")
    cols = [f.split()[0] for f in ddl.split(", ")]

    def rows_of(blob):
        for r in parse_sitemap_media(bytes(blob)):
            yield tuple(r[c] for c in cols)

    return flat_map(blobs, ["content"], ddl, rows_of)


def read_sitemap_media(spark: SparkSession, path: str) -> DataFrame:
    """Media-extension sitemaps on disk -> the discovery rows
    (binaryFile scan + the Arrow pass of sitemap_media_from_blobs)."""
    return sitemap_media_from_blobs(
        spark.read.format("binaryFile").load(path).select("content"))


HLS_ROWS_DDL = ("playlist_url string, playlist_kind string, pos int, "
                "row_kind string, uri string, bandwidth long, "
                "width int, height int, codecs string, "
                "duration_ms long, media_type string, language string, "
                "name string, title string")


def hls_rows_from_blobs(blobs: DataFrame) -> DataFrame:
    """HLS playlists (columns url, content) -> one row per declared
    variant / rendition / segment (HLS_ROWS_DDL; unused fields null
    per row kind) — the video fetch planner's input
    (extractor.hlsx.parse_m3u8 is the Spark-free oracle; URIs are
    resolved against the playlist url here, the linkx convention).
    Map-only; at scale playlists are kilobytes and the output joins
    the fetch frontier on uri."""
    from urllib.parse import urljoin

    from ..extractor.hlsx import parse_m3u8

    def rows_of(url, blob):
        kind, rs = parse_m3u8(bytes(blob) if blob is not None else b"")
        for r in rs:
            uri = urljoin(url, r[2]) if url else r[2]
            if r[0] == "variant":
                yield (url, kind, r[1], "variant", uri, r[3], r[4],
                       r[5], r[6], None, None, None, None, None)
            elif r[0] == "media":
                yield (url, kind, r[1], "media", uri, None, None, None,
                       None, None, r[3], r[4], r[5], None)
            else:
                yield (url, kind, r[1], "segment", uri, None, None,
                       None, None, r[3], None, None, None, r[4])

    return flat_map(blobs, ["url", "content"], HLS_ROWS_DDL, rows_of)


def hls_summary(rows: DataFrame) -> DataFrame:
    """hls_rows -> one row per playlist: the fetch-planning summary
    (n_variants, max/min bandwidth of the ladder, n_renditions,
    n_segments, total_duration_ms — exact integer sum). ONE
    map-side-combinable shuffle on playlist_url; rung selection /
    byte budgeting downstream is a filter + join on this tiny
    table."""
    from pyspark.sql import functions as F
    return (rows.groupBy("playlist_url", "playlist_kind").agg(
        F.sum((F.col("row_kind") == "variant").cast("long"))
         .alias("n_variants"),
        F.max("bandwidth").alias("max_bandwidth"),
        F.min("bandwidth").alias("min_bandwidth"),
        F.sum((F.col("row_kind") == "media").cast("long"))
         .alias("n_renditions"),
        F.sum((F.col("row_kind") == "segment").cast("long"))
         .alias("n_segments"),
        F.sum("duration_ms").alias("total_duration_ms")))


MPD_ROWS_DDL = ("mpd_url string, mpd_type string, "
                "mpd_duration_ms long, pos int, "
                "period int, adaptation int, content_type string, "
                "lang string, rep_id string, bandwidth long, "
                "width int, height int, codecs string, "
                "mime_type string, base_url string, "
                "init_uri string, media_template string, "
                "seg_duration_ms long, start_number long")


def mpd_rows_from_blobs(blobs: DataFrame) -> DataFrame:
    """DASH MPD manifests (columns url, content) -> one row per
    Representation (MPD_ROWS_DDL) — the DASH half of video fetch
    planning (extractor.dashx.parse_mpd is the Spark-free oracle).
    base_url resolves against the manifest url, and init/media
    template paths resolve against that base ($Number$ etc. kept
    verbatim — the fetch planner substitutes). Map-only over
    KB-scale manifests."""
    from urllib.parse import urljoin

    from ..extractor.dashx import parse_mpd

    def rows_of(url, blob):
        meta, rs = parse_mpd(bytes(blob) if blob is not None else b"")
        for r in rs:
            base = urljoin(url or "", r[11] or "")
            init = urljoin(base, r[12]) if r[12] else None
            media = urljoin(base, r[13]) if r[13] else None
            yield (url, meta["type"], meta["duration_ms"], *r[:11], base,
                   init, media, r[14], r[15])

    return flat_map(blobs, ["url", "content"], MPD_ROWS_DDL, rows_of)


def dash_segment_plan(rows: DataFrame) -> DataFrame:
    """mpd_rows -> one row per fetchable media segment (mpd_url,
    rep_id, seg_number, seg_uri): JVM-side expansion — sequence() +
    explode + codegen string substitution, NO Python in the hot path.
    Representations need a media template, a segment duration and the
    manifest duration; n_segments = ceil(duration / seg_duration),
    numbering starts at startNumber (spec default 1). At 100 TB of
    video this is the fan-out that turns ladder picks into a fetch
    frontier — the blow-up happens inside whole-stage codegen and
    shuffles only if the consumer joins."""
    from pyspark.sql import functions as F
    start = F.coalesce(F.col("start_number"), F.lit(1))
    # integer `div` (truncating == DuckDB // on non-negatives): a
    # double-precision floor would wobble past 2^52
    n_segs = F.expr("(mpd_duration_ms + seg_duration_ms - 1) "
                    "div seg_duration_ms")
    eligible = rows.where(F.col("media_template").isNotNull()
                          & F.col("seg_duration_ms").isNotNull()
                          & (F.col("seg_duration_ms") > 0)
                          & F.col("mpd_duration_ms").isNotNull())
    return (eligible
            .select("mpd_url", "rep_id", "media_template",
                    F.explode(F.sequence(
                        start, start + n_segs - F.lit(1)))
                    .alias("seg_number"))
            .select("mpd_url", "rep_id", "seg_number",
                    F.replace(F.col("media_template"),
                              F.lit("$Number$"),
                              F.col("seg_number").cast("string"))
                    .alias("seg_uri")))


ENCLOSURE_DDL = ("feed_kind string, page_url string, pos int, "
                 "url string, mime string, length_bytes long, "
                 "duration_ms long")


def feed_enclosures_from_blobs(blobs: DataFrame) -> DataFrame:
    """RSS/Atom feed shards (a ``content binary`` column) -> one row
    per media attachment (ENCLOSURE_DDL) — the podcast/audio
    discovery channel, the RSS sibling of sitemap_media
    (extractor.feedx.parse_feed_enclosures is the Spark-free oracle).
    Map-only; the rows join the fetch frontier on url and the
    audio-budget planner on duration_ms/length_bytes."""
    from ..extractor.feedx import parse_feed_enclosures

    cols = [f.split()[0] for f in ENCLOSURE_DDL.split(", ")]

    def rows_of(blob):
        for r in parse_feed_enclosures(
                bytes(blob) if blob is not None else b""):
            yield tuple(r[c] for c in cols)

    return flat_map(blobs, ["content"], ENCLOSURE_DDL, rows_of)


def media_fetch_frontier(parts: list[tuple[str, DataFrame]]
                         ) -> DataFrame:
    """Union the media DISCOVERY channels into ONE deduplicated fetch
    frontier: each part is (channel_name, df with a ``url`` column).
    Output (url, channel, n_refs): the winning channel is the
    EARLIEST in the argument order (fixed precedence — e.g. sitemap
    declarations over in-page scrapes), n_refs counts every mention
    across channels. ONE shuffle on url (map-side combinable min/
    count); at 100 TB the frontier rows are tiny next to payloads and
    the fetcher partitions this table by host downstream."""
    from pyspark.sql import functions as F
    tagged = None
    for prio, (name, df) in enumerate(parts):
        t = df.select(F.col("url"),
                      F.lit(prio).alias("_prio"),
                      F.lit(name).alias("_channel"))
        tagged = t if tagged is None else tagged.unionByName(t)
    won = F.min(F.struct("_prio", "_channel")).alias("_w")
    return (tagged.where(F.col("url").isNotNull())
            .groupBy("url")
            .agg(won, F.count("*").cast("long").alias("n_refs"))
            .select("url", F.col("_w._channel").alias("channel"),
                    "n_refs"))


MHTML_RES_DDL = (
    "url string, snapshot_url string, pos int, content_type string, "
    "content_location string, content_id string, is_root boolean, "
    "size int")

MHTML_PAGE_DDL = ("url string, snapshot_url string, title string, "
                  "text string")


def read_mhtml_resources(df: DataFrame, url_col: str = "url",
                         payload_col: str = "payload") -> DataFrame:
    """(url, MHTML payload) rows -> one row per MIME part in tree
    order (the index-only resource census — payload bytes stay in
    the archive, the WACZ pattern). Pure parse:
    ``extractor.mhtmlx.parse_mhtml`` (golden-pinned); non-MHTML
    payloads yield zero rows. Map-only."""
    from ..extractor.mhtmlx import parse_mhtml

    def rows_of(url, payload):
        d = parse_mhtml(bytes(payload) if payload is not None else None)
        for p in d["parts"]:
            size = min(p["size"], 2**31 - 1)  # Int32 clamp
            yield (url, d["url"], p["pos"], p["content_type"],
                   p["content_location"], p["content_id"],
                   p["pos"] == d["root_pos"], size)

    return flat_map(df, [url_col, payload_col], MHTML_RES_DDL, rows_of)


def read_mhtml_pages(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, MHTML payload) -> at most one page row: the root HTML
    part through the SAME htmlx main-content pipeline every other
    format uses (mailx precedent). Non-MHTML or non-HTML-root
    payloads yield zero rows. Map-only."""
    from ..extractor.htmlx import extract_html
    from ..extractor.mhtmlx import root_html

    def rows_of(url, payload):
        snap, html = root_html(
            bytes(payload) if payload is not None else None)
        if html:
            text, _spans, _score, title = extract_html(html)
            yield url, snap, title, text

    return flat_map(df, [url_col, payload_col], MHTML_PAGE_DDL, rows_of)


HAR_ENTRY_DDL = (
    "url string, pos int, pageref string, started string, "
    "method string, request_url string, status int, "
    "status_text string, mime string, body_size int, "
    "content_size int, time_ms double, server_ip string, "
    "http_version string")

HAR_PAGE_DDL = (
    "url string, page_id string, started string, title string, "
    "on_content_load_ms double, on_load_ms double")


def read_har_entries(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, HAR payload) -> one row per log entry (index-only
    capture view, the WACZ pattern). Pure parse:
    ``extractor.harx.parse_har`` (golden-pinned). Map-only."""
    from ..extractor.harx import parse_har

    def rows_of(url, payload):
        d = parse_har(bytes(payload) if payload is not None else None)
        for e in d["entries"]:
            yield (url, e["pos"], e["pageref"], e["started"],
                   e["method"], e["request_url"], e["status"],
                   e["status_text"], e["mime"], e["body_size"],
                   e["content_size"], e["time_ms"], e["server_ip"],
                   e["http_version"])

    return flat_map(df, [url_col, payload_col], HAR_ENTRY_DDL, rows_of)


def read_har_pages(df: DataFrame, url_col: str = "url",
                   payload_col: str = "payload") -> DataFrame:
    """(url, HAR payload) -> one row per log page. Map-only."""
    from ..extractor.harx import parse_har

    def rows_of(url, payload):
        d = parse_har(bytes(payload) if payload is not None else None)
        for p in d["pages"]:
            yield (url, p["page_id"], p["started"], p["title"],
                   p["on_content_load_ms"], p["on_load_ms"])

    return flat_map(df, [url_col, payload_col], HAR_PAGE_DDL, rows_of)


VCARD_PROPS_DDL = ("url string, card int, pos int, grp string, "
                   "name string, types string, value string")


def read_vcard_props(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, vCard payload) -> one row per property per card in
    source order (flat model, the bibtex_fields pattern). Pure
    parse: ``extractor.vcardx.parse_vcards`` (golden-pinned).
    Map-only."""
    from ..extractor.vcardx import parse_vcards

    def rows_of(url, payload):
        for c in parse_vcards(
                bytes(payload) if payload is not None else None):
            for pos, grp, name, types, value in c["props"]:
                yield url, c["idx"], pos, grp, name, types, value

    return flat_map(df, [url_col, payload_col], VCARD_PROPS_DDL,
                    rows_of)


GPX_POINTS_DDL = (
    "url string, kind string, trk int, trk_name string, seg int, "
    "pt int, name string, lat double, lon double, ele double, "
    "time string, epoch bigint")


def read_gpx_points(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, GPX payload) -> one row per trackpoint/waypoint in
    document order. Pure parse: ``extractor.gpxx.parse_gpx``
    (golden-pinned; coordinates range-gated, epochs integer
    days-from-civil). Map-only."""
    from ..extractor.gpxx import parse_gpx

    def rows_of(url, payload):
        for r in parse_gpx(bytes(payload) if payload is not None else None):
            yield (url, r["kind"], r["trk"], r["trk_name"], r["seg"],
                   r["pt"], r["name"], r["lat"], r["lon"], r["ele"],
                   r["time"], r["epoch"])

    return flat_map(df, [url_col, payload_col], GPX_POINTS_DDL, rows_of)


BOOKMARK_ROWS_DDL = (
    "url string, pos int, folder string, href string, "
    "title string, add_date bigint, last_modified bigint, "
    "tags string")


def read_bookmarks(df: DataFrame, url_col: str = "url",
                   payload_col: str = "payload") -> DataFrame:
    """(url, Netscape bookmark export) -> one row per <A> entry in
    document order with its "/"-joined folder path. Pure parse:
    ``extractor.bookmarkx.parse_bookmarks`` (golden-pinned).
    Map-only."""
    from ..extractor.bookmarkx import parse_bookmarks

    def rows_of(url, payload):
        for r in parse_bookmarks(
                bytes(payload) if payload is not None else None):
            yield (url, r["pos"], r["folder"], r["href"], r["title"],
                   r["add_date"], r["last_modified"], r["tags"])

    return flat_map(df, [url_col, payload_col], BOOKMARK_ROWS_DDL,
                    rows_of)


WEBMANIFEST_DDL = (
    "url string, name string, short_name string, start_url string, "
    "scope string, display string, theme_color string, "
    "background_color string, lang string, n_icons int")

MANIFEST_ICONS_DDL = ("url string, pos int, src string, "
                      "sizes string, type string, purpose string")


def read_webmanifests(df: DataFrame, url_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """(url, manifest.json payload) -> one row per valid manifest.
    Pure parse: ``extractor.manifestx.parse_manifest``. Map-only."""
    from ..extractor.manifestx import parse_manifest

    def rows_of(url, payload):
        d = parse_manifest(bytes(payload) if payload is not None else None)
        if d is not None:
            yield (url, d["name"], d["short_name"], d["start_url"],
                   d["scope"], d["display"], d["theme_color"],
                   d["background_color"], d["lang"], len(d["icons"]))

    return flat_map(df, [url_col, payload_col], WEBMANIFEST_DDL,
                    rows_of)


def read_manifest_icons(df: DataFrame, url_col: str = "url",
                        payload_col: str = "payload") -> DataFrame:
    """(url, manifest.json payload) -> one row per icon entry with
    a string src. Map-only."""
    from ..extractor.manifestx import parse_manifest

    def rows_of(url, payload):
        d = parse_manifest(bytes(payload) if payload is not None else None)
        if d is not None:
            for pos, src, sizes, typ, purpose in d["icons"]:
                yield url, pos, src, sizes, typ, purpose

    return flat_map(df, [url_col, payload_col], MANIFEST_ICONS_DDL,
                    rows_of)


PARQUET_CHUNKS_DDL = (
    "file string, row_group_id bigint, row_group_num_rows bigint, "
    "column_id bigint, file_offset bigint, num_values bigint, "
    "path_in_schema string, type string, compression string, "
    "encodings string, data_page_offset bigint, "
    "dictionary_page_offset bigint, total_compressed_size bigint, "
    "total_uncompressed_size bigint")


def read_parquet_footers(df: DataFrame, file_col: str = "file",
                         payload_col: str = "payload") -> DataFrame:
    """(file, parquet bytes) -> one row per column chunk from the
    footer, WITHOUT any parquet library (extractor/parquetx.py —
    from-scratch Thrift compact). At 100 TB this is the layout
    auditor: only footers travel, never data pages (pair with
    ranged reads of the last N KB). Map-only."""
    from ..extractor.parquetx import parse_footer

    cols = [f.split()[0] for f in PARQUET_CHUNKS_DDL.split(", ")][1:]

    def rows_of(fname, payload):
        d = parse_footer(bytes(payload) if payload is not None else None)
        if d is not None:
            for c in d["chunks"]:
                yield (fname, *(c[k] for k in cols))

    return flat_map(df, [file_col, payload_col], PARQUET_CHUNKS_DDL,
                    rows_of)


CSS_REFS_DDL = ("url string, pos int, kind string, ref string, "
                "is_data boolean")


def read_css_refs(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, stylesheet payload) -> one row per @import/url()
    reference with its syntactic kind. Pure parse:
    ``extractor.cssx.parse_css_refs`` (golden-pinned). Map-only."""
    from ..extractor.cssx import parse_css_refs

    def rows_of(url, payload):
        for r in parse_css_refs(
                bytes(payload) if payload is not None else None):
            yield url, r["pos"], r["kind"], r["url"], r["is_data"]

    return flat_map(df, [url_col, payload_col], CSS_REFS_DDL, rows_of)


SOURCEMAP_SOURCES_DDL = (
    "url string, file string, source_root string, pos int, "
    "source string, has_content boolean, n_segments int")


def read_sourcemap_sources(df: DataFrame, url_col: str = "url",
                           payload_col: str = "payload"
                           ) -> DataFrame:
    """(url, .map payload) -> one row per original source with its
    VLQ-decoded segment count. Pure parse:
    ``extractor.srcmapx.parse_sourcemap`` (golden-pinned).
    Map-only."""
    from ..extractor.srcmapx import parse_sourcemap

    def rows_of(url, payload):
        d = parse_sourcemap(
            bytes(payload) if payload is not None else None)
        if d is not None:
            for pos, src, has_c, nseg in d["sources"]:
                yield (url, d["file"], d["source_root"], pos, src,
                       has_c, nseg)

    return flat_map(df, [url_col, payload_col], SOURCEMAP_SOURCES_DDL,
                    rows_of)


# mtime deliberately NOT exposed: office fixture builders stamp
# wall-clock DOS times, so it cannot ride a deterministic golden
# (the extractor still reads it — pinned by test_zipx vectors)
ZIP_DIR_DDL = (
    "url string, pos int, name string, method string, "
    "crc32 string, compressed_size bigint, "
    "uncompressed_size bigint, local_offset bigint, "
    "is_dir boolean, utf8_name boolean")


def read_zip_directory(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """(url, zip payload) -> one row per central-directory entry,
    WITHOUT inflating anything (extractor/zipx.py — stdlib-parity
    pinned). The container-layout auditor: at 100 TB only file
    tails travel (the parquet-footer pattern). Map-only."""
    from ..extractor.zipx import parse_zip_directory

    cols = [f.split()[0] for f in ZIP_DIR_DDL.split(", ")][1:]

    def rows_of(url, payload):
        d = parse_zip_directory(
            bytes(payload) if payload is not None else None)
        if d is not None:
            for e in d["entries"]:
                yield (url, *(e[c] for c in cols))

    return flat_map(df, [url_col, payload_col], ZIP_DIR_DDL, rows_of)


NTRIPLES_DDL = (
    "url string, pos int, subj string, subj_kind string, "
    "pred string, obj string, obj_kind string, obj_lang string, "
    "obj_datatype string")


def read_ntriples(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, .nt payload) -> one row per valid triple (malformed
    lines skip — dumps at scale always carry a few). Pure parse:
    ``extractor.ntriplesx.parse_ntriples`` (golden-pinned).
    Map-only."""
    from ..extractor.ntriplesx import parse_ntriples

    def rows_of(url, payload):
        d = parse_ntriples(bytes(payload) if payload is not None else None)
        for t in d["triples"]:
            yield (url, *t)

    return flat_map(df, [url_col, payload_col], NTRIPLES_DDL, rows_of)


GEOJSON_DDL = (
    "url string, pos int, gtype string, n_geoms int, n_points int, "
    "minx double, miny double, maxx double, maxy double, "
    "name string, n_props int")


def read_geojson_features(df: DataFrame, url_col: str = "url",
                          payload_col: str = "payload") -> DataFrame:
    """(url, GeoJSON payload) -> one row per feature (invalid
    geometries surface as gtype 'invalid', junk payloads yield no
    rows). Pure parse: ``extractor.geojsonx.parse_geojson``
    (golden-pinned). Map-only."""
    from ..extractor.geojsonx import parse_geojson

    def rows_of(url, payload):
        d = parse_geojson(bytes(payload) if payload is not None else None)
        for t in d["features"]:
            yield (url, *t)

    return flat_map(df, [url_col, payload_col], GEOJSON_DDL, rows_of)


TOML_DDL = ("url string, pos int, ok boolean, key_path string, "
            "vtype string, value_text string")


def read_toml_records(df: DataFrame, url_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """(url, TOML bytes) -> one row per leaf value with the dotted
    key path (array elements as ``k[i]``), a type label, and a
    canonical text rendering; a document that fails the grammar
    yields ONE ok=false row (parse-rate audits need the rejects).
    Pure parse: ``extractor.tomlx.parse_toml`` (tomllib-pinned,
    golden-pinned). Map-only."""
    from ..extractor.tomlx import flatten, parse_toml

    def rows_of(url, payload):
        d = parse_toml(bytes(payload) if payload is not None else None)
        if not d["ok"]:
            yield url, 0, False, None, None, None
            return
        for pos, key_path, vtype, text in flatten(d["doc"]):
            yield url, pos, True, key_path, vtype, text

    return flat_map(df, [url_col, payload_col], TOML_DDL, rows_of)


COMP_DDL = ("url string, pos int, format string, kind string, "
            "comp_size long, raw_size long, extra string, "
            "ok boolean")


def read_compressed_frames(df: DataFrame, url_col: str = "url",
                           payload_col: str = "payload"
                           ) -> DataFrame:
    """(url, compressed container bytes) -> one row per member/
    frame: gzip/bzip2/xz decoded via stdlib (real raw sizes,
    ISIZE-verified), zstd/lz4 walked structurally from their block
    headers. Pure parse: ``extractor.compx.parse_compressed``
    (golden-pinned). Map-only; unrecognized payloads yield no
    rows."""
    from ..extractor.compx import parse_compressed

    def rows_of(url, payload):
        d = parse_compressed(
            bytes(payload) if payload is not None else None)
        if d["format"] is None:
            return
        for pos, kind, comp, raw, extra, ok in d["frames"]:
            yield url, pos, d["format"], kind, comp, raw, extra, ok

    return flat_map(df, [url_col, payload_col], COMP_DDL, rows_of)


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


KML_DDL = ("url string, pos int, folder string, name string, "
           "gtype string, n_points int, min_lon double, "
           "min_lat double, max_lon double, max_lat double, "
           "t_begin long, t_end long")


def read_kml_placemarks(df: DataFrame, url_col: str = "url",
                        payload_col: str = "payload") -> DataFrame:
    """(url, KML bytes) -> one row per Placemark with folder path,
    geometry census, exact bbox, and TimeStamp/TimeSpan epochs —
    the gpxx sibling. Pure parse: ``extractor.kmlx.parse_kml``
    (golden-pinned). Map-only; junk yields no rows."""
    from ..extractor.kmlx import parse_kml

    cols = [f.split()[0] for f in KML_DDL.split(", ")][1:]

    def rows_of(url, payload):
        for r in parse_kml(bytes(payload) if payload is not None else None):
            yield (url, *(r[c] for c in cols))

    return flat_map(df, [url_col, payload_col], KML_DDL, rows_of)


PGP_DDL = ("url string, pos int, row_kind string, kind string, "
           "n_headers int, crc_ok boolean, tag int, name string, "
           "length int, version int, algorithm string, "
           "created string, user_id string, fingerprint string")


def read_pgp_blocks(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, armored-or-binary OpenPGP bytes) -> one 'block' row
    (armor kind, header census, recomputed CRC24) plus one
    'packet' row per packet (key versions/algorithms/creation,
    user ids, v4 SHA-1 fingerprints). Pure parse:
    ``extractor.pgpx.extract_pgp`` (gpg-parity-pinned). Map-only;
    junk yields no rows."""
    from ..extractor.pgpx import extract_pgp

    def rows_of(url, payload):
        d = extract_pgp(bytes(payload) if payload is not None else None)
        if d is None:
            return
        yield (url, 0, "block", d["kind"], d["n_headers"], d["crc_ok"],
               None, None, None, None, None, None, None, None)
        for p in d["packets"]:
            yield (url, p["pos"], "packet", None, None, None, p["tag"],
                   p["name"], p["length"], p["version"],
                   p["algorithm"], p["created"], p["user_id"],
                   p["fingerprint"])

    return flat_map(df, [url_col, payload_col], PGP_DDL, rows_of)


def read_desktop_entries(df: DataFrame, url_col: str = "url",
                         payload_col: str = "payload") -> DataFrame:
    """(url, .desktop bytes) -> one row per (group, key, locale,
    value) — the bibtex_fields flat shape for freedesktop entries.
    Pure parse: ``extractor.desktopx.parse_desktop``. Map-only."""
    from ..extractor.desktopx import parse_desktop

    def rows_of(url, payload):
        for pos, group, key, locale, value in parse_desktop(
                bytes(payload) if payload is not None else None):
            yield url, pos, group, key, locale, value

    return flat_map(df, [url_col, payload_col],
                    "url string, pos int, grp string, key string, "
                    "locale string, value string", rows_of)


AVI_DDL = ("url string, pos int, row_kind string, "
           "us_per_frame int, fps_milli int, width int, "
           "height int, total_frames int, n_streams int, "
           "stream_kind string, handler string, rate_milli long, "
           "length int")


def read_avi_headers(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, AVI bytes) -> one 'file' row (fps/dims/frames) plus
    one 'stream' row per strh — the legacy-video sibling of
    mp4_metadata. Pure parse: ``extractor.avix.parse_avi``
    (golden-pinned). Map-only; junk/non-AVI-RIFF yields no rows."""
    from ..extractor.avix import parse_avi

    def rows_of(url, payload):
        d = parse_avi(bytes(payload) if payload is not None else None)
        if d is None:
            return
        yield (url, 0, "file", d["us_per_frame"], d["fps_milli"],
               d["width"], d["height"], d["total_frames"],
               d["n_streams_declared"], None, None, None, None)
        for pos, kind, handler, rate_milli, length in d["streams"]:
            yield (url, pos, "stream", None, None, None, None, None,
                   None, kind, handler, rate_milli, length)

    return flat_map(df, [url_col, payload_col], AVI_DDL, rows_of)
