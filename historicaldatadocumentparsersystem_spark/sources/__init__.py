"""Sources: readers for the documents table and auxiliary formats.

Reference scan/source inventory (SURVEY.md §2.1): the directory walk S1
becomes a table scan; format dispatch happens per row by payload sniff
(extractor.sniff), not per file extension. S5 (CSV rows regrouped 10 per
chunk, ``unstructured_chunker.py:65-78``) is re-expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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
    import pandas as pd

    from ..extractor.pptx import extract_pptx

    def parse(batches):
        for b in batches:
            urls, slides, shapes, paras, kinds, texts = ([] for _ in
                                                         range(6))
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    els = extract_pptx(bytes(payload))
                except Exception:
                    continue
                for el in els:
                    urls.append(url)
                    slides.append(el.slide)
                    shapes.append(el.shape)
                    paras.append(el.para)
                    kinds.append(el.kind)
                    texts.append(el.text)
            yield pd.DataFrame({
                "url": urls,
                "slide": pd.array(slides, dtype="int32"),
                "shape": pd.array(shapes, dtype="int32"),
                "para": pd.array(paras, dtype="int32"),
                "kind": kinds, "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, PPTX_ELEMENTS_DDL))


DOCX_ELEMENTS_DDL = "url string, para int, kind string, text string"


def read_docx_elements(df: DataFrame, url_col: str = "url",
                       payload_col: str = "payload") -> DataFrame:
    """S6: (url, docx payload) rows -> ordered paragraph elements.

    Same shape as :func:`read_pptx_elements`; the per-row parse is the
    pure-Python ``extractor.docx.extract_docx`` (reference
    ``unstructured_chunker.py:79-91`` Docx2txt extraction subset).
    """
    import pandas as pd

    from ..extractor.docx import extract_docx

    def parse(batches):
        for b in batches:
            urls, paras, kinds, texts = [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    els = extract_docx(bytes(payload))
                except Exception:
                    continue
                for el in els:
                    urls.append(url)
                    paras.append(el.para)
                    kinds.append(el.kind)
                    texts.append(el.text)
            yield pd.DataFrame({
                "url": urls,
                "para": pd.array(paras, dtype="int32"),
                "kind": kinds, "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, DOCX_ELEMENTS_DDL))


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
    import pandas as pd

    from ..extractor.odtx import extract_odt

    def parse(batches):
        for b in batches:
            urls, paras, kinds, levels, texts = [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    els = extract_odt(bytes(payload))
                except Exception:
                    continue
                for el in els:
                    urls.append(url)
                    paras.append(el.para)
                    kinds.append(el.kind)
                    levels.append(el.level)
                    texts.append(el.text)
            yield pd.DataFrame({
                "url": urls,
                "para": pd.array(paras, dtype="int32"),
                "kind": kinds,
                "level": pd.array(levels, dtype="int32"),
                "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, ODT_ELEMENTS_DDL))


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
    import pandas as pd

    from ..extractor.ipynbx import parse_notebook

    def parse(batches):
        for b in batches:
            urls, idxs, types, langs = [], [], [], []
            srcs, execs, nouts, otexts = [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    cells = parse_notebook(
                        bytes(payload) if payload is not None else None)
                except Exception:
                    continue
                for c in cells:
                    urls.append(url)
                    idxs.append(c.idx)
                    types.append(c.cell_type)
                    langs.append(c.lang)
                    srcs.append(c.source)
                    execs.append(c.exec_count)
                    nouts.append(c.n_outputs)
                    otexts.append(c.output_text)
            yield pd.DataFrame({
                "url": urls,
                "cell_idx": pd.array(idxs, dtype="int32"),
                "cell_type": types,
                "lang": langs,
                "source": srcs,
                "exec_count": pd.array(execs, dtype="Int32"),
                "n_outputs": pd.array(nouts, dtype="int32"),
                "output_text": otexts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, IPYNB_CELLS_DDL))


def read_latex_elements(df: DataFrame, url_col: str = "url",
                        text_col: str = "tex") -> DataFrame:
    """(url, latex source) rows -> ordered elements in the SHARED
    (url, para, kind, level, text) office/outline schema (the detex
    analog; ``chunking.section_chunks`` composes directly).  The
    per-row parse is the pure-Python ``extractor.texx.parse_latex``."""
    import pandas as pd

    from ..extractor.texx import parse_latex

    def parse(batches):
        for b in batches:
            urls, paras, kinds, levels, texts = [], [], [], [], []
            for url, src in zip(b[url_col], b[text_col]):
                try:
                    els = parse_latex(src if src is not None else "")
                except Exception:
                    continue
                for el in els:
                    urls.append(url)
                    paras.append(el.para)
                    kinds.append(el.kind)
                    levels.append(el.level)
                    texts.append(el.text)
            yield pd.DataFrame({
                "url": urls,
                "para": pd.array(paras, dtype="int32"),
                "kind": kinds,
                "level": pd.array(levels, dtype="int32"),
                "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(text_col).alias(text_col))
            .mapInPandas(parse, ODT_ELEMENTS_DDL))


WIKI_LINKS_DDL = "url string, pos int, target string, label string"

WIKI_PAGES_DDL = ("url string, page_idx int, title string, ns int, "
                  "page_id long, redirect string, wikitext string")


def read_wiki_dump(df: DataFrame, url_col: str = "url",
                   payload_col: str = "payload") -> DataFrame:
    """(url, MediaWiki export XML payload) rows -> one row per page
    (the pages-articles.xml shape Wikipedia actually ships).  Chains
    into read_wikitext_elements / read_wiki_links on the wikitext
    column.  Junk payloads yield no rows (F5)."""
    import pandas as pd

    from ..extractor.wikix import parse_wiki_dump

    def parse(batches):
        for b in batches:
            urls, idxs, titles, nss, pids, reds, texts = \
                [], [], [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    pages = parse_wiki_dump(
                        bytes(payload) if payload is not None else None)
                except Exception:
                    continue
                for p in pages:
                    urls.append(url)
                    idxs.append(p.idx)
                    titles.append(p.title)
                    nss.append(p.ns)
                    pids.append(p.page_id)
                    reds.append(p.redirect)
                    texts.append(p.wikitext)
            yield pd.DataFrame({
                "url": urls,
                "page_idx": pd.array(idxs, dtype="int32"),
                "title": titles,
                "ns": pd.array(nss, dtype="int32"),
                "page_id": pd.array(pids, dtype="int64"),
                "redirect": reds,
                "wikitext": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, WIKI_PAGES_DDL))


def read_wikitext_elements(df: DataFrame, url_col: str = "url",
                           text_col: str = "wikitext") -> DataFrame:
    """(url, wikitext) rows -> ordered elements in the SHARED
    (url, para, kind, level, text) office/outline schema — wiki pages
    section exactly like office documents (``chunking.section_chunks``
    composes directly).  The per-row parse is the pure-Python
    ``extractor.wikix.parse_wikitext``."""
    import pandas as pd

    from ..extractor.wikix import parse_wikitext

    def parse(batches):
        for b in batches:
            urls, paras, kinds, levels, texts = [], [], [], [], []
            for url, src in zip(b[url_col], b[text_col]):
                try:
                    els = parse_wikitext(src if src is not None else "")
                except Exception:
                    continue
                for el in els:
                    urls.append(url)
                    paras.append(el.para)
                    kinds.append(el.kind)
                    levels.append(el.level)
                    texts.append(el.text)
            yield pd.DataFrame({
                "url": urls,
                "para": pd.array(paras, dtype="int32"),
                "kind": kinds,
                "level": pd.array(levels, dtype="int32"),
                "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(text_col).alias(text_col))
            .mapInPandas(parse, ODT_ELEMENTS_DDL))


def read_wiki_links(df: DataFrame, url_col: str = "url",
                    text_col: str = "wikitext") -> DataFrame:
    """(url, wikitext) rows -> internal links in document order
    (File:/Image:/Category: and template/table/ref positions
    excluded — they do not render as article links)."""
    import pandas as pd

    from ..extractor.wikix import wiki_links

    def parse(batches):
        for b in batches:
            urls, poss, targets, labels = [], [], [], []
            for url, src in zip(b[url_col], b[text_col]):
                try:
                    links = wiki_links(src if src is not None else "")
                except Exception:
                    continue
                for lk in links:
                    urls.append(url)
                    poss.append(lk.pos)
                    targets.append(lk.target)
                    labels.append(lk.label)
            yield pd.DataFrame({
                "url": urls,
                "pos": pd.array(poss, dtype="int32"),
                "target": targets,
                "label": labels})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(text_col).alias(text_col))
            .mapInPandas(parse, WIKI_LINKS_DDL))


TAR_MEMBERS_DDL = ("url string, member_idx int, name string, "
                   "size long, mtime long, typeflag string, "
                   "payload binary")


def read_tar_members(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, tar payload) rows -> one row per archive member (the
    arXiv-bulk shape: tars of .tex/.html sources).  Member payloads
    stay binary so any per-format reader chains on them.  Junk
    payloads yield no rows (F5)."""
    import pandas as pd

    from ..extractor.tarx import list_tar

    def parse(batches):
        for b in batches:
            urls, idxs, names, sizes = [], [], [], []
            mtimes, flags, payloads = [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    members = list_tar(
                        bytes(payload) if payload is not None else None)
                except Exception:
                    continue
                for m in members:
                    urls.append(url)
                    idxs.append(m.idx)
                    names.append(m.name)
                    sizes.append(m.size)
                    mtimes.append(m.mtime)
                    flags.append(m.typeflag)
                    payloads.append(m.payload)
            yield pd.DataFrame({
                "url": urls,
                "member_idx": pd.array(idxs, dtype="int32"),
                "name": names,
                "size": pd.array(sizes, dtype="int64"),
                "mtime": pd.array(mtimes, dtype="int64"),
                "typeflag": flags,
                "payload": payloads})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, TAR_MEMBERS_DDL))


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
    import pandas as pd

    from ..extractor.mailx import parse_mbox

    def parse(batches):
        for b in batches:
            cols: dict[str, list] = {k: [] for k in (
                "url", "msg_idx", "message_id", "from_addr", "to_addrs",
                "subject", "date_ts", "in_reply_to", "text", "n_parts",
                "has_html", "n_attachments")}
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    msgs = parse_mbox(
                        bytes(payload) if payload is not None else None)
                except Exception:
                    continue
                for m in msgs:
                    cols["url"].append(url)
                    cols["msg_idx"].append(m.idx)
                    cols["message_id"].append(m.message_id)
                    cols["from_addr"].append(m.from_addr)
                    cols["to_addrs"].append(m.to_addrs)
                    cols["subject"].append(m.subject)
                    cols["date_ts"].append(
                        m.date_ts.replace(tzinfo=None)
                        if m.date_ts is not None else None)
                    cols["in_reply_to"].append(m.in_reply_to)
                    cols["text"].append(m.text)
                    cols["n_parts"].append(len(m.parts))
                    cols["has_html"].append(m.has_html)
                    cols["n_attachments"].append(m.n_attachments)
            out = pd.DataFrame(cols)
            out["msg_idx"] = pd.array(cols["msg_idx"], dtype="int32")
            out["n_parts"] = pd.array(cols["n_parts"], dtype="int32")
            out["n_attachments"] = pd.array(cols["n_attachments"],
                                            dtype="int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, MBOX_MESSAGES_DDL))


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
    import pandas as pd

    from ..extractor.feedx import parse_opml

    def parse(batches):
        cols = ("pos", "category", "title", "xml_url", "html_url")
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                if payload is None:
                    continue
                for rec in parse_opml(bytes(payload)):
                    rows.append((url, *(rec[c] for c in cols)))
            out = pd.DataFrame(
                rows, columns=("url",) + cols)
            out["pos"] = out["pos"].astype("Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, OPML_FEEDS_DDL))


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
    import pandas as pd

    from ..extractor.subx import parse_subtitles

    def parse(batches):
        for b in batches:
            urls, poss, starts, ends, texts = [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                if payload is None:
                    continue
                for pos, a, z, t in parse_subtitles(bytes(payload)):
                    urls.append(url)
                    poss.append(pos)
                    starts.append(a)
                    ends.append(z)
                    texts.append(t)
            yield pd.DataFrame({
                "url": urls,
                "pos": pd.array(poss, dtype="int32"),
                "start_ms": pd.array(starts, dtype="int64"),
                "end_ms": pd.array(ends, dtype="int64"),
                "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, SUBTITLE_CUES_DDL))


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
    import pandas as pd

    from ..extractor.diffx import parse_unified_diff

    fcols = ("file_idx", "old_path", "new_path", "kind", "is_binary",
             "similarity")
    hcols = ("hunk_idx", "old_start", "old_len", "new_start",
             "new_len", "section", "n_added", "n_removed")

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                if payload is None:
                    continue
                for f in parse_unified_diff(bytes(payload)):
                    head = (url,) + tuple(f[c] for c in fcols)
                    if not f["hunks"]:
                        rows.append(head + (None,) * len(hcols))
                    for h in f["hunks"]:
                        rows.append(head
                                    + tuple(h[c] for c in hcols))
            out = pd.DataFrame(rows, columns=("url",) + fcols + hcols)
            for c in ("file_idx", "similarity", "hunk_idx",
                      "old_start", "old_len", "new_start", "new_len",
                      "n_added", "n_removed"):
                out[c] = out[c].astype("Int32")
            out["is_binary"] = out["is_binary"].astype("boolean")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, DIFF_HUNKS_DDL))


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
    import pandas as pd

    from ..extractor.waczx import parse_wacz

    cols = ("index_path", "urlkey", "ts", "url", "mime", "status",
            "digest", "length", "offset", "filename")

    def parse(batches):
        for b in batches:
            rows = []
            for wacz, payload in zip(b[url_col], b[payload_col]):
                if payload is None:
                    continue
                for cap in parse_wacz(bytes(payload))["captures"]:
                    rows.append((wacz,)
                                + tuple(cap[c] for c in cols))
            out = pd.DataFrame(rows, columns=("wacz",) + cols)
            out["status"] = out["status"].astype("Int32")
            out["length"] = out["length"].astype("Int64")
            out["offset"] = out["offset"].astype("Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, WACZ_CAPTURES_DDL))


def read_wacz_resources(df: DataFrame, url_col: str = "url",
                        payload_col: str = "payload") -> DataFrame:
    """(wacz url, WACZ payload) rows -> one row per DECLARED
    datapackage resource with the integrity audit against the actual
    zip members (size_ok / sha256 hash_ok; NULL when the manifest
    declares nothing to check, false when the member is missing) —
    the hand-off acceptance gate a pipeline runs before ingesting a
    delivered archive. Map-only 1->N (F5 on junk)."""
    import pandas as pd

    from ..extractor.waczx import parse_wacz

    cols = ("path", "declared_bytes", "actual_bytes", "size_ok",
            "hash_ok")

    def parse(batches):
        for b in batches:
            rows = []
            for wacz, payload in zip(b[url_col], b[payload_col]):
                if payload is None:
                    continue
                for res in parse_wacz(bytes(payload))["resources"]:
                    rows.append((wacz,)
                                + tuple(res[c] for c in cols))
            out = pd.DataFrame(rows, columns=("wacz",) + cols)
            out["declared_bytes"] = \
                out["declared_bytes"].astype("Int64")
            out["actual_bytes"] = out["actual_bytes"].astype("Int64")
            out["size_ok"] = out["size_ok"].astype("boolean")
            out["hash_ok"] = out["hash_ok"].astype("boolean")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, WACZ_RESOURCES_DDL))


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
    import pandas as pd

    from ..extractor.icsx import parse_ics

    def parse(batches):
        for b in batches:
            cols: dict[str, list] = {
                "url": [], "pos": [], "uid": [], "summary": [],
                "location": [], "start_ms": [], "end_ms": [],
                "all_day": [], "tzid": [], "freq": [],
                "rrule_interval": [], "rrule_count": [],
                "until_ms": [], "status": []}
            for url, payload in zip(b[url_col], b[payload_col]):
                if payload is None:
                    continue
                for ev in parse_ics(bytes(payload)):
                    cols["url"].append(url)
                    for k, v in ev.items():
                        cols[k].append(v)
            yield pd.DataFrame({
                "url": cols["url"],
                "pos": pd.array(cols["pos"], dtype="int32"),
                "uid": cols["uid"],
                "summary": cols["summary"],
                "location": cols["location"],
                "start_ms": pd.array(cols["start_ms"], dtype="int64"),
                "end_ms": pd.array(cols["end_ms"], dtype="int64"),
                "all_day": pd.array(cols["all_day"], dtype="boolean"),
                "tzid": cols["tzid"],
                "freq": cols["freq"],
                "rrule_interval": pd.array(cols["rrule_interval"],
                                           dtype="Int32"),
                "rrule_count": pd.array(cols["rrule_count"],
                                        dtype="Int32"),
                "until_ms": pd.array(cols["until_ms"], dtype="Int64"),
                "status": cols["status"]})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, ICS_EVENTS_DDL))


def read_rtf_elements(df: DataFrame, url_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """(url, rtf payload) rows -> ordered paragraph elements.

    Same shape (and DDL) as :func:`read_odt_elements`; the per-row
    parse is the pure-Python ``extractor.rtfx.extract_rtf`` (the
    legacy-office member of the per-format loader family). Non-RTF
    payloads are skipped (F5); malformed bodies degrade to fewer
    elements inside the tokenizer."""
    import pandas as pd

    from ..extractor.rtfx import extract_rtf

    def parse(batches):
        for b in batches:
            urls, paras, kinds, levels, texts = [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    els = extract_rtf(bytes(payload))
                except Exception:
                    continue
                for el in els:
                    urls.append(url)
                    paras.append(el.para)
                    kinds.append(el.kind)
                    levels.append(el.level)
                    texts.append(el.text)
            yield pd.DataFrame({
                "url": urls,
                "para": pd.array(paras, dtype="int32"),
                "kind": kinds,
                "level": pd.array(levels, dtype="int32"),
                "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, ODT_ELEMENTS_DDL))


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
    import pandas as pd

    from ..extractor.bibx import extract_bib_entries

    def parse(batches):
        for b in batches:
            urls, poss, kinds, keys, fs, vs = [], [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    entries = extract_bib_entries(bytes(payload))
                except Exception:
                    continue
                for e in entries:
                    if not e["fields"]:
                        urls.append(url)
                        poss.append(e["pos"])
                        kinds.append(e["entry_type"])
                        keys.append(e["key"])
                        fs.append(None)
                        vs.append(None)
                    for fname, val in e["fields"]:
                        urls.append(url)
                        poss.append(e["pos"])
                        kinds.append(e["entry_type"])
                        keys.append(e["key"])
                        fs.append(fname)
                        vs.append(val)
            yield pd.DataFrame({
                "url": urls,
                "pos": pd.array(poss, dtype="int32"),
                "entry_type": kinds, "key": keys,
                "field": fs, "value": vs})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, BIB_FIELDS_DDL))


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
    import pandas as pd

    from ..extractor.bibx import _decode
    from ..extractor.frontmx import parse_front_matter

    def parse(batches):
        for b in batches:
            urls, poss, keys, idxs, vals = [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    rows, _ = parse_front_matter(
                        _decode(bytes(payload)))
                except Exception:
                    continue
                for pos, key, idx, val in rows:
                    urls.append(url)
                    poss.append(pos)
                    keys.append(key)
                    idxs.append(idx)
                    vals.append(val)
            yield pd.DataFrame({
                "url": urls,
                "pos": pd.array(poss, dtype="int32"),
                "key": keys,
                "idx": pd.array(idxs, dtype="Int32"),
                "value": vals})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, FRONT_MATTER_DDL))


LLMS_LINKS_DDL = ("url string, pos int, section string, "
                  "name string, href string, description string")


def read_llms_links(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, llms.txt payload) rows -> one row per curated link
    (pos, section, name, href, desc). Pure parse:
    ``extractor.llmstxtx.parse_llms_txt`` (golden-pinned)."""
    import pandas as pd

    from ..extractor.bibx import _decode
    from ..extractor.llmstxtx import parse_llms_txt

    def parse(batches):
        for b in batches:
            urls, poss, secs, names, hrefs, descs = \
                [], [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = parse_llms_txt(_decode(bytes(payload)))
                except Exception:
                    continue
                for pos, sec, name, href, desc in d["links"]:
                    urls.append(url)
                    poss.append(pos)
                    secs.append(sec)
                    names.append(name)
                    hrefs.append(href)
                    descs.append(desc)
            yield pd.DataFrame({
                "url": urls, "pos": pd.array(poss, dtype="int32"),
                "section": secs, "name": names, "href": hrefs,
                "description": descs})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, LLMS_LINKS_DDL))


def read_llms_files(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, llms.txt payload) rows -> one file-level row each:
    title, summary, n_sections, n_links, has_optional (an
    'Optional' section marks crawl-skippable links per the
    proposal)."""
    import pandas as pd

    from ..extractor.bibx import _decode
    from ..extractor.llmstxtx import parse_llms_txt

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = parse_llms_txt(_decode(bytes(payload)))
                except Exception:
                    continue
                rows.append((url, d["title"], d["summary"],
                             len(d["sections"]), len(d["links"]),
                             "optional" in [s.lower() for s in
                                            d["sections"]]))
            out = pd.DataFrame(rows, columns=[
                "url", "title", "summary", "n_sections", "n_links",
                "has_optional"])
            for c in ("n_sections", "n_links"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, "url string, title string, "
                                "summary string, n_sections bigint, "
                                "n_links bigint, "
                                "has_optional boolean"))


CSV_RECORDS_DDL = ("url string, row int, col int, header string, "
                   "value string")


def read_csv_records(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, CSV/DSV payload) rows -> one row per CELL with the
    sniffed dialect applied (SURVEY §2 S5). Pure parse:
    ``extractor.csvx.extract_csv`` (golden-pinned); header cells
    become the ``header`` column (NULL for headerless files or
    ragged overflow columns)."""
    import pandas as pd

    from ..extractor.csvx import extract_csv

    def parse(batches):
        for b in batches:
            urls, rws, cls, hds, vals = [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = extract_csv(bytes(payload))
                except Exception:
                    continue
                for row, col, header, value in d["records"]:
                    urls.append(url)
                    rws.append(row)
                    cls.append(col)
                    hds.append(header)
                    vals.append(value)
            yield pd.DataFrame({
                "url": urls,
                "row": pd.array(rws, dtype="int32"),
                "col": pd.array(cls, dtype="int32"),
                "header": hds, "value": vals})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, CSV_RECORDS_DDL))


def read_csv_meta(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, payload) -> one dialect row per file: sniffed
    delimiter (tab rendered as '\\t'), header flag, data-row count
    and widest row."""
    import pandas as pd

    from ..extractor.csvx import extract_csv

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = extract_csv(bytes(payload))
                except Exception:
                    continue
                recs = d["records"]
                n_rows = (max(r for r, _, _, _ in recs) + 1
                          if recs else 0)
                n_cols = (max(c for _, c, _, _ in recs) + 1
                          if recs else 0)
                rows.append((url,
                             "\\t" if d["delimiter"] == "\t"
                             else d["delimiter"],
                             d["has_header"], n_rows, n_cols))
            out = pd.DataFrame(rows, columns=[
                "url", "delimiter", "has_header", "n_rows",
                "n_cols"])
            for c in ("n_rows", "n_cols"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, "url string, delimiter string, "
                                "has_header boolean, n_rows bigint, "
                                "n_cols bigint"))


XLSX_CELLS_DDL = ("url string, sheet int, sheet_name string, "
                  "row int, col int, cell_type string, value string")


def read_xlsx_cells(df: DataFrame, url_col: str = "url",
                    payload_col: str = "payload") -> DataFrame:
    """(url, XLSX payload) rows -> one row per CELL across all
    sheets (the tabular OOXML sibling of ``read_csv_records``; cell
    schema matches so both feed the same typing profile). Pure
    parse: ``extractor.xlsxx.extract_xlsx`` (golden-pinned);
    non-workbook payloads are skipped."""
    import pandas as pd

    from ..extractor.xlsxx import extract_xlsx

    def parse(batches):
        for b in batches:
            urls, shs, nms, rws, cls, tps, vals = \
                [], [], [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = extract_xlsx(bytes(payload))
                except Exception:
                    continue
                names = d["sheets"]
                for si, row, col, ctype, value in d["cells"]:
                    urls.append(url)
                    shs.append(si)
                    nms.append(names[si])
                    rws.append(row)
                    cls.append(col)
                    tps.append(ctype)
                    vals.append(value)
            yield pd.DataFrame({
                "url": urls,
                "sheet": pd.array(shs, dtype="int32"),
                "sheet_name": nms,
                "row": pd.array(rws, dtype="int32"),
                "col": pd.array(cls, dtype="int32"),
                "cell_type": tps, "value": vals})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, XLSX_CELLS_DDL))


def read_xlsx_sheets(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, payload) -> one row per SHEET (workbook order):
    cell count and the populated extent (max row/col + 1; 0 for an
    empty sheet)."""
    import pandas as pd

    from ..extractor.xlsxx import extract_xlsx

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = extract_xlsx(bytes(payload))
                except Exception:
                    continue
                per: dict[int, list[tuple[int, int]]] = {}
                for si, row, col, _, _ in d["cells"]:
                    per.setdefault(si, []).append((row, col))
                for si, name in enumerate(d["sheets"]):
                    rcs = per.get(si, [])
                    rows.append((
                        url, si, name, len(rcs),
                        max((r for r, _ in rcs), default=-1) + 1,
                        max((c for _, c in rcs), default=-1) + 1))
            out = pd.DataFrame(rows, columns=[
                "url", "sheet", "sheet_name", "n_cells", "n_rows",
                "n_cols"])
            out["sheet"] = pd.array(out["sheet"], dtype="Int32")
            for c in ("n_cells", "n_rows", "n_cols"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, "url string, sheet int, "
                                "sheet_name string, n_cells bigint, "
                                "n_rows bigint, n_cols bigint"))


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
    import pandas as pd

    from ..extractor.pox import extract_po_entries

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    entries = extract_po_entries(bytes(payload))
                except Exception:
                    continue
                for e in entries:
                    rows.append((
                        url, e["pos"], e["ctxt"], e["msgid"],
                        e["msgid_plural"], e["msgstr"],
                        e["n_plurals"], e["fuzzy"], e["obsolete"],
                        " ".join(e["refs"])))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "ctxt", "msgid", "msgid_plural",
                "msgstr", "n_plurals", "fuzzy", "obsolete", "refs"])
            for c in ("pos", "n_plurals"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, PO_ENTRIES_DDL))


TMX_ROWS_DDL = ("url string, tu int, tuid string, pos int, "
                "srclang string, lang string, seg string")


def read_tmx_rows(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, TMX payload) rows -> one row per tuv segment with the
    header srclang denormalized onto every row (the pairing
    operator needs it and the golden stays one flat table). Pure
    parse: ``extractor.tmxx.extract_tmx`` (golden-pinned)."""
    import pandas as pd

    from ..extractor.tmxx import extract_tmx

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    d = extract_tmx(bytes(payload))
                except Exception:
                    continue
                for tu, tuid, pos, lang, seg in d["rows"]:
                    rows.append((url, tu, tuid, pos, d["srclang"],
                                 lang, seg))
            out = pd.DataFrame(rows, columns=[
                "url", "tu", "tuid", "pos", "srclang", "lang",
                "seg"])
            for c in ("tu", "pos"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, TMX_ROWS_DDL))


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
    import pandas as pd

    from ..extractor.pdfx import extract_pdf_outline

    def parse(batches):
        for b in batches:
            urls, poss, depths, titles = [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    items = extract_pdf_outline(
                        bytes(payload) if payload is not None else b"")
                except Exception:
                    continue
                for pos, depth, title in items:
                    urls.append(url)
                    poss.append(pos)
                    depths.append(depth)
                    titles.append(title)
            yield pd.DataFrame({
                "url": urls,
                "pos": pd.array(poss, dtype="Int32"),
                "depth": pd.array(depths, dtype="Int32"),
                "title": titles})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, PDF_OUTLINE_DDL))


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
    import pandas as pd

    from ..extractor.pdfx import INFO_FIELDS, extract_pdf_info

    def parse(batches):
        for b in batches:
            out: dict[str, list] = {"url": []}
            out.update({f: [] for f in INFO_FIELDS})
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    info = extract_pdf_info(bytes(payload)
                                            if payload is not None
                                            else b"")
                except Exception:
                    continue
                if info is None:
                    continue
                out["url"].append(url)
                for f in INFO_FIELDS:
                    out[f].append(info[f])
            yield pd.DataFrame(out)

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, PDF_INFO_DDL))


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
    import pandas as pd

    from ..extractor.officemeta import META_FIELDS, extract_office_meta

    cols = ["url", "format", *META_FIELDS]

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    meta = extract_office_meta(
                        bytes(payload) if payload is not None else b"")
                except Exception:
                    continue
                if meta is None:
                    continue
                rows.append((url, meta["format"],
                             *(meta[f] for f in META_FIELDS)))
            yield pd.DataFrame(rows, columns=cols)

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, OFFICE_META_DDL))


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
    import pandas as pd

    from ..extractor.epubx import extract_epub

    def parse(batches):
        for b in batches:
            urls, chapters, hrefs, titles, texts = [], [], [], [], []
            for url, payload in zip(b[url_col], b[payload_col]):
                try:
                    chs = extract_epub(bytes(payload))
                except Exception:
                    continue
                for ch in chs:
                    urls.append(url)
                    chapters.append(ch.idx)
                    hrefs.append(ch.href)
                    titles.append(ch.title)
                    texts.append(ch.text)
            yield pd.DataFrame({
                "url": urls,
                "chapter": pd.array(chapters, dtype="int32"),
                "href": hrefs, "title": titles, "text": texts})

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, EPUB_CHAPTERS_DDL))


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
    import pandas as pd

    from ..extractor.warcx import parse_warc

    def parse(batches):
        for b in batches:
            urls, tss, bodies = [], [], []
            for blob in b["content"]:
                for rec in parse_warc(bytes(blob)):
                    urls.append(rec["url"])
                    tss.append(rec["warc_ts"])
                    bodies.append(rec["body"])
            yield pd.DataFrame({
                "url": urls, "warc_ts": tss, "html": bodies,
                "text": pd.array([None] * len(urls), dtype=object),
                "lang": pd.array([None] * len(urls), dtype=object)})

    return (spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(parse, DOCUMENTS_DDL))


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
    import pandas as pd

    from ..extractor.sniff import sniff_kind
    from ..extractor.warcx import parse_warc

    def parse(batches):
        for b in batches:
            rows = []
            for blob in b["content"]:
                for rec in parse_warc(bytes(blob)):
                    rows.append((rec["url"], rec["warc_ts"],
                                 rec["status"], rec["content_type"],
                                 rec["x_robots"], rec["location"],
                                 rec["content_encoding"],
                                 rec["decoded"],
                                 sniff_kind(rec["body"]),
                                 len(rec["body"])))
            df = pd.DataFrame(
                rows, columns=["url", "warc_ts", "status",
                               "content_type", "x_robots",
                               "location", "content_encoding",
                               "decoded", "sniffed_kind", "n_bytes"])
            df["status"] = pd.array(df["status"], dtype="Int32")
            df["n_bytes"] = pd.array(df["n_bytes"], dtype="Int64")
            yield df

    return blobs.select("content").mapInPandas(
        parse, WARC_CAPTURES_DDL)


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
    import pandas as pd

    from ..extractor.warcx import parse_wet

    def parse(batches):
        for b in batches:
            urls, tss, texts = [], [], []
            for blob in b["content"]:
                for rec in parse_wet(bytes(blob)):
                    urls.append(rec["url"])
                    tss.append(rec["warc_ts"])
                    texts.append(rec["text"])
            yield pd.DataFrame({
                "url": urls, "warc_ts": tss,
                "html": pd.array([None] * len(urls), dtype=object),
                "text": texts,
                "lang": pd.array([None] * len(urls), dtype=object)})

    return (spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(parse, DOCUMENTS_DDL))


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
    import pandas as pd

    from ..extractor.warcx import parse_wat

    def parse(batches):
        cols = ("url", "warc_ts", "title", "link_pos", "path", "href",
                "anchor")
        for b in batches:
            rows = []
            for blob in b["content"]:
                for rec in parse_wat(bytes(blob)):
                    if rec["links"]:
                        for i, lk in enumerate(rec["links"]):
                            rows.append((rec["url"], rec["warc_ts"],
                                         rec["title"], i, lk["path"],
                                         lk["href"], lk["anchor"]))
                    else:
                        rows.append((rec["url"], rec["warc_ts"],
                                     rec["title"], -1, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    return (spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(parse, WAT_LINKS_DDL))


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
    import pandas as pd

    from ..extractor.cdxx import parse_cdxj

    cols = ("urlkey", "ts", "url", "mime", "status", "digest",
            "length", "offset", "filename")

    def parse(batches):
        for b in batches:
            rows = [tuple(rec[c] for c in cols)
                    for blob in b["content"]
                    for rec in parse_cdxj(bytes(blob))]
            df = pd.DataFrame(rows, columns=cols)
            df["status"] = df["status"].astype("Int32")
            yield df

    return (spark.read.format("binaryFile")
            .load(path)
            .select("content")
            .mapInPandas(parse, CDX_DDL))


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
    import pandas as pd

    from ..extractor.warcx import parse_arc

    def parse(batches):
        for b in batches:
            urls, tss, bodies = [], [], []
            for blob in b["content"]:
                for rec in parse_arc(bytes(blob)):
                    if not rec["url"].startswith(("http://",
                                                  "https://")):
                        continue
                    urls.append(rec["url"])
                    tss.append(rec["warc_ts"])
                    bodies.append(rec["body"])
            yield pd.DataFrame({
                "url": urls, "warc_ts": tss, "html": bodies,
                "text": pd.array([None] * len(urls), dtype=object),
                "lang": pd.array([None] * len(urls), dtype=object)})

    return blobs.select("content").mapInPandas(parse, DOCUMENTS_DDL)


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
    import pandas as pd

    from ..extractor.feedx import parse_sitemap_media

    def parse(batches):
        cols = ("page_loc", "pos", "kind", "loc", "thumbnail_loc",
                "title", "description", "duration_s")
        for b in batches:
            rows = []
            for blob in b["content"]:
                for r in parse_sitemap_media(bytes(blob)):
                    rows.append(tuple(r[c] for c in cols))
            out = pd.DataFrame(rows, columns=cols)
            out["duration_s"] = out["duration_s"].astype("Int32")
            yield out

    return blobs.select("content").mapInPandas(
        parse, "page_loc string, pos int, kind string, loc string, "
               "thumbnail_loc string, title string, "
               "description string, duration_s int")


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

    import pandas as pd

    from ..extractor.hlsx import parse_m3u8

    cols = [f.split()[0] for f in HLS_ROWS_DDL.split(", ")]

    def parse(batches):
        for b in batches:
            rows = []
            for url, blob in zip(b["url"], b["content"]):
                kind, rs = parse_m3u8(bytes(blob)
                                      if blob is not None else b"")
                for r in rs:
                    uri = urljoin(url, r[2]) if url else r[2]
                    if r[0] == "variant":
                        rows.append((url, kind, r[1], "variant", uri,
                                     r[3], r[4], r[5], r[6],
                                     None, None, None, None, None))
                    elif r[0] == "media":
                        rows.append((url, kind, r[1], "media", uri,
                                     None, None, None, None, None,
                                     r[3], r[4], r[5], None))
                    else:
                        rows.append((url, kind, r[1], "segment", uri,
                                     None, None, None, None, r[3],
                                     None, None, None, r[4]))
            out = pd.DataFrame(rows, columns=cols)
            for c, t in (("pos", "Int32"), ("bandwidth", "Int64"),
                         ("width", "Int32"), ("height", "Int32"),
                         ("duration_ms", "Int64")):
                out[c] = out[c].astype(t)
            yield out

    return blobs.select("url", "content").mapInPandas(
        parse, HLS_ROWS_DDL)


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

    import pandas as pd

    from ..extractor.dashx import parse_mpd

    cols = [f.split()[0] for f in MPD_ROWS_DDL.split(", ")]

    def parse(batches):
        for b in batches:
            rows = []
            for url, blob in zip(b["url"], b["content"]):
                meta, rs = parse_mpd(bytes(blob)
                                     if blob is not None else b"")
                for r in rs:
                    base = urljoin(url or "", r[11] or "")
                    init = urljoin(base, r[12]) if r[12] else None
                    media = urljoin(base, r[13]) if r[13] else None
                    rows.append((url, meta["type"],
                                 meta["duration_ms"], *r[:11], base,
                                 init, media, r[14], r[15]))
            out = pd.DataFrame(rows, columns=cols)
            for c, t in (("pos", "Int32"), ("period", "Int32"),
                         ("adaptation", "Int32"),
                         ("mpd_duration_ms", "Int64"),
                         ("bandwidth", "Int64"), ("width", "Int32"),
                         ("height", "Int32"),
                         ("seg_duration_ms", "Int64"),
                         ("start_number", "Int64")):
                out[c] = out[c].astype(t)
            yield out

    return blobs.select("url", "content").mapInPandas(
        parse, MPD_ROWS_DDL)


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
    import pandas as pd

    from ..extractor.feedx import parse_feed_enclosures

    cols = [f.split()[0] for f in ENCLOSURE_DDL.split(", ")]

    def parse(batches):
        for b in batches:
            rows = []
            for blob in b["content"]:
                for r in parse_feed_enclosures(
                        bytes(blob) if blob is not None else b""):
                    rows.append(tuple(r[c] for c in cols))
            out = pd.DataFrame(rows, columns=cols)
            out["pos"] = out["pos"].astype("Int32")
            out["length_bytes"] = out["length_bytes"].astype("Int64")
            out["duration_ms"] = out["duration_ms"].astype("Int64")
            yield out

    return blobs.select("content").mapInPandas(parse, ENCLOSURE_DDL)


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
    import pandas as pd

    from ..extractor.mhtmlx import parse_mhtml

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_mhtml(bytes(payload)
                                if payload is not None else None)
                for p in d["parts"]:
                    size = min(p["size"], 2**31 - 1)  # Int32 clamp
                    rows.append((url, d["url"], p["pos"],
                                 p["content_type"],
                                 p["content_location"],
                                 p["content_id"],
                                 p["pos"] == d["root_pos"], size))
            out = pd.DataFrame(rows, columns=[
                "url", "snapshot_url", "pos", "content_type",
                "content_location", "content_id", "is_root", "size"])
            for c in ("pos", "size"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, MHTML_RES_DDL))


def read_mhtml_pages(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, MHTML payload) -> at most one page row: the root HTML
    part through the SAME htmlx main-content pipeline every other
    format uses (mailx precedent). Non-MHTML or non-HTML-root
    payloads yield zero rows. Map-only."""
    import pandas as pd

    from ..extractor.htmlx import extract_html
    from ..extractor.mhtmlx import root_html

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                snap, html = root_html(
                    bytes(payload) if payload is not None else None)
                if not html:
                    continue
                text, _spans, _score, title = extract_html(html)
                rows.append((url, snap, title, text))
            yield pd.DataFrame(rows, columns=[
                "url", "snapshot_url", "title", "text"])

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, MHTML_PAGE_DDL))


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
    import pandas as pd

    from ..extractor.harx import parse_har

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_har(bytes(payload)
                              if payload is not None else None)
                for e in d["entries"]:
                    rows.append((url, e["pos"], e["pageref"],
                                 e["started"], e["method"],
                                 e["request_url"], e["status"],
                                 e["status_text"], e["mime"],
                                 e["body_size"], e["content_size"],
                                 e["time_ms"], e["server_ip"],
                                 e["http_version"]))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "pageref", "started", "method",
                "request_url", "status", "status_text", "mime",
                "body_size", "content_size", "time_ms", "server_ip",
                "http_version"])
            for c in ("pos", "status", "body_size", "content_size"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["time_ms"] = pd.array(out["time_ms"],
                                      dtype="float64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, HAR_ENTRY_DDL))


def read_har_pages(df: DataFrame, url_col: str = "url",
                   payload_col: str = "payload") -> DataFrame:
    """(url, HAR payload) -> one row per log page. Map-only."""
    import pandas as pd

    from ..extractor.harx import parse_har

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_har(bytes(payload)
                              if payload is not None else None)
                for p in d["pages"]:
                    rows.append((url, p["page_id"], p["started"],
                                 p["title"],
                                 p["on_content_load_ms"],
                                 p["on_load_ms"]))
            out = pd.DataFrame(rows, columns=[
                "url", "page_id", "started", "title",
                "on_content_load_ms", "on_load_ms"])
            for c in ("on_content_load_ms", "on_load_ms"):
                out[c] = pd.array(out[c], dtype="float64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, HAR_PAGE_DDL))


VCARD_PROPS_DDL = ("url string, card int, pos int, grp string, "
                   "name string, types string, value string")


def read_vcard_props(df: DataFrame, url_col: str = "url",
                     payload_col: str = "payload") -> DataFrame:
    """(url, vCard payload) -> one row per property per card in
    source order (flat model, the bibtex_fields pattern). Pure
    parse: ``extractor.vcardx.parse_vcards`` (golden-pinned).
    Map-only."""
    import pandas as pd

    from ..extractor.vcardx import parse_vcards

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                cards = parse_vcards(
                    bytes(payload) if payload is not None else None)
                for c in cards:
                    for pos, grp, name, types, value in c["props"]:
                        rows.append((url, c["idx"], pos, grp, name,
                                     types, value))
            out = pd.DataFrame(rows, columns=[
                "url", "card", "pos", "grp", "name", "types",
                "value"])
            for c in ("card", "pos"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, VCARD_PROPS_DDL))


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
    import pandas as pd

    from ..extractor.gpxx import parse_gpx

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                for r in parse_gpx(bytes(payload)
                                   if payload is not None else None):
                    rows.append((url, r["kind"], r["trk"],
                                 r["trk_name"], r["seg"], r["pt"],
                                 r["name"], r["lat"], r["lon"],
                                 r["ele"], r["time"], r["epoch"]))
            out = pd.DataFrame(rows, columns=[
                "url", "kind", "trk", "trk_name", "seg", "pt",
                "name", "lat", "lon", "ele", "time", "epoch"])
            for c in ("trk", "seg", "pt"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["epoch"] = pd.array(out["epoch"], dtype="Int64")
            for c in ("lat", "lon", "ele"):
                out[c] = pd.array(out[c], dtype="float64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, GPX_POINTS_DDL))


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
    import pandas as pd

    from ..extractor.bookmarkx import parse_bookmarks

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                for r in parse_bookmarks(
                        bytes(payload)
                        if payload is not None else None):
                    rows.append((url, r["pos"], r["folder"],
                                 r["href"], r["title"],
                                 r["add_date"], r["last_modified"],
                                 r["tags"]))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "folder", "href", "title", "add_date",
                "last_modified", "tags"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            for c in ("add_date", "last_modified"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, BOOKMARK_ROWS_DDL))


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
    import pandas as pd

    from ..extractor.manifestx import parse_manifest

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_manifest(
                    bytes(payload) if payload is not None else None)
                if d is None:
                    continue
                rows.append((url, d["name"], d["short_name"],
                             d["start_url"], d["scope"],
                             d["display"], d["theme_color"],
                             d["background_color"], d["lang"],
                             len(d["icons"])))
            out = pd.DataFrame(rows, columns=[
                "url", "name", "short_name", "start_url", "scope",
                "display", "theme_color", "background_color",
                "lang", "n_icons"])
            out["n_icons"] = pd.array(out["n_icons"], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, WEBMANIFEST_DDL))


def read_manifest_icons(df: DataFrame, url_col: str = "url",
                        payload_col: str = "payload") -> DataFrame:
    """(url, manifest.json payload) -> one row per icon entry with
    a string src. Map-only."""
    import pandas as pd

    from ..extractor.manifestx import parse_manifest

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_manifest(
                    bytes(payload) if payload is not None else None)
                if d is None:
                    continue
                for pos, src, sizes, typ, purpose in d["icons"]:
                    rows.append((url, pos, src, sizes, typ,
                                 purpose))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "src", "sizes", "type", "purpose"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, MANIFEST_ICONS_DDL))


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
    import pandas as pd

    from ..extractor.parquetx import parse_footer

    def parse(batches):
        for b in batches:
            rows = []
            for fname, payload in zip(b[file_col], b[payload_col]):
                d = parse_footer(bytes(payload)
                                 if payload is not None else None)
                if d is None:
                    continue
                for c in d["chunks"]:
                    rows.append((
                        fname, c["row_group_id"],
                        c["row_group_num_rows"], c["column_id"],
                        c["file_offset"], c["num_values"],
                        c["path_in_schema"], c["type"],
                        c["compression"], c["encodings"],
                        c["data_page_offset"],
                        c["dictionary_page_offset"],
                        c["total_compressed_size"],
                        c["total_uncompressed_size"]))
            out = pd.DataFrame(rows, columns=[
                "file", "row_group_id", "row_group_num_rows",
                "column_id", "file_offset", "num_values",
                "path_in_schema", "type", "compression",
                "encodings", "data_page_offset",
                "dictionary_page_offset", "total_compressed_size",
                "total_uncompressed_size"])
            for c in ("row_group_id", "row_group_num_rows",
                      "column_id", "file_offset", "num_values",
                      "data_page_offset", "dictionary_page_offset",
                      "total_compressed_size",
                      "total_uncompressed_size"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(file_col).alias(file_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, PARQUET_CHUNKS_DDL))


CSS_REFS_DDL = ("url string, pos int, kind string, ref string, "
                "is_data boolean")


def read_css_refs(df: DataFrame, url_col: str = "url",
                  payload_col: str = "payload") -> DataFrame:
    """(url, stylesheet payload) -> one row per @import/url()
    reference with its syntactic kind. Pure parse:
    ``extractor.cssx.parse_css_refs`` (golden-pinned). Map-only."""
    import pandas as pd

    from ..extractor.cssx import parse_css_refs

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                for r in parse_css_refs(
                        bytes(payload)
                        if payload is not None else None):
                    rows.append((url, r["pos"], r["kind"],
                                 r["url"], r["is_data"]))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "kind", "ref", "is_data"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, CSS_REFS_DDL))


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
    import pandas as pd

    from ..extractor.srcmapx import parse_sourcemap

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_sourcemap(
                    bytes(payload) if payload is not None else None)
                if d is None:
                    continue
                for pos, src, has_c, nseg in d["sources"]:
                    rows.append((url, d["file"], d["source_root"],
                                 pos, src, has_c, nseg))
            out = pd.DataFrame(rows, columns=[
                "url", "file", "source_root", "pos", "source",
                "has_content", "n_segments"])
            for c in ("pos", "n_segments"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, SOURCEMAP_SOURCES_DDL))


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
    import pandas as pd

    from ..extractor.zipx import parse_zip_directory

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_zip_directory(
                    bytes(payload) if payload is not None else None)
                if d is None:
                    continue
                for e in d["entries"]:
                    rows.append((url, e["pos"], e["name"],
                                 e["method"],
                                 e["crc32"], e["compressed_size"],
                                 e["uncompressed_size"],
                                 e["local_offset"], e["is_dir"],
                                 e["utf8_name"]))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "name", "method", "crc32",
                "compressed_size", "uncompressed_size",
                "local_offset", "is_dir", "utf8_name"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            for c in ("compressed_size", "uncompressed_size",
                      "local_offset"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, ZIP_DIR_DDL))


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
    import pandas as pd

    from ..extractor.ntriplesx import parse_ntriples

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_ntriples(
                    bytes(payload) if payload is not None else None)
                for t in d["triples"]:
                    rows.append((url,) + t)
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "subj", "subj_kind", "pred", "obj",
                "obj_kind", "obj_lang", "obj_datatype"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, NTRIPLES_DDL))


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
    import pandas as pd

    from ..extractor.geojsonx import parse_geojson

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_geojson(
                    bytes(payload) if payload is not None else None)
                for t in d["features"]:
                    rows.append((url,) + t)
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "gtype", "n_geoms", "n_points",
                "minx", "miny", "maxx", "maxy", "name", "n_props"])
            for c in ("pos", "n_geoms", "n_points", "n_props"):
                out[c] = pd.array(out[c], dtype="Int32")
            for c in ("minx", "miny", "maxx", "maxy"):
                out[c] = pd.array(out[c], dtype="float64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, GEOJSON_DDL))


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
    import pandas as pd

    from ..extractor.tomlx import flatten, parse_toml

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_toml(
                    bytes(payload) if payload is not None else None)
                if not d["ok"]:
                    rows.append((url, 0, False, None, None, None))
                    continue
                for (pos, key_path, vtype, text) in \
                        flatten(d["doc"]):
                    rows.append((url, pos, True, key_path, vtype,
                                 text))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "ok", "key_path", "vtype",
                "value_text"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, TOML_DDL))


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
    import pandas as pd

    from ..extractor.compx import parse_compressed

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_compressed(
                    bytes(payload) if payload is not None else None)
                if d["format"] is None:
                    continue
                for (pos, kind, comp, raw, extra, ok) in \
                        d["frames"]:
                    rows.append((url, pos, d["format"], kind,
                                 comp, raw, extra, ok))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "format", "kind", "comp_size",
                "raw_size", "extra", "ok"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            for c in ("comp_size", "raw_size"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, COMP_DDL))


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
    import pandas as pd

    from ..extractor.cfbx import (extract_doc_pieces,
                                  extract_ppt_elements, parse_cfb)

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                blob = bytes(payload) if payload is not None \
                    else None
                d = parse_cfb(blob)
                if d is None:
                    continue
                for (pos, path, kind, size, _start) in d["entries"]:
                    # Int64 clamp: declared sizes are u64 in the spec
                    size = size if size < 1 << 62 else None
                    rows.append((url, pos, "entry", path, kind,
                                 size, None, None, None, None))
                for (pos, kind, text) in extract_ppt_elements(blob):
                    rows.append((url, pos, "ppt_text", None, None,
                                 None, kind, None, None, text))
                for (pos, compressed, cp0, cp1, text) in \
                        extract_doc_pieces(blob):
                    rows.append((url, pos, "doc_piece", None, None,
                                 None,
                                 "cp1252" if compressed else "utf16",
                                 cp0, cp1, text))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "row_kind", "path", "entry_kind",
                "size", "text_kind", "cp_start", "cp_end", "text"])
            for c in ("pos", "cp_start", "cp_end"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["size"] = pd.array(out["size"], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, CFB_DDL))


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
    import pandas as pd

    from ..extractor.olepsx import extract_office_properties

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                blob = bytes(payload) if payload is not None \
                    else None
                for (pos, stream, pid, name, vtype, val) in \
                        extract_office_properties(blob):
                    # Int32 clamp: property ids are u32 on disk
                    pid = pid if pid <= 0x7FFFFFFF else None
                    rows.append((url, pos, stream, pid, name,
                                 vtype, val))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "stream", "prop_id", "name",
                "vtype", "value"])
            for c in ("pos", "prop_id"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, OLEPS_DDL))


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
    import pandas as pd

    from ..extractor.kmlx import parse_kml

    _COLS = ["pos", "folder", "name", "gtype", "n_points",
             "min_lon", "min_lat", "max_lon", "max_lat",
             "t_begin", "t_end"]

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                for r in parse_kml(
                        bytes(payload) if payload is not None
                        else None):
                    rows.append((url,) + tuple(r[c]
                                               for c in _COLS))
            out = pd.DataFrame(rows, columns=["url"] + _COLS)
            for c in ("pos", "n_points"):
                out[c] = pd.array(out[c], dtype="Int32")
            for c in ("t_begin", "t_end"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, KML_DDL))


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
    import pandas as pd

    from ..extractor.pgpx import extract_pgp

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = extract_pgp(
                    bytes(payload) if payload is not None else None)
                if d is None:
                    continue
                rows.append((url, 0, "block", d["kind"],
                             d["n_headers"], d["crc_ok"],
                             None, None, None, None, None, None,
                             None, None))
                for p in d["packets"]:
                    rows.append((url, p["pos"], "packet", None,
                                 None, None, p["tag"], p["name"],
                                 p["length"], p["version"],
                                 p["algorithm"], p["created"],
                                 p["user_id"], p["fingerprint"]))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "row_kind", "kind", "n_headers",
                "crc_ok", "tag", "name", "length", "version",
                "algorithm", "created", "user_id", "fingerprint"])
            for c in ("pos", "n_headers", "tag", "length",
                      "version"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, PGP_DDL))


def read_desktop_entries(df: DataFrame, url_col: str = "url",
                         payload_col: str = "payload") -> DataFrame:
    """(url, .desktop bytes) -> one row per (group, key, locale,
    value) — the bibtex_fields flat shape for freedesktop entries.
    Pure parse: ``extractor.desktopx.parse_desktop``. Map-only."""
    import pandas as pd

    from ..extractor.desktopx import parse_desktop

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                for (pos, group, key, locale, value) in \
                        parse_desktop(
                            bytes(payload) if payload is not None
                            else None):
                    rows.append((url, pos, group, key, locale,
                                 value))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "grp", "key", "locale", "value"])
            out["pos"] = pd.array(out["pos"], dtype="Int32")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, "url string, pos int, grp string, "
                                "key string, locale string, "
                                "value string"))


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
    import pandas as pd

    from ..extractor.avix import parse_avi

    def parse(batches):
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[payload_col]):
                d = parse_avi(
                    bytes(payload) if payload is not None else None)
                if d is None:
                    continue
                rows.append((url, 0, "file", d["us_per_frame"],
                             d["fps_milli"], d["width"],
                             d["height"], d["total_frames"],
                             d["n_streams_declared"], None, None,
                             None, None))
                for (pos, kind, handler, rate_milli, length) in \
                        d["streams"]:
                    rows.append((url, pos, "stream", None, None,
                                 None, None, None, None, kind,
                                 handler, rate_milli, length))
            out = pd.DataFrame(rows, columns=[
                "url", "pos", "row_kind", "us_per_frame",
                "fps_milli", "width", "height", "total_frames",
                "n_streams", "stream_kind", "handler",
                "rate_milli", "length"])
            for c in ("pos", "us_per_frame", "fps_milli", "width",
                      "height", "total_frames", "n_streams",
                      "length"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["rate_milli"] = pd.array(out["rate_milli"],
                                         dtype="Int64")
            yield out

    return (df.select(F.col(url_col).alias(url_col),
                      F.col(payload_col).alias(payload_col))
            .mapInPandas(parse, AVI_DDL))
