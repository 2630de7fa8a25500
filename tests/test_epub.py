"""EPUB source (extractor/epubx.py, golden-pinned) and its Spark
reader (structural identity + map-only plan)."""

import io
import zipfile

import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from historicaldatadocumentparsersystem_spark import fixtures, sources
from historicaldatadocumentparsersystem_spark.extractor import (
    epubx, officemeta)

GOLDEN_EPUB = "fixtures/golden_epub_chapters_seed42_n30.parquet"


def _pure_rows(n: int) -> list[tuple]:
    rows = []
    for r in fixtures.epub_file_rows(n):
        try:
            chs = epubx.extract_epub(r["payload"])
        except Exception:
            continue
        rows += [(r["url"], c.idx, c.href, c.title, c.text) for c in chs]
    return rows


def test_epub_matches_committed_golden():
    golden = [(r["url"], r["chapter"], r["href"], r["title"], r["text"])
              for r in pq.read_table(GOLDEN_EPUB).to_pylist()]
    assert golden == _pure_rows(30) and golden


def test_epub_roundtrip_and_title_fallback():
    b = epubx.make_epub(
        [("Head & One", ["P1.", "P2 <x>."]), (None, ["Bare."])],
        title="B & T", creator="C", lang="fr", ident="urn:u:1")
    assert epubx.is_epub(b)
    chs = epubx.extract_epub(b)
    assert [c.idx for c in chs] == [0, 1]
    assert chs[0].title == "Head & One"
    assert chs[0].text == "Head & One\nP1.\nP2 <x>."
    assert chs[1].title == "Chapter 2"          # <title> fallback
    meta = officemeta.extract_office_meta(b)
    assert (meta["format"], meta["title"], meta["creator"]) == (
        "epub", "B & T", "C")


def test_epub_spine_order_and_missing_entries():
    """Spine order wins over zip order; idrefs without a manifest item
    and manifest hrefs missing from the zip are skipped silently."""
    buf = io.BytesIO()
    opf = ('<package xmlns="http://www.idpf.org/2007/opf">'
           '<manifest>'
           '<item id="b" href="b.xhtml" media-type="application/xhtml+xml"/>'
           '<item id="a" href="a.xhtml" media-type="application/xhtml+xml"/>'
           '<item id="gone" href="missing.xhtml" media-type="application/xhtml+xml"/>'
           '</manifest>'
           '<spine><itemref idref="b"/><itemref idref="ghost"/>'
           '<itemref idref="gone"/><itemref idref="a"/></spine></package>')
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", b"application/epub+zip")
        zf.writestr("META-INF/container.xml", epubx._CONTAINER_XML
                    .replace("OEBPS/content.opf", "content.opf"))
        zf.writestr("content.opf", opf)
        zf.writestr("a.xhtml", "<html><body><p>alpha</p></body></html>")
        zf.writestr("b.xhtml", "<html><body><p>beta</p></body></html>")
    chs = epubx.extract_epub(buf.getvalue())
    assert [(c.idx, c.href, c.text) for c in chs] == [
        (0, "b.xhtml", "beta"), (1, "a.xhtml", "alpha")]


def test_epub_text_reassembly_spans():
    b = epubx.make_epub([("H", ["aa"]), (None, ["bb", "cc"])])
    text, spans = epubx.extract_epub_text(b)
    assert text == "H\naa\nbb\ncc"
    assert spans == [(0, 4, "chapter"), (5, 10, "chapter")]
    for s, e, _k in spans:
        assert "\n" not in (text[s:e][0], text[s:e][-1])


def test_epub_degrade_layers():
    # zip but no container / broken container / broken opf
    for inner in ({}, {"META-INF/container.xml": b"<broken"},
                  {"META-INF/container.xml": epubx._CONTAINER_XML,
                   "OEBPS/content.opf": b"<unclosed"}):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("mimetype", b"application/epub+zip")
            for name, data in inner.items():
                zf.writestr(name, data)
        assert epubx.extract_epub(buf.getvalue()) == []
        meta = officemeta.extract_office_meta(buf.getvalue())
        assert meta is None or meta["title"] is None
    assert not epubx.is_epub(b"\x00\x01")
    assert not epubx.is_epub(None)


def test_epub_in_extraction_dispatch():
    """The payload sniffer routes EPUBs through the zip branch: kind
    'epub', chapter-joined text, chapter spans; a chapterless epub is
    a failed fallback row."""
    from historicaldatadocumentparsersystem_spark.extractor import core
    r = core.extract_document(
        epubx.make_epub([("H", ["one para."])]), "fb")
    assert (r.doc_kind, r.extracted_text) == ("epub", "H\none para.")
    assert r.spans == [(0, 11, "chapter")] and not r.failed
    empty = epubx.make_epub([])
    r2 = core.extract_document(empty, "fb")
    assert (r2.doc_kind, r2.extracted_text, r2.failed) == (
        "empty", "fb", True)


@given(st.binary(max_size=1024))
@settings(max_examples=100, deadline=None)
def test_epub_api_never_raises_on_garbage(payload):
    """is_epub and the OPF metadata read never raise; extract_epub
    raises only the zip-layer error the sniffing caller handles (docx
    contract)."""
    assert epubx.is_epub(payload) in (True, False)
    meta = officemeta.extract_office_meta(payload)
    assert meta is None or isinstance(meta, dict)
    try:
        epubx.extract_epub(payload)
    except Exception as exc:
        assert isinstance(exc, (zipfile.BadZipFile, OSError, ValueError,
                                TypeError))


def test_epub_reader_structural_identity(spark):
    got = [tuple(r) for r in sources.read_epub_chapters(
        fixtures.epub_rows_df(spark, 30)).orderBy("url", "chapter")
        .collect()]
    pure = sorted(_pure_rows(30), key=lambda r: (r[0], r[1]))
    assert got == pure and got


def test_epub_reader_plan_is_map_only(spark):
    docs = fixtures.epub_rows_df(spark, 12)
    base = docs._jdf.queryExecution().executedPlan().toString()
    plan = sources.read_epub_chapters(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == base.count("Exchange"), plan
