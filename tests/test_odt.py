"""ODT source (extractor/odtx + sources.read_odt_elements): ODF
container/whitespace semantics, core-dispatch integration, golden
re-derivation, Spark == pure extractor.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from historicaldatadocumentparsersystem_spark import fixtures, sources  # noqa: E402
from historicaldatadocumentparsersystem_spark.extractor import odtx  # noqa: E402

GOLDEN = "fixtures/golden_odt_elements_seed42_n40.parquet"


def test_parse_kinds_and_order():
    d = odtx.make_odt([("heading", "Title"), ("text", "Intro para"),
                       ("list_item", "first"), ("list_item", "second"),
                       ("text", "Outro")])
    els = odtx.extract_odt(d)
    assert [(e.para, e.kind, e.level, e.text) for e in els] == [
        (0, "heading", 1, "Title"),
        (1, "text", 0, "Intro para"),
        (2, "list_item", 1, "first"),
        (3, "list_item", 1, "second"),
        (4, "text", 0, "Outro"),
    ]


def test_whitespace_elements_round_trip():
    # tabs, line-breaks and space RUNS must survive the text:tab /
    # text:line-break / text:s encode-decode cycle exactly
    txt = "a\tb\nc  d   e"
    d = odtx.make_odt([("text", txt)])
    els = odtx.extract_odt(d)
    assert [e.text for e in els] == [txt]


def test_span_nesting_and_tail_order():
    d = odtx.make_odt([("text", "span:inner\ttail  x")])
    els = odtx.extract_odt(d)
    assert els[0].text == "lead inner\ttail  x"


def test_nested_list_depth():
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:text>"
        "<text:list><text:list-item><text:p>outer</text:p>"
        "<text:list><text:list-item><text:p>inner</text:p>"
        "</text:list-item></text:list></text:list-item></text:list>"
        "</office:text></office:body></office:document-content>")
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(zipfile.ZipInfo("mimetype"), odtx.MIMETYPE)
        zf.writestr("content.xml", content)
    els = odtx.extract_odt(buf.getvalue())
    assert [(e.kind, e.level, e.text) for e in els] == [
        ("list_item", 1, "outer"), ("list_item", 2, "inner")]


def test_is_odt_rejects_other_zips():
    from historicaldatadocumentparsersystem_spark.extractor import docx
    assert not odtx.is_odt(docx.make_docx([("text", "x")]))
    assert not odtx.is_odt(b"plain bytes")
    assert not odtx.is_odt(None)
    assert odtx.is_odt(odtx.make_odt([("text", "x")]))


def test_core_dispatch():
    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    d = odtx.make_odt([("heading", "T"), ("text", "body")])
    res = extract_document(d, "fallback")
    assert res.doc_kind == "odt" and res.extracted_text == "T\nbody"
    assert not res.failed and res.n_blocks == 2
    # spans index into the reassembled text
    text, spans = odtx.extract_odt_text(d)
    for (s, e, _k), el in zip(spans, odtx.extract_odt(d)):
        assert text[s:e] == el.text


def test_empty_content_is_failed_fallback():
    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(zipfile.ZipInfo("mimetype"), odtx.MIMETYPE)
        zf.writestr("content.xml", "<broken")
    res = extract_document(buf.getvalue(), "fb")
    assert res.doc_kind == "empty" and res.failed


def test_golden_rederivation():
    import pyarrow.parquet as pq
    golden = pq.read_table(GOLDEN).to_pylist()
    derived = []
    for r in fixtures.odt_file_rows(40):
        for el in odtx.extract_odt(r["payload"]):
            derived.append({"url": r["url"], "para": el.para,
                            "kind": el.kind, "level": el.level,
                            "text": el.text})
    assert golden == derived


@pytest.mark.usefixtures("spark")
def test_spark_source_matches_pure(spark):
    files = fixtures.odt_file_rows(12)
    df = spark.createDataFrame([(r["url"], r["payload"]) for r in files],
                               "url string, payload binary").repartition(4)
    got = sorted((r.url, r.para, r.kind, r.level, r.text)
                 for r in sources.read_odt_elements(df).collect())
    want = sorted((r["url"], el.para, el.kind, el.level, el.text)
                  for r in files for el in odtx.extract_odt(r["payload"]))
    assert got == want


def test_fuzz_never_raises():
    """Byte-mutated ODT containers never raise out of core dispatch
    (the reader raises on a broken zip; dispatch degrades to the
    failed fallback): spans stay inside the text."""
    import random
    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    rng = random.Random(83)
    base = odtx.make_odt([("heading", "Title"), ("text", "first para"),
                          ("text", "second para")])
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            i = rng.randrange(len(b))
            b[i:i + rng.randrange(0, 8)] = bytes([rng.randrange(256)])
        res = extract_document(bytes(b), "fb")
        assert res.n_blocks == len(res.spans)
        assert all(0 <= s <= e <= len(res.extracted_text)
                   for s, e, _k in res.spans)
        if res.doc_kind == "empty":
            assert res.extracted_text == "fb"
