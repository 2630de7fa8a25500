"""Source readers: documents scan validation and the office element readers."""

import pytest

from historicaldatadocumentparsersystem_spark import fixtures, sources


def test_read_documents_schema_check(spark, tmp_path):
    path = str(tmp_path / "docs")
    fixtures.corpus_df(spark, 20, num_partitions=2).write.parquet(path)
    df = sources.read_documents(spark, path)
    assert df.count() == 20

    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    with pytest.raises(ValueError, match="missing columns"):
        sources.read_documents(spark, bad)


# --- S6 docx subset ---------------------------------------------------------

def test_docx_parse_classification():
    from historicaldatadocumentparsersystem_spark.extractor import docx
    d = docx.make_docx([("heading", "Report Title"),
                        ("text", "Intro paragraph."),
                        ("list_item", "first point"),
                        ("text", "Closing & summary.")])
    els = docx.extract_docx(d)
    assert [(e.para, e.kind, e.text) for e in els] == [
        (0, "heading", "Report Title"),
        (1, "text", "Intro paragraph."),
        (2, "list_item", "first point"),
        (3, "text", "Closing & summary."),
    ]
    text, spans = docx.extract_docx_text(d)
    for (s, e, _k), el in zip(spans, els):
        assert text[s:e] == el.text


def test_docx_core_dispatch():
    from historicaldatadocumentparsersystem_spark.extractor import (
        docx, extract_document)
    d = docx.make_docx([("heading", "T"), ("text", "body")])
    res = extract_document(d, "fallback")
    assert res.doc_kind == "docx" and res.extracted_text == "T\nbody"
    assert not res.failed and res.n_blocks == 2


def test_docx_golden_rederivation():
    import pyarrow.parquet as pq

    from historicaldatadocumentparsersystem_spark.extractor.docx import \
        extract_docx
    golden = pq.read_table(
        "fixtures/golden_docx_elements_seed42_n40.parquet").to_pylist()
    derived = []
    for r in fixtures.docx_file_rows(40):
        for el in extract_docx(r["payload"]):
            derived.append({"url": r["url"], "para": el.para,
                            "kind": el.kind, "text": el.text})
    assert golden == derived


def test_docx_spark_source_matches_oracle(spark):
    from historicaldatadocumentparsersystem_spark.extractor.docx import \
        extract_docx
    files = fixtures.docx_file_rows(10)
    df = spark.createDataFrame([(r["url"], r["payload"]) for r in files],
                               "url string, payload binary").repartition(4)
    got = sorted((r.url, r.para, r.kind, r.text)
                 for r in sources.read_docx_elements(df).collect())
    want = sorted((r["url"], el.para, el.kind, el.text)
                  for r in files for el in extract_docx(r["payload"]))
    assert got == want


# --- S7 pptx subset ---------------------------------------------------------

def test_pptx_parse_classification():
    from historicaldatadocumentparsersystem_spark.extractor import pptx
    deck = pptx.make_pptx([
        {"title": "Kickoff", "paras": [("scope & goals", True),
                                       ("We start in Q3.", False)]},
        {"title": None, "paras": [("budget line", True)]},
    ])
    els = pptx.extract_pptx(deck)
    assert [(e.slide, e.kind, e.text) for e in els] == [
        (1, "title", "Kickoff"),
        (1, "list_item", "scope & goals"),
        (1, "text", "We start in Q3."),
        (2, "list_item", "budget line"),
    ]
    text, spans = pptx.extract_pptx_text(deck)
    assert text == "Kickoff\nscope & goals\nWe start in Q3.\nbudget line"
    for (s, e, _k), el in zip(spans, els):
        assert text[s:e] == el.text


def test_pptx_core_dispatch_and_fallback():
    from historicaldatadocumentparsersystem_spark.extractor import (
        extract_document, pptx)
    deck = pptx.make_pptx([{"title": "T", "paras": [("body", False)]}])
    res = extract_document(deck, "fallback")
    assert res.doc_kind == "pptx" and res.extracted_text == "T\nbody"
    assert not res.failed
    # a plain (non-OOXML) zip degrades to fallback text, not a failure
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", "not a deck")
    res2 = extract_document(buf.getvalue(), "plain fallback")
    assert res2.doc_kind == "empty" and not res2.failed
    assert res2.extracted_text == "plain fallback"


def test_pptx_golden_rederivation():
    """The committed golden parquet == pure-Python parse of the same
    deterministic decks (test_golden.py pattern for S7)."""
    import pyarrow.parquet as pq

    from historicaldatadocumentparsersystem_spark.extractor.pptx import \
        extract_pptx
    golden = pq.read_table(
        "fixtures/golden_pptx_elements_seed42_n40.parquet").to_pylist()
    derived = []
    for r in fixtures.pptx_deck_rows(40):
        for el in extract_pptx(r["payload"]):
            derived.append({"url": r["url"], "slide": el.slide,
                            "shape": el.shape, "para": el.para,
                            "kind": el.kind, "text": el.text})
    assert golden == derived


def test_pptx_spark_source_matches_oracle(spark):
    from historicaldatadocumentparsersystem_spark.extractor.pptx import \
        extract_pptx
    decks = fixtures.pptx_deck_rows(12)
    df = spark.createDataFrame([(r["url"], r["payload"]) for r in decks],
                               "url string, payload binary") \
        .repartition(4)
    got = sorted((r.url, r.slide, r.shape, r.para, r.kind, r.text)
                 for r in sources.read_pptx_elements(df).collect())
    want = sorted((r["url"], el.slide, el.shape, el.para, el.kind, el.text)
                  for r in decks for el in extract_pptx(r["payload"]))
    assert got == want
