"""XLSX source: extractor/xlsxx.py grammar vectors, golden pin,
Spark reader == golden parity, and the core zip-dispatch branch."""

import io
import random
import zipfile

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import xlsxx

GOLDEN_XLSX = "fixtures/golden_xlsx_seed42_n16.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for r in fixtures.xlsx_file_rows(n):
        try:
            d = xlsxx.extract_xlsx(r["payload"])
        except Exception:
            continue
        for si, row, col, ctype, value in d["cells"]:
            out.append((r["url"], si, d["sheets"][si], row, col,
                        ctype, value))
    return out


def test_xlsx_matches_committed_golden():
    golden = [(r["url"], r["sheet"], r["sheet_name"], r["row"],
               r["col"], r["cell_type"], r["value"])
              for r in pq.read_table(GOLDEN_XLSX).to_pylist()]
    assert golden == _pure_rows(16)
    assert len(golden) == 98


def test_refs_and_bounds():
    assert xlsxx._parse_ref("A1") == (0, 0)
    assert xlsxx._parse_ref("AA12") == (11, 26)
    assert xlsxx._parse_ref("XFD1048576") == (1048575, 16383)
    # out of format bounds / malformed -> sequential fallback
    assert xlsxx._parse_ref("XFE1") is None
    assert xlsxx._parse_ref("A0") is None
    assert xlsxx._parse_ref("A1048577") is None
    assert xlsxx._parse_ref("1A") is None
    assert xlsxx._parse_ref(None) is None
    for col in (0, 25, 26, 701, 702, 16383):
        ref = xlsxx.col_letters(col) + "1"
        assert xlsxx._parse_ref(ref) == (0, col)


def test_cell_types_roundtrip():
    wb = xlsxx.make_xlsx([("S", [
        ["txt", 7, 2.5, True, False]])], shared_strings=True)
    d = xlsxx.extract_xlsx(wb)
    assert d["cells"] == [
        (0, 0, 0, "shared", "txt"), (0, 0, 1, "number", "7"),
        (0, 0, 2, "number", "2.5"), (0, 0, 3, "bool", "TRUE"),
        (0, 0, 4, "bool", "FALSE")]
    # inline variant preserves values with the other cell_type
    d = xlsxx.extract_xlsx(xlsxx.make_xlsx(
        [("S", [["x&<y>\"z"]])], shared_strings=False))
    assert d["cells"] == [(0, 0, 0, "inline", 'x&<y>"z')]


def test_streaming_shape_and_gaps():
    # refs keep the gap; no-refs streaming shape collapses it
    with_refs = xlsxx.extract_xlsx(xlsxx.make_xlsx(
        [("S", [["a", None, "c"]])], shared_strings=False))
    assert [(c[2], c[4]) for c in with_refs["cells"]] == [
        (0, "a"), (2, "c")]
    no_refs = xlsxx.extract_xlsx(xlsxx.make_xlsx(
        [("S", [["a", None, "c"]])], shared_strings=False,
        write_refs=False))
    assert [(c[2], c[4]) for c in no_refs["cells"]] == [
        (0, "a"), (1, "c")]


def test_formula_str_and_shared_miss():
    ws = (f'<worksheet xmlns="{xlsxx._M}"><sheetData>'
          '<row r="1"><c r="A1" t="str"><v>=SUM()</v></c>'
          '<c r="B1" t="s"><v>99</v></c>'
          '<c r="C1" t="s"><v>bogus</v></c>'
          '<c r="D1"/></row></sheetData></worksheet>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", (
            f'<workbook xmlns="{xlsxx._M}" xmlns:r="{xlsxx._R}">'
            '<sheets><sheet name="F" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"))
        zf.writestr("xl/worksheets/sheet1.xml", ws)
    d = xlsxx.extract_xlsx(buf.getvalue())
    # formula string kept; out-of-range + non-numeric shared index
    # -> NULL value; the style-only empty cell emits nothing
    assert d["cells"] == [(0, 0, 0, "formula", "=SUM()"),
                          (0, 0, 1, "shared", None),
                          (0, 0, 2, "shared", None)]


def test_is_xlsx_and_malformed():
    assert not xlsxx.is_xlsx(b"")
    assert not xlsxx.is_xlsx(None)
    assert not xlsxx.is_xlsx(b"PK\x03\x04garbage")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", "nope")
    assert not xlsxx.is_xlsx(buf.getvalue())
    # zip without a workbook part -> empty result, no raise
    assert xlsxx.extract_xlsx(buf.getvalue()) == {
        "sheets": [], "cells": []}
    # workbook present but unparseable -> empty
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", "<not xml")
    assert xlsxx.extract_xlsx(buf.getvalue()) == {
        "sheets": [], "cells": []}
    # one broken worksheet part skips that sheet only
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", (
            f'<workbook xmlns="{xlsxx._M}" xmlns:r="{xlsxx._R}">'
            '<sheets><sheet name="Bad" sheetId="1" r:id="rId1"/>'
            '<sheet name="Good" sheetId="2" r:id="rId2"/>'
            "</sheets></workbook>"))
        zf.writestr("xl/worksheets/sheet1.xml", "<broken")
        zf.writestr("xl/worksheets/sheet2.xml", (
            f'<worksheet xmlns="{xlsxx._M}"><sheetData>'
            '<row><c><v>5</v></c></row>'
            "</sheetData></worksheet>"))
    d = xlsxx.extract_xlsx(buf.getvalue())
    assert d["sheets"] == ["Bad", "Good"]
    assert d["cells"] == [(1, 0, 0, "number", "5")]


def test_core_dispatch_and_text():
    from historicaldatadocumentparsersystem_spark.extractor import \
        core
    wb = xlsxx.make_xlsx([
        ("A", [["h1", "h2"], [1, 2]]),
        ("B", [["solo"]])])
    res = core.extract_document(wb, None)
    assert res.doc_kind == "xlsx"
    assert res.extracted_text == "h1\th2\n1\t2\nsolo"
    text, spans = xlsxx.extract_xlsx_text(wb)
    assert text == "h1\th2\n1\t2\nsolo"
    assert spans == [(0, 9, "sheet"), (10, 14, "sheet")]
    # workbook with zero cells -> fallback, counted failed
    empty = xlsxx.make_xlsx([("S", [])])
    res = core.extract_document(empty, None)
    assert res.doc_kind != "xlsx" and res.failed


def test_spark_reader_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.xlsx_file_rows(16)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = sorted(
        (r.url, r.sheet, r.sheet_name, r.row, r.col, r.cell_type,
         r.value)
        for r in sources.read_xlsx_cells(df).collect())
    assert got == sorted(_pure_rows(16))


def test_spark_sheets_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.xlsx_file_rows(16)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = sorted((r.url, r.sheet, r.sheet_name, r.n_cells, r.n_rows,
                  r.n_cols)
                 for r in sources.read_xlsx_sheets(df).collect())
    want = []
    for f in files:
        try:
            d = xlsxx.extract_xlsx(f["payload"])
        except Exception:
            continue
        per = {}
        for si, row, col, _, _ in d["cells"]:
            per.setdefault(si, []).append((row, col))
        for si, name in enumerate(d["sheets"]):
            rcs = per.get(si, [])
            want.append((f["url"], si, name, len(rcs),
                         max((r for r, _ in rcs), default=-1) + 1,
                         max((c for _, c in rcs), default=-1) + 1))
    assert got == sorted(want)
    # the empty sheet is present with zero extent
    assert any(r[2] == "Blank" and r[3] == 0 and r[4] == 0
               for r in got)


def test_fuzz_never_raises():
    """Byte-mutated workbooks never raise out of core dispatch (the
    reader raises on a broken zip; dispatch degrades to the failed
    fallback): spans stay inside the text."""
    from historicaldatadocumentparsersystem_spark.extractor import core
    rng = random.Random(88)
    base = xlsxx.make_xlsx([("A", [["h1", "h2"], [1, 2.5]]),
                            ("B", [["solo", True]])],
                           shared_strings=True)
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            i = rng.randrange(len(b))
            b[i:i + rng.randrange(0, 8)] = bytes([rng.randrange(256)])
        res = core.extract_document(bytes(b), "fb")
        assert res.n_blocks == len(res.spans)
        assert all(0 <= s <= e <= len(res.extracted_text)
                   for s, e, _k in res.spans)
        if res.doc_kind == "empty":
            assert res.extracted_text == "fb"
