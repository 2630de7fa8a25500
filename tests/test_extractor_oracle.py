"""Oracle-level tests: pure-Python extraction core, no Spark.

Encodes the reference's observable semantics (SURVEY.md §5.2):
- A1 reassembly contract: extracted_text == "\\n".join(src[s:e])
  (base_parser.py:42 joins kept elements with "\\n")
- F1/F2 classification: boilerplate subtrees dropped
- F5 robustness: garbage never crashes, routes to fallback
- span validity: 0 <= start < end <= len(source)
"""

import functools
import hashlib
import io
import json
import tarfile
import zipfile

import pytest

from historicaldatadocumentparsersystem_spark.extractor import (
    extract_document, sniff_kind)
from historicaldatadocumentparsersystem_spark.extractor.htmlx import (
    decode_payload, extract_html)
from historicaldatadocumentparsersystem_spark.fixtures import (
    generate_rows, make_row, row_class, _make_pdf)
from html_reference_builder import parse_dom_htmlparser

N = 300


@pytest.fixture(scope="module")
def corpus():
    return generate_rows(N)


# --- sniffing ---------------------------------------------------------------

def test_sniff_magic_bytes():
    assert sniff_kind(b"%PDF-1.4\nx") == "pdf"
    assert sniff_kind(b"  \n<!DOCTYPE html><html>") == "html"
    assert sniff_kind(b"<div>hi</div>") == "html"
    assert sniff_kind(b"\xef\xbb\xbf<html>") == "html"
    assert sniff_kind(b"") == "empty"
    assert sniff_kind(None) == "empty"
    assert sniff_kind(b"\x00\x01\x02 random") == "empty"


def test_row_class_proportions(corpus):
    from collections import Counter
    c = Counter(row_class(i) for i in range(100))
    assert c == {"html-simple": 55, "html-linky": 15,
                 "html-malformed": 10, "pdf": 10, "garbage": 10}


# --- classification semantics -----------------------------------------------

def test_boilerplate_dropped_simple():
    row = make_row(0)  # html-simple
    res = extract_document(row["html"], row["text"])
    assert res.doc_kind == "html"
    src = decode_payload(row["html"])
    # nav/footer/aside/script/style content never leaks into main text
    assert "var x=1" not in res.extracted_text
    assert "margin:0" not in res.extracted_text
    assert "copyright" not in res.extracted_text
    assert "Site Header" not in res.extracted_text
    # the article's paragraphs ARE the extracted text
    assert res.n_blocks >= 3
    assert res.score > 0


def test_link_density_prunes_menus():
    html = (b"<html><body><div class='content'>"
            b"<p>Real body paragraph, long enough to score points here, "
            b"with several words and a comma, and more words again.</p>"
            b"<ul><li><a href='/a'>menu one</a></li>"
            b"<li><a href='/b'>menu two</a></li>"
            b"<li><a href='/c'>menu three</a></li></ul>"
            b"</div></body></html>")
    res = extract_document(html, None)
    assert "Real body paragraph" in res.extracted_text
    assert "menu one" not in res.extracted_text


def test_negative_class_id_dropped():
    html = (b"<html><body><div class='content'><p>Keep this main text, "
            b"a long paragraph with commas, yes, several of them here.</p>"
            b"<div class='sidebar'>drop sidebar text</div>"
            b"<div id='comments'>drop comment text</div></div>"
            b"</body></html>")
    res = extract_document(html, None)
    assert "Keep this main text" in res.extracted_text
    assert "drop sidebar" not in res.extracted_text
    assert "drop comment" not in res.extracted_text


def test_malformed_never_crashes(corpus):
    for i, row in enumerate(corpus):
        res = extract_document(row["html"], row["text"])  # must not raise
        assert res.doc_kind in ("html", "pdf", "empty")


def test_charref_kept_verbatim():
    # convert_charrefs=False contract: raw entity form preserved
    html = b"<html><body><div><p>fish &amp; chips &#233; ok</p></div></body></html>"
    res = extract_document(html, None)
    assert res.extracted_text == "fish &amp; chips &#233; ok"


# --- span invariants ---------------------------------------------------------

def test_span_invariants_all_rows(corpus):
    for i, row in enumerate(corpus):
        res = extract_document(row["html"], row["text"])
        if res.doc_kind == "html":
            src = decode_payload(row["html"])
        elif res.doc_kind == "pdf":
            # Flate pages have no payload frame: their spans index the
            # INFLATED stream, so the bound is the longest decoded
            # content stream rather than the raw payload
            from historicaldatadocumentparsersystem_spark.extractor \
                import pdfx
            streams = list(pdfx.iter_content_streams(row["html"]))
            if any(fl for _, _, fl in streams):
                src = "x" * max(len(b) for _, b, _ in streams)
            else:
                src = row["html"].decode("latin-1")
        else:
            src = res.extracted_text if not row["text"] else row["text"]
        for s, e, kind in res.spans:
            assert 0 <= s < e <= len(src), (i, s, e, len(src))
            assert kind
        assert res.n_blocks == len(res.spans)
        if res.doc_kind == "html":
            assert res.extracted_text == "\n".join(
                src[s:e] for s, e, _ in res.spans)


def test_pdf_reassembly():
    pdf = _make_pdf([["hello world", "second line"], ["page two here"]])
    res = extract_document(pdf, None)
    assert res.doc_kind == "pdf"
    assert res.extracted_text == "hello world\nsecond line\npage two here"
    assert res.score == 2.0  # pages
    kinds = {k for _, _, k in res.spans}
    assert kinds == {"page1", "page2"}


def test_pdf_escapes_decoded():
    pdf = _make_pdf([["parens (ok) and back\\slash"]])
    res = extract_document(pdf, None)
    assert res.extracted_text == "parens (ok) and back\\slash"


def test_pdf_flate_streams_decoded():
    """/FlateDecode content streams (the near-universal real-world
    encoding) extract identically to their raw form; spans stay valid
    against the INFLATED stream (verbatim literal invariant)."""
    from historicaldatadocumentparsersystem_spark.extractor import pdfx
    pages = [["hello compressed world", "line (two)"], ["page deux"]]
    raw = extract_document(_make_pdf(pages, compress=False), None)
    fl = extract_document(_make_pdf(pages, compress=True), None)
    assert fl.doc_kind == "pdf"
    assert fl.extracted_text == raw.extracted_text
    assert fl.score == raw.score and fl.n_blocks == raw.n_blocks
    assert [k for _, _, k in fl.spans] == [k for _, _, k in raw.spans]
    # page-local span frame: literal interiors are verbatim in the
    # inflated stream (modulo escape sequences, covered raw)
    streams = [b.decode("latin-1") for _, b, f in
               pdfx.iter_content_streams(_make_pdf(pages, compress=True))
               if f]
    assert len(streams) == 2
    assert streams[0][fl.spans[0][0]:fl.spans[0][1]] \
        == "hello compressed world"


def test_pdf_corrupt_flate_stream_skipped():
    """A Flate stream that fails to inflate is skipped; remaining
    pages still extract (degrade, never raise — F5 gate)."""
    good = _make_pdf([["page one ok"], ["page two ok"]], compress=True)
    import re as _re
    # corrupt the FIRST compressed stream body only
    m = _re.search(rb"stream\r?\n", good)
    start = m.end()
    bad = good[:start] + b"\xff\xff\xff\xff" + good[start + 4:]
    res = extract_document(bad, "fallback")
    assert res.doc_kind == "pdf"
    assert "page two ok" in res.extracted_text
    assert "page one ok" not in res.extracted_text


def test_pdf_mixed_raw_and_flate_corpus_rows():
    """Fixture pdf rows cycle raw / Flate / LZW / ASCII85+Flate /
    RunLength+Flate; every variant appears in the 300-row corpus and
    all extract as doc_kind='pdf' with text."""
    seen = {"raw": 0, "flate": 0, "lzw": 0, "a85": 0, "rle": 0}
    for row in generate_rows(300):
        if "/pdf/" not in row["url"]:
            continue
        res = extract_document(row["html"], row["text"])
        assert res.doc_kind == "pdf"
        assert res.extracted_text
        if b"/ASCII85Decode" in row["html"]:
            seen["a85"] += 1
        elif b"/RunLengthDecode" in row["html"]:
            seen["rle"] += 1
        elif b"/LZWDecode" in row["html"]:
            seen["lzw"] += 1
        elif b"/FlateDecode" in row["html"]:
            seen["flate"] += 1
        else:
            seen["raw"] += 1
    assert seen["raw"] >= 10 and seen["flate"] >= 5
    assert seen["lzw"] >= 2 and seen["a85"] >= 2 and seen["rle"] >= 2, seen


def test_pdf_hex_show_strings():
    """<hex> show strings (PDF 7.3.4.3 — the form font subsetters
    emit) extract alongside literals, in order, inside Tj and TJ;
    whitespace inside hex is ignored and an odd trailing digit pads
    with 0. Spans cover the raw hex form (the escaped-literal rule)."""
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        extract_pdf
    body = (b"BT /F1 12 Tf 72 720 Td <48656C6C6F2068657821> Tj 0 -14 Td "
            b"[(mixed ) <776F726C64> -120 ( array)] TJ 0 -14 Td "
            b"(plain) Tj ET")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
           + b" >>\nstream\n" + body + b"\nendstream\nendobj\n")
    text, spans, score = extract_pdf(pdf)
    assert text == "Hello hex!\nmixed \nworld\n array\nplain"
    assert score == 1.0 and len(spans) == 5
    src = pdf.decode("latin-1")
    # span of the first hex token covers its raw hex interior
    s, e, kind = spans[0]
    assert src[s:e] == "48656C6C6F2068657821" and kind == "page1"
    # odd-digit padding and interior whitespace
    t2, _, _ = extract_pdf(pdf.replace(b"<48656C6C6F2068657821>",
                                       b"<48 65 6C\n6C 6F2>"))
    assert t2.startswith("Hello ")


def test_pdf_lzw_spec_vector():
    """The from-scratch LZW codec reproduces the PDF spec's published
    example (PDF 32000-1:2008 §7.4.4.2: '-----A---B' <->
    800B6050220C0C8501, EarlyChange=1), pinning both the encoder the
    fixtures use and the decoder the extractor uses against an
    external reference — not just against each other."""
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        _lzw_decode
    from historicaldatadocumentparsersystem_spark.fixtures import _lzw_encode
    vec = bytes.fromhex("800B6050220C0C8501")
    assert _lzw_encode(b"-----A---B") == vec
    assert _lzw_decode(vec) == b"-----A---B"


def test_pdf_lzw_roundtrip_width_growth():
    """LZW roundtrip through all code widths (9->12 bits) and the
    table-full clear: repetitive text grows the dictionary fast, random
    bytes grow it past 4094 forcing the mid-stream clear code."""
    import random as _random
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        _lzw_decode
    from historicaldatadocumentparsersystem_spark.fixtures import _lzw_encode
    rng = _random.Random(7)
    rep = b"the quick brown fox jumps over the lazy dog " * 2000
    assert _lzw_decode(_lzw_encode(rep)) == rep
    rand = bytes(rng.randrange(256) for _ in range(50000))
    assert _lzw_decode(_lzw_encode(rand)) == rand


def test_pdf_runlength_vectors():
    """The RunLength codec pins PDF 7.4.5 semantics: length byte
    L<=127 copies L+1 literals, L>=129 repeats the next byte 257-L
    times, 128 is EOD (trailing bytes after EOD are ignored); a
    truncated run is corrupt (raises -> stream skipped upstream)."""
    import pytest as _pytest
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        _runlength_decode
    from historicaldatadocumentparsersystem_spark.fixtures import \
        _runlength_encode
    assert _runlength_decode(bytes([2, 65, 66, 67, 128])) == b"ABC"
    assert _runlength_decode(bytes([257 - 5, 66, 128])) == b"BBBBB"
    assert _runlength_decode(bytes([0, 88, 128, 99])) == b"X"  # post-EOD
    assert _runlength_encode(b"AAAAA") == bytes([257 - 5, 65, 128])
    assert _runlength_encode(b"") == bytes([128])
    with _pytest.raises(ValueError):
        _runlength_decode(bytes([5, 65]))       # truncated literal
    with _pytest.raises(ValueError):
        _runlength_decode(bytes([200]))         # truncated repeat
    # roundtrip across literal-block splits (>128 literals) and runs
    import random as _random
    rng = _random.Random(11)
    for _ in range(200):
        data = bytearray()
        for _ in range(rng.randint(0, 8)):
            if rng.random() < 0.5:
                data += bytes([rng.randrange(256)]) * rng.randint(1, 300)
            else:
                data += bytes(rng.randrange(256)
                              for _ in range(rng.randint(1, 200)))
        assert _runlength_decode(_runlength_encode(bytes(data))) == bytes(data)


def test_pdf_filter_chains_extract_identically():
    """Every supported filter and chain yields byte-identical text to
    the raw form; an unsupported filter degrades to a skipped stream
    (never a raised task)."""
    pages = [["alpha beta gamma", "delta (five)"], ["page two"]]
    ref = extract_document(_make_pdf(pages), None)
    for filters in (["FlateDecode"], ["LZWDecode"], ["ASCIIHexDecode"],
                    ["ASCII85Decode"], ["RunLengthDecode"],
                    ["ASCII85Decode", "FlateDecode"],
                    ["ASCIIHexDecode", "LZWDecode"],
                    ["RunLengthDecode", "FlateDecode"]):
        res = extract_document(_make_pdf(pages, filters=filters), None)
        assert res.extracted_text == ref.extracted_text, filters
        assert res.score == ref.score and res.n_blocks == ref.n_blocks
    unsupported = _make_pdf(pages, filters=["FlateDecode"]).replace(
        b"/FlateDecode", b"/JBIG2Decode")
    res = extract_document(unsupported, "fallback")
    # every stream skipped -> no pdf text -> the F5 fallback engages
    assert res.extracted_text == "fallback"


def test_truncated_pdf_falls_back():
    pdf = _make_pdf([["x"]])[:30]
    res = extract_document(pdf, "the fallback")
    assert res.doc_kind == "empty"
    assert res.extracted_text == "the fallback"
    assert res.failed


def test_empty_fallback():
    res = extract_document(b"", "plain fallback text")
    assert res.doc_kind == "empty"
    assert res.extracted_text == "plain fallback text"
    assert res.spans == [(0, 19, "fallback")]
    res2 = extract_document(None, None)
    assert res2.extracted_text == "" and res2.spans == []


_LATEX = ("\\documentclass{article}\n\\title{A Paper}\n"
          "\\begin{document}\n\\section{Intro}\nBody text.\n"
          "\\end{document}\n")


def _tar_one_tex() -> bytes:
    buf = io.BytesIO()
    data = _LATEX.encode()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
                      ) as tf:
        info = tarfile.TarInfo("bundle/paper.tex")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _xlsx_workbook() -> bytes:
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", (
            f'<workbook xmlns="{ns}"><sheets>'
            '<sheet name="Data" sheetId="1"/></sheets></workbook>'))
        zf.writestr("xl/worksheets/sheet1.xml", (
            f'<worksheet xmlns="{ns}"><sheetData><row r="1">'
            '<c r="A1" t="inlineStr"><is><t>cell text</t></is></c>'
            "</row></sheetData></worksheet>"))
    return buf.getvalue()


# payloads of formats the dispatcher no longer parses
_RETIRED_FORMATS = {
    "mbox": lambda: (b"From alice@example.org Mon Aug  4 08:00:00 2025\n"
                     b"From: alice@example.org\nSubject: hello\n"
                     b"Date: Mon, 04 Aug 2025 08:00:00 +0000\n\n"
                     b"Body line one.\n"),
    "ipynb": lambda: json.dumps({
        "cells": [{"cell_type": "markdown", "metadata": {},
                   "source": ["# Title\n", "Some prose."]}],
        "metadata": {"kernelspec": {"language": "python"}},
        "nbformat": 4, "nbformat_minor": 5}).encode(),
    "tar": _tar_one_tex,
    "xlsx": _xlsx_workbook,
    "latex": lambda: _LATEX.encode(),
}


@pytest.mark.parametrize("fmt", sorted(_RETIRED_FORMATS))
def test_retired_formats_take_the_fallback(fmt):
    """Mail archives, notebooks, tar bundles, spreadsheets and TeX
    sources are not dispatched: each is a fallback row from the text
    column, not a failed one."""
    res = extract_document(_RETIRED_FORMATS[fmt](), "row text")
    assert (res.doc_kind, res.extracted_text, res.failed) == (
        "empty", "row text", False)
    assert res.spans == [(0, 8, "fallback")]


def _office_docs(fmt):
    """(document with a heading and a body block, document with no
    text) for one zip-container format."""
    from historicaldatadocumentparsersystem_spark.extractor import (
        docx, epubx, odtx, pptx)
    if fmt == "pptx":
        return (pptx.make_pptx([{"title": "T", "paras": [("body", False)]}]),
                pptx.make_pptx([{"paras": []}]))
    if fmt == "epub":
        return epubx.make_epub([("T", ["body"])]), epubx.make_epub([])
    make = {"docx": docx.make_docx, "odt": odtx.make_odt}[fmt]
    return make([("heading", "T"), ("text", "body")]), make([])


@pytest.mark.parametrize("fmt", ["pptx", "docx", "odt", "epub"])
def test_zip_container_dispatch(fmt):
    """Each zip container the dispatcher claims yields its own kind with
    one block per span and no score; one with no text is a failed
    fallback row."""
    full, empty = _office_docs(fmt)
    res = extract_document(full, "fb")
    assert (res.doc_kind, res.extracted_text, res.score, res.failed) == (
        fmt, "T\nbody", 0.0, False)
    assert res.n_blocks == len(res.spans) > 0
    res = extract_document(empty, "fb")
    assert (res.doc_kind, res.extracted_text, res.failed) == (
        "empty", "fb", True)


# --- determinism --------------------------------------------------------------

def test_generator_deterministic():
    a = generate_rows(50)
    b = generate_rows(50)
    assert a == b
    c = generate_rows(50, seed=7)
    assert c != a


def test_extraction_idempotent(corpus):
    row = corpus[3]
    r1 = extract_document(row["html"], row["text"])
    r2 = extract_document(row["html"], row["text"])
    assert r1 == r2


def test_hot_host_skew():
    rows = generate_rows(1000)
    hot = sum(1 for r in rows if "hot.example.com" in r["url"])
    assert 0.25 < hot / len(rows) < 0.35  # ~30% on one host


def _extract_both(src):
    """(fast-scanner result, html.parser-builder result) for one page."""
    from historicaldatadocumentparsersystem_spark.extractor import htmlx
    fast = extract_html(src)
    orig = htmlx.parse_dom
    htmlx.parse_dom = parse_dom_htmlparser
    try:
        ref = extract_html(src)
    finally:
        htmlx.parse_dom = orig
    return fast, ref


def test_fast_scanner_equals_htmlparser_builder(corpus):
    """The regex scanner must produce the IDENTICAL extraction result as
    the stdlib html.parser reference builder on every corpus row."""
    for row in corpus:
        if sniff_kind(row["html"]) != "html":
            continue
        fast, ref = _extract_both(decode_payload(row["html"]))
        assert fast == ref, row["url"]


def test_fast_scanner_equals_htmlparser_adversarial():
    """Same A/B over the adversarial generator: deep nesting, entity
    storms, rawtext containing markup, quote abuse, stray closers,
    broken comments, truncation mid-tag — the fast path stays honest
    exactly where hand-written scanners historically diverge."""
    from historicaldatadocumentparsersystem_spark.fixtures import (
        adversarial_html_pages)
    for i, payload in enumerate(adversarial_html_pages(160)):
        src = decode_payload(payload)
        fast, ref = _extract_both(src)
        assert fast == ref, (i, src[:160])



# sha256 over extract_document's (extracted_text, spans, repr(score),
# title, failed) for adversarial_html_pages(400, 42), per class i % 8;
# a change that moves HTML output on any class fails here by class
_ADVERSARIAL_DIGESTS = (
    "7fca3536c47730b79fd99b496ca9aeb973bc84458efef225a32b233c9e2ff3a3",
    "f77a5f9143f61f55b69b3c7c277cf68c5992bdd0308506a71a946837ba377ff8",
    "0ab8ed90c0bb99088f9fa39f7c3cdba3d4a5e7167523c042e9beef3d41e68c0f",
    "ba2cd9116ee2a68c28f973382ce9a4661cdac4d5bb8e1e637d1644bd0028ca7f",
    "621f0d95a9684e4eefaeea37087e24e03d4df5c01b976e4c33ce071fec88fdff",
    "20170b32770094f056754eacdc3519c7e8f3211fcff762ad9cf927084ff2a73a",
    "858ef2e12761a0298674d0001394aae0a13ece2f1000cad6c42324f37518dd69",
    "652efbd1b356c6e69dcd2f6805e31f39a750e16449ca77c50302fe07f3eb1195",
)


@functools.lru_cache(maxsize=None)
def _adversarial_pages() -> tuple[bytes, ...]:
    from historicaldatadocumentparsersystem_spark.fixtures import (
        adversarial_html_pages)
    return tuple(adversarial_html_pages(400, 42))


@pytest.mark.parametrize("cls", range(8), ids=lambda c: f"class{c}")
def test_adversarial_html_output_is_pinned(cls):
    h = hashlib.sha256()
    for payload in _adversarial_pages()[cls::8]:
        r = extract_document(payload, None)
        h.update(repr((r.extracted_text, r.spans, repr(r.score), r.title,
                       r.failed)).encode())
    assert h.hexdigest() == _ADVERSARIAL_DIGESTS[cls]

def test_bogus_charref_fast_scanner_keeps_parsing():
    """Known reference-parser wart, pinned: on a bogus charref ('&#'
    not followed by digits/x) stdlib html.parser breaks its goahead
    loop and close() flushes the remaining document as raw DATA —
    '</p></body></html>' lands inside the text node. The fast scanner
    treats the bogus ref as text and KEEPS PARSING (the HTML5-correct
    reading), so this class is excluded from the strict A/B and our
    behavior is asserted directly."""
    from historicaldatadocumentparsersystem_spark.extractor import htmlx
    src = "<html><body><p>&#; and &#; tail.</p></body></html>"
    fast = extract_html(src)
    text, spans = fast[0], fast[1]
    assert text == "&#; and &#; tail."
    assert src[spans[0][0]:spans[-1][1]] == text
    # html.parser really does swallow the closing tags (the wart that
    # forces the exclusion — if this stops failing, re-enable the class)
    orig = htmlx.parse_dom
    htmlx.parse_dom = parse_dom_htmlparser
    try:
        ref_text = extract_html(src)[0]
    finally:
        htmlx.parse_dom = orig
    assert "</body>" in ref_text


def test_unterminated_comment_runs_to_eof():
    """HTML5: an unterminated <!-- comment swallows the rest of the
    document. The fast scanner does exactly that (empty extraction);
    html.parser instead flushes the tail as TEXT on close() — the other
    reference wart excluded from the strict A/B."""
    src = "<html><body><p>kept text here</p><!-- unterminated tail"
    fast = extract_html(src)
    assert fast[0] == "kept text here"
    assert all("unterminated" not in src[s:e] for s, e, _ in fast[1])


def test_rawtext_restart_does_not_swallow_markup():
    """The finditer-driven scanner restarts its token iterator after a
    RAWTEXT body skip. Without the restart, a stale match STARTED
    inside the skipped body (here `<!--` inside a script) would extend
    past the close tag and swallow the real markup that follows."""
    from historicaldatadocumentparsersystem_spark.extractor import htmlx
    src = ('<html><body><div><script>var a = "<!--";</script>'
           '<p>hello after script</p></div></body></html>')
    fast = extract_html(src)
    assert fast[0] == "hello after script"
    # and the A/B reference agrees
    orig = htmlx.parse_dom
    htmlx.parse_dom = parse_dom_htmlparser
    try:
        ref = extract_html(src)
    finally:
        htmlx.parse_dom = orig
    assert fast == ref
    # same shape with style + an unterminated rawtext body at EOF
    src2 = '<div><p>kept</p><style>a{content:"<div>"}</style>'
    assert extract_html(src2)[0] == "kept"
    src3 = '<div><p>kept</p><script>var x = "<p>lost'
    assert extract_html(src3)[0] == "kept"


def test_pdf_unescape_run_fast_path():
    """_unescape's backslash-free fast path and run copying are
    semantics-preserving: spec escapes, octal (1-3 digits), unknown
    escape drops the backslash, a trailing lone backslash is kept."""
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import (
        _unescape)
    assert _unescape("plain text, no escapes") == "plain text, no escapes"
    assert _unescape(r"a\nb\tc") == "a\nb\tc"
    assert _unescape(r"par\(en\)s \\ ok") == "par(en)s \\ ok"
    assert _unescape(r"oct \101 and \53 and \0531") == "oct A and + and +1"
    assert _unescape(r"drop \x unknown") == "drop x unknown"
    assert _unescape("tail\\") == "tail\\"
    assert _unescape("") == ""
