"""Property-based robustness tests (hypothesis) for the extraction core.

The invariants (SURVEY.md §5.2 item 3) must hold for ARBITRARY input,
not just the fixture corpus:
- extract_document never raises, whatever the bytes
- every span satisfies 0 <= start < end <= len(decoded source)
- for html: extracted_text == "\\n".join(src[s:e]) (A1 contract)
- idempotence: same input -> same output
"""

from hypothesis import given, settings, strategies as st

from historicaldatadocumentparsersystem_spark.extractor import extract_document
from historicaldatadocumentparsersystem_spark.extractor.htmlx import decode_payload
from html_reference_builder import parse_dom_htmlparser

_TAGS = ["div", "p", "a", "span", "ul", "li", "nav", "footer", "article",
         "script", "b", "h1", "table", "td", "form", "br", "img"]

_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="<>&"),
    max_size=80)


def _element(children: st.SearchStrategy[str]) -> st.SearchStrategy[str]:
    return st.builds(
        lambda tag, attrs, body, close:
            f"<{tag}{attrs}>" + body + (f"</{tag}>" if close else ""),
        st.sampled_from(_TAGS),
        st.sampled_from(["", " class='content'", " id=nav-menu",
                         " href='/x'", " class=\"sidebar ad\""]),
        children,
        st.booleans())


_html_fragment = st.recursive(
    _text, lambda kids: st.builds(
        lambda parts: "".join(parts),
        st.lists(st.one_of(kids, _element(kids)), max_size=5)),
    max_leaves=25)


@given(_html_fragment)
@settings(max_examples=150, deadline=None)
def test_random_html_invariants(fragment):
    payload = f"<html><body>{fragment}</body></html>".encode()
    res = extract_document(payload, "fb")
    assert res.doc_kind == "html"
    src = decode_payload(payload)
    for s, e, kind in res.spans:
        assert 0 <= s < e <= len(src)
        assert src[s] not in " \t\r\n" and src[e - 1] not in " \t\r\n"
    assert res.extracted_text == "\n".join(
        src[s:e] for s, e, _ in res.spans)
    assert res.n_blocks == len(res.spans)
    # idempotent
    again = extract_document(payload, "fb")
    assert again == res


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_arbitrary_bytes_never_crash(payload):
    res = extract_document(payload, "fallback")
    assert res.doc_kind in ("html", "pdf", "empty")
    if res.doc_kind == "empty":
        assert res.extracted_text == "fallback"


@given(st.binary(max_size=512), st.integers(0, 3))
@settings(max_examples=100, deadline=None)
def test_pdf_prefixed_bytes_never_crash(tail, npages):
    payload = b"%PDF-1.4\n" + tail
    res = extract_document(payload, "fb")
    assert res.doc_kind in ("pdf", "empty")
    if res.doc_kind == "pdf":
        src = payload.decode("latin-1")
        for s, e, _ in res.spans:
            assert 0 <= s < e <= len(src)


@given(st.binary(max_size=300),
       st.sampled_from([b"/FlateDecode", b"/LZWDecode", b"/ASCIIHexDecode",
                        b"/ASCII85Decode", b"/RunLengthDecode",
                        b"[/ASCII85Decode /FlateDecode]",
                        b"[/ASCIIHexDecode /LZWDecode]",
                        b"[/RunLengthDecode /FlateDecode]",
                        b"/JBIG2Decode"]))
@settings(max_examples=150, deadline=None)
def test_pdf_filtered_stream_garbage_never_crashes(body, filt):
    """Arbitrary bytes behind every supported /Filter (and chain, and
    one unsupported name) must decode-or-skip, never raise — the F5
    degrade gate now covers five decoders, each with its own failure
    modes (zlib errors, LZW bad codes, odd hex, a85 range errors,
    truncated RunLength runs)."""
    payload = (b"%PDF-1.4\n1 0 obj\n<< /Length " +
               str(len(body)).encode() + b" /Filter " + filt +
               b" >>\nstream\n" + body + b"\nendstream\nendobj\n")
    res = extract_document(payload, "fb")
    assert res.doc_kind in ("pdf", "empty")
    for s, e, _ in res.spans:
        assert 0 <= s < e


# --- fast scanner vs html.parser A/B (adversarial markup) -------------------

# in-contract adversarial markup: every construct both parsers define
# identically (excluded warts — bogus/;-less charrefs, unterminated
# comments, post-quote garbage — are pinned one-sidedly in
# tests/test_extractor_oracle.py)
_ab_text = st.text(alphabet=" abcdef,.!", max_size=30)
_ab_ents = st.sampled_from(
    ["&amp;", "&lt;", "&gt;", "&quot;", "&eacute;", "&#65;", "&#x2603;",
     "&amp", "&unknown;"])
_ab_attrs = st.sampled_from(
    ["", " class=content", " CLASS=Content", " class=\"a > b\"",
     " id='x > y'", " title='its > fine'", " href=/x?a=1&b=2",
     " class='sidebar ad' id=MENU"])
_ab_chunks = st.one_of(
    _ab_text, _ab_ents,
    st.builds(lambda t, a, txt, close:
              f"<{t}{a}>{txt}" + (f"</{t}>" if close else ""),
              st.sampled_from(["div", "p", "span", "li", "ul", "article",
                               "DIV", "P", "B", "table", "td", "nav"]),
              _ab_attrs, _ab_text, st.booleans()),
    st.builds(lambda t: f"</{t}>",
              st.sampled_from(["p", "div", "li", "ul", "b", "x"])),
    st.builds(lambda txt: f"<!-- {txt} -->", _ab_text),
    st.builds(lambda txt: f"<script>var a = '<p>{txt}</p>' && 1 < 2;"
                          "</script>", _ab_text),
    st.sampled_from(["<br>", "<BR/>", "<img src=x.png>", "<hr>",
                     "<![CDATA[<p>raw</p>]]>", "<!DOCTYPE html>",
                     "<?php echo 1 ?>"]))


@given(st.lists(_ab_chunks, max_size=30))
@settings(max_examples=150, deadline=None)
def test_fast_scanner_ab_property(parts):
    """For arbitrary in-contract markup soup, the one-regex scanner and
    the stdlib html.parser builder must yield the IDENTICAL extraction
    tuple (text, spans, title, score) — the property form of the
    fixture A/B, hunting tokenizer divergence classes, not just rows
    the corpus generator happens to produce."""
    from historicaldatadocumentparsersystem_spark.extractor import htmlx
    src = ("<html><head><title>t</title></head><body>"
           + "".join(parts) + "</body></html>")
    fast = htmlx.extract_html(src)
    orig = htmlx.parse_dom
    htmlx.parse_dom = parse_dom_htmlparser
    try:
        ref = htmlx.extract_html(src)
    finally:
        htmlx.parse_dom = orig
    assert fast == ref


# --- committed-vocab BPE invariants (C5) ------------------------------------

@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_bpe_invariants(text):
    """For ARBITRARY text: tokens are non-empty, per-word tokens
    concatenate back to word + end marker (lossless), counts are
    deterministic, and every pre-token costs at least one token."""
    from historicaldatadocumentparsersystem_spark.extractor import bpe
    words = bpe._PRETOK.findall(text.lower())
    total = 0
    for w in words:
        toks = bpe.bpe_word(w)
        assert all(toks)
        assert "".join(toks) == w + "</w>"
        assert 1 <= len(toks) <= len(w) + 1
        total += len(toks)
    assert bpe.token_count(text) == total
    assert bpe.token_count(text) == bpe.token_count(text)


# --- chunking oracle properties (A4) ----------------------------------------

_elements = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 50),
              st.text(alphabet=" abcdef", max_size=60)),
    max_size=20)


@given(_elements, st.integers(2, 12), st.integers(0, 4))
@settings(max_examples=200, deadline=None)
def test_chunking_properties(elements, max_tokens, overlap):
    from historicaldatadocumentparsersystem_spark.operators.chunking import (
        chunk_elements)
    overlap = min(overlap, max_tokens - 1)
    chunks = chunk_elements(elements, max_tokens, overlap)
    # budget respected by every chunk
    for cid, page, text, n_tokens in chunks:
        assert 1 <= n_tokens <= max_tokens
        assert n_tokens == len(text.split())
    # chunk ids are dense and ordered
    assert [c[0] for c in chunks] == list(range(len(chunks)))
    # no content loss: every input word lands in some chunk (window
    # splits may duplicate words, never drop them)
    in_words = [w for _, _, t in elements for w in t.split()]
    out_words = [w for _, _, t, _ in chunks for w in t.split()]
    assert set(in_words) <= set(out_words)
    if not in_words:
        assert chunks == []
    # deterministic
    assert chunks == chunk_elements(elements, max_tokens, overlap)


@given(_elements, st.integers(4, 16), st.integers(0, 3))
@settings(max_examples=150, deadline=None)
def test_chunking_bpe_counter_properties(elements, max_tokens, overlap):
    """Tokenizer-exact budgets: with counter='bpe' every chunk's
    n_tokens equals the committed-vocab tokenizer's count of its text
    (additivity across whitespace joins), and the budget holds except
    when a single word alone exceeds it (forced one-word window)."""
    from historicaldatadocumentparsersystem_spark.extractor import bpe
    from historicaldatadocumentparsersystem_spark.operators.chunking import (
        chunk_elements)
    overlap = min(overlap, max_tokens - 1)
    chunks = chunk_elements(elements, max_tokens, overlap, counter="bpe")
    for cid, page, text, n_tokens in chunks:
        assert n_tokens == bpe.token_count(text)
        words = text.split()
        if len(words) > 1:
            assert n_tokens <= max_tokens
        assert n_tokens >= 1
    assert [c[0] for c in chunks] == list(range(len(chunks)))
    in_words = [w for _, _, t in elements for w in t.split()]
    out_words = [w for _, _, t, _ in chunks for w in t.split()]
    assert set(in_words) <= set(out_words)
    assert chunks == chunk_elements(elements, max_tokens, overlap,
                                    counter="bpe")


# --- OOXML subset round-trips (S6/S7) ---------------------------------------

# XML 1.0 cannot carry control chars (Cc), surrogates (Cs), or
# noncharacters like U+FFFE (Cn) — the encoders strip them (see
# docx._XML_BAD), so the roundtrip property quantifies over the
# XML-representable domain; the strip itself is pinned by
# test_ooxml_encoders_strip_non_xml_chars below.
_para_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="<>&\"",
                           exclude_categories=("Cs", "Cc", "Cn")),
    min_size=0, max_size=40)


def test_ooxml_encoders_strip_non_xml_chars():
    """Regression (r6): make_pptx/make_docx emitted raw U+FFFE — a
    noncharacter the XML 1.0 Char production forbids — so the decoder
    correctly skipped the whole part and the roundtrip returned [].
    The encode half must produce decodable output: forbidden code
    points are stripped, everything else survives."""
    from historicaldatadocumentparsersystem_spark.extractor import docx, pptx
    payload = pptx.make_pptx([{"title": "a￾b",
                               "paras": [("x\x0by￿z", True)]}])
    got = [(e.slide, e.kind, e.text) for e in pptx.extract_pptx(payload)]
    assert got == [(1, "title", "ab"), (1, "list_item", "xyz")]
    payload = docx.make_docx([("text", "p￾q")])
    assert [(e.kind, e.text) for e in docx.extract_docx(payload)] \
        == [("text", "pq")]


@given(st.lists(st.tuples(
    st.sampled_from(["heading", "list_item", "text"]), _para_text),
    max_size=12))
@settings(max_examples=60, deadline=None)
def test_docx_roundtrip(paras):
    """make_docx -> extract_docx returns exactly the non-blank
    paragraphs, kinds preserved, in order."""
    from historicaldatadocumentparsersystem_spark.extractor import docx
    payload = docx.make_docx(paras)
    got = [(e.kind, e.text) for e in docx.extract_docx(payload)]
    want = [(k, t) for k, t in paras if t.strip()]
    assert got == want
    # and the dispatcher never fails on it
    res = extract_document(payload, "fb")
    assert res.doc_kind in ("docx", "empty")


@given(st.lists(st.fixed_dictionaries({
    "title": st.one_of(st.none(), _para_text.filter(lambda s: s.strip())),
    "paras": st.lists(st.tuples(_para_text, st.booleans()), max_size=6),
}), max_size=4))
@settings(max_examples=60, deadline=None)
def test_pptx_roundtrip(slides):
    """make_pptx -> extract_pptx: titles then non-blank paragraphs per
    slide, bullet flag -> list_item, reading order preserved."""
    from historicaldatadocumentparsersystem_spark.extractor import pptx
    payload = pptx.make_pptx(slides)
    got = [(e.slide, e.kind, e.text) for e in pptx.extract_pptx(payload)]
    want = []
    for i, slide in enumerate(slides):
        if slide["title"]:
            want.append((i + 1, "title", slide["title"]))
        for text, bulleted in slide["paras"]:
            if text.strip():
                want.append((i + 1,
                             "list_item" if bulleted else "text", text))
    assert got == want


@given(st.binary(max_size=300))
@settings(max_examples=120, deadline=None)
def test_zip_prefixed_bytes_never_crash(tail):
    """The OOXML dispatcher branch must degrade, never raise, on
    arbitrary PK-prefixed garbage (truncated/corrupt zips)."""
    res = extract_document(b"PK\x03\x04" + tail, "fb")
    assert res.doc_kind in ("pptx", "docx", "empty")
    assert isinstance(res.extracted_text, str)


# --- media batch ops: never-raise fuzz (round-4 regression guard for the
# r3 malformed-payload fix — broad except -> null rows, never a crashed
# Arrow task). The batch fns are called IN-PROCESS with pandas frames:
# identical code path to mapInPandas, no Spark session needed.

def _media_batch(payloads):
    import pandas as pd
    return [pd.DataFrame({
        "media_id": [f"m{i}" for i in range(len(payloads))],
        "payload": payloads})]


_MAGICS = [b"", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8\xff",
           b"RIFF1234WAVE", b"FRMS"]


@given(st.binary(max_size=400), st.sampled_from(_MAGICS))
@settings(max_examples=80, deadline=None)
def test_media_batch_ops_never_raise(tail, magic):
    """image stats / resize / decode all degrade to null rows on
    arbitrary — including magic-prefixed — garbage: one output row per
    input row."""
    from historicaldatadocumentparsersystem_spark.operators import multimodal

    payloads = [magic + tail, None, b""]
    batches = _media_batch(payloads)

    out = list(multimodal._image_stats_batch(iter(batches)))
    assert sum(len(o) for o in out) == len(payloads)

    out = list(multimodal._resize_batch_fn(4, 3)(iter(batches)))
    assert sum(len(o) for o in out) == len(payloads)

    out = list(multimodal.decode_media_batch(iter(batches)))
    assert sum(len(o) for o in out) == len(payloads)


@given(st.binary(max_size=200), st.integers(0, 120))
@settings(max_examples=60, deadline=None)
def test_media_truncated_real_png_never_raises(tail, cut):
    """A REAL encoded PNG truncated at any byte (then garbage-extended)
    must yield null stats, not a crash — the exact malformed-payload
    class the r3 ADVICE flagged."""
    from historicaldatadocumentparsersystem_spark.extractor import imagex
    from historicaldatadocumentparsersystem_spark.operators import multimodal
    px = bytes(range(48))  # 4x4 RGB
    png = imagex.encode_png(px, 4, 4, 3)
    mangled = png[:min(cut, len(png))] + tail
    out = list(multimodal._image_stats_batch(
        _media_batch([mangled]).__iter__()))
    assert sum(len(o) for o in out) == 1


@given(st.binary(max_size=4096))
@settings(max_examples=150, deadline=None)
def test_pdf_info_never_raises(payload):
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        extract_pdf_info
    info = extract_pdf_info(payload)
    assert info is None or isinstance(info, dict)


@given(st.binary(max_size=2048))
@settings(max_examples=150, deadline=None)
def test_pdf_info_never_raises_with_pdf_magic(payload):
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        extract_pdf_info
    # force the parser past the magic gate into trailer/object scanning
    info = extract_pdf_info(
        b"%PDF-1.4\n" + payload
        + b"\ntrailer\n<< /Info 1 0 R >>\n%%EOF")
    assert info is None or isinstance(info, dict)


@given(st.binary(max_size=4096))
@settings(max_examples=100, deadline=None)
def test_office_meta_never_raises(payload):
    from historicaldatadocumentparsersystem_spark.extractor.officemeta import \
        extract_office_meta
    meta = extract_office_meta(payload)
    assert meta is None or isinstance(meta, dict)


@given(st.binary(max_size=1024))
@settings(max_examples=100, deadline=None)
def test_office_meta_never_raises_zip_magic(payload):
    from historicaldatadocumentparsersystem_spark.extractor.officemeta import \
        extract_office_meta
    meta = extract_office_meta(b"PK\x03\x04" + payload)
    assert meta is None or isinstance(meta, dict)
