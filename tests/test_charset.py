"""Charset diagnostics + mojibake repair: extractor/charsetx.py
(golden-pinned) and its mapInPandas operator (structural identity +
map-only plan)."""

import pyarrow.parquet as pq
import pytest

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import charsetx
from historicaldatadocumentparsersystem_spark.extractor.htmlx import (
    decode_payload)
from historicaldatadocumentparsersystem_spark.operators import encoding

GOLDEN_CHARSET = "fixtures/golden_charset_seed42_n120.parquet"
_FIELDS = ["charset", "source", "declared", "declared_ok", "utf8_valid",
           "n_replacements", "mojibake_passes", "moji_hits_before",
           "moji_hits_after", "text"]


def _pure_rows(n: int) -> dict[str, dict]:
    out = {}
    for p in fixtures.charset_pages(n):
        if not p["html"]:
            continue
        out[p["url"]] = charsetx.encoding_profile(p["html"])
    return out


def test_charset_matches_committed_golden():
    """Pins charsetx semantics the way test_golden pins extraction: the
    committed parquet must equal a fresh pure-Python re-derivation."""
    golden = {r["url"]: {k: r[k] for k in _FIELDS}
              for r in pq.read_table(GOLDEN_CHARSET).to_pylist()}
    fresh = _pure_rows(120)
    assert set(golden) == set(fresh)
    for url, m in fresh.items():
        assert golden[url] == {k: m[k] for k in _FIELDS}, url


def test_sniff_decode_equals_engine_decode_everywhere():
    """decode_with_sniff must be byte-identical to the engine's
    decode_payload on EVERY fixture corpus — the profile is only a
    valid explanation of the decode if the two never diverge."""
    payloads = []
    for pages in [fixtures.charset_pages(240), fixtures.meta_pages(120),
                  fixtures.table_pages(120), fixtures.jsonld_pages(120)]:
        for p in pages:
            h = p["html"]
            if not h:
                continue
            payloads.append(h.encode("utf-8") if isinstance(h, str) else h)
    payloads += synth_inputs.adversarial_html_pages(100)
    for r in fixtures.generate_rows(300):
        if r["html"]:
            payloads.append(r["html"])
    assert len(payloads) > 800
    for h in payloads:
        text, sniff = charsetx.decode_with_sniff(h)
        assert text == decode_payload(h)
        assert sniff["n_replacements"] == text.count("�")


def test_bom_outranks_declaration():
    p = b"\xef\xbb\xbf" + '<meta charset="latin-1"><p>café</p>'.encode(
        "utf-8")
    s = charsetx.sniff_charset(p)
    assert s["charset"] == "utf-8" and s["source"] == "bom-utf8"
    assert s["declared"] == "latin-1" and s["declared_ok"] is True
    assert s["utf8_valid"] and s["n_replacements"] == 0


def test_unknown_declared_codec_falls_back_to_utf8():
    p = '<meta charset="klingon-8"><p>ok</p>'.encode("utf-8")
    s = charsetx.sniff_charset(p)
    assert s["charset"] == "utf-8" and s["source"] == "default"
    assert s["declared"] == "klingon-8" and s["declared_ok"] is False
    assert charsetx.decode_with_sniff(p)[0] == decode_payload(p)


def test_misdeclared_utf8_counts_replacements():
    p = '<meta charset="utf-8"><p>X</p>'.encode("utf-8").replace(
        b"X", b"caf\xe9 ok")
    s = charsetx.sniff_charset(p)
    assert s["declared_ok"] is False and not s["utf8_valid"]
    assert s["n_replacements"] == 1


def test_mojibake_single_and_double_roundtrip():
    clean = "café — prêt €99 … “ok”"
    once = charsetx.sloppy_cp1252_decode(clean.encode("utf-8"))
    twice = charsetx.sloppy_cp1252_decode(once.encode("utf-8"))
    assert charsetx.mojibake_score(once) > 0
    for mangled, want_passes in [(once, 1), (twice, 2)]:
        fixed, passes = charsetx.fix_mojibake(mangled)
        assert fixed == clean and passes == want_passes
        assert charsetx.mojibake_score(fixed) == 0


def test_repair_never_touches_genuine_text():
    for text in ["plain ascii only",
                 "café crème brûlée",   # real Latin
                 "日本語 text",                 # CJK: no cp1252
                 "emoji \U0001f600 tail"]:
        fixed, passes = charsetx.fix_mojibake(text)
        assert fixed == text and passes == 0


def test_sloppy_codec_total_and_roundtrips_holes():
    raw = bytes(range(256))
    s = charsetx.sloppy_cp1252_decode(raw)
    assert len(s) == 256
    assert charsetx._sloppy_encode(s) == raw
    # the five cp1252 holes come back as the matching C1 controls
    for b in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
        assert s[b] == chr(b)


def test_mojibake_through_a_cp1252_hole_still_repairs():
    """U+201D's UTF-8 tail byte 0x9D is a cp1252 hole: the browser's
    sloppy decode maps it to U+009D and the sloppy re-encode must
    restore it (strict cp1252 could not represent the mangled form)."""
    clean = "she said ”so”"
    once = charsetx.sloppy_cp1252_decode(clean.encode("utf-8"))
    assert "" in once
    fixed, passes = charsetx.fix_mojibake(once)
    assert fixed == clean and passes == 1


def test_encoding_profile_never_raises_on_fuzz():
    """Arbitrary bytes through the full profile path degrade to a
    lossy-decode row, never an exception (the parser/linkx never-raise
    property, applied to the charset layer)."""
    import random
    rng = random.Random("charsetx-fuzz")
    blobs = [bytes(rng.randrange(256) for _ in range(rng.randrange(400)))
             for _ in range(300)]
    blobs += [b"\xff\xfe", b"\xfe\xff", b"\xef\xbb\xbf", b"\x80" * 7,
              b"charset=", b"<meta charset=x-no-such>\xc3",
              b"\xc3" * 33, b"\xed\xa0\x80"]
    for blob in blobs:
        prof = charsetx.encoding_profile(blob)
        assert isinstance(prof["text"], str)
        assert prof["moji_hits_after"] >= 0
        assert prof["n_replacements"] >= 0


def test_operator_matches_golden(spark):
    """Structural identity: the Spark operator (which calls the same
    pure functions) must reproduce the committed golden exactly."""
    docs = fixtures.charset_pages_df(spark, 120)
    got = {r["url"]: r.asDict()
           for r in encoding.encoding_profile_df(docs).collect()}
    golden = {r["url"]: r for r in pq.read_table(GOLDEN_CHARSET).to_pylist()}
    assert set(got) == set(golden)
    for url, row in got.items():
        for k in _FIELDS:
            assert row[k] == golden[url][k], (url, k)


def test_encoding_profile_plan_is_map_only(spark):
    """One payload pass, no shuffle: the profile is a 1->1 mapInPandas
    over a pruned (url, html) projection."""
    rows = [(p["url"], p["html"]) for p in fixtures.charset_pages(24)]
    docs = spark.createDataFrame(rows, "url string, html binary")
    plan = (encoding.encoding_profile_df(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
