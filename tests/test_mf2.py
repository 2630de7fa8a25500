"""Microformats2: extractor/mf2x.py (golden-pinned), its mapInPandas
operator and the mf2_records composition (shared _typed_records)."""

import pyarrow.parquet as pq
import pytest

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import mf2x
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_MF2 = "fixtures/golden_mf2_seed42_n120.parquet"
_COLS = ["item_idx", "parent_idx", "mf_type", "prop_idx", "prop",
         "value", "kind"]


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.mf2_pages(n):
        if not p["html"]:
            continue
        for r in mf2x.extract_mf2(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_mf2_matches_committed_golden():
    golden = [(r["url"], *(r[k] for k in _COLS))
              for r in pq.read_table(GOLDEN_MF2).to_pylist()]
    assert golden == _pure_rows(120)


def test_value_rules_by_prefix():
    html = (
        '<div class="h-review">'
        '<img class="p-name" src="/x.png" alt="alt wins">'
        '<abbr class="p-nick" title="short">Long Name</abbr>'
        '<data class="p-score" value="5">five</data>'
        '<a class="u-url" href="rel.html">link</a>'
        '<span class="u-uid">text fallback</span>'
        '<time class="dt-at" datetime="2024-01-01">new year</time>'
        '<del class="dt-gone">no attr</del>'
        '<div class="e-body">rich <b>content</b></div>'
        '</div>')
    rows = mf2x.extract_mf2(html, "https://h.example/a/")
    props = {r[4]: (r[5], r[6]) for r in rows if r[6] != "item"}
    assert props == {
        "name": ("alt wins", "p"),
        "nick": ("short", "p"),
        "score": ("5", "p"),
        "url": ("https://h.example/a/rel.html", "u"),
        "uid": ("text fallback", "u"),
        "at": ("2024-01-01", "dt"),
        "gone": ("no attr", "dt"),
        "body": ("rich content", "e"),
    }


def test_nested_author_card_and_scoping():
    html = (
        '<article class="h-entry"><span class="p-name">post</span>'
        '<div class="p-author h-card">'
        '<b class="p-name">alice</b></div>'
        '<span class="p-category">after</span></article>')
    rows = mf2x.extract_mf2(html)
    assert rows == [
        (0, None, "h-entry", -1, None, None, "item"),
        (0, None, None, 0, "name", "post", "p"),
        (1, 0, "h-card", -1, None, None, "item"),
        (0, None, None, 1, "author", "1", "ref"),
        (1, None, None, 0, "name", "alice", "p"),
        (0, None, None, 2, "category", "after", "p"),
    ]


def test_root_tokens_case_sensitive_and_orphans():
    html = ('<div class="H-Card">nope</div>'
            '<span class="p-name">orphan</span>'
            '<div class="hero h-note extra">'
            '<i class="p-name">ok</i></div>')
    rows = mf2x.extract_mf2(html)
    assert rows == [
        (0, None, "h-note", -1, None, None, "item"),
        (0, None, None, 0, "name", "ok", "p"),
    ]


def test_malformed_never_raises():
    import random
    rng = random.Random("mf2x-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b'<div class="h-">x</div>', b'<div class>',
              b'<div class="p- u- dt- e-">y</div>', b""]
    for p in pages:
        for row in mf2x.extract_mf2(p, "https://f.example/"):
            assert len(row) == 7


def test_operator_matches_golden(spark):
    docs = fixtures.mf2_pages_df(spark, 120)
    key = lambda t: (t[0], t[1], t[4])      # (url, item_idx, prop_idx)
    got = sorted((tuple(r)
                  for r in pagemeta.extract_mf2_df(docs).collect()),
                 key=key)
    golden = sorted(((r["url"], *(r[k] for k in _COLS))
                     for r in pq.read_table(GOLDEN_MF2).to_pylist()),
                    key=key)
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.mf2_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_mf2_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_mf2_records_typed_and_ref_resolved(spark):
    md = spark.read.parquet(GOLDEN_MF2)
    recs = pagemeta.mf2_records(md)
    got = {(r["url"], r["item_idx"], r["prop_idx"]):
           (r["mf_type"], r["prop"], r["value"], r["kind"],
            r["ref_mf_type"]) for r in recs.collect()}
    golden = pq.read_table(GOLDEN_MF2).to_pylist()
    types = {(r["url"], r["item_idx"]): r["mf_type"]
             for r in golden if r["kind"] == "item"}
    n_props = 0
    for r in golden:
        if r["kind"] == "item":
            continue
        n_props += 1
        t, prop, value, kind, ref_t = got[
            (r["url"], r["item_idx"], r["prop_idx"])]
        assert (t, prop, value, kind) == (
            types[(r["url"], r["item_idx"])], r["prop"], r["value"],
            r["kind"])
        if kind == "ref":
            assert ref_t == types[(r["url"], int(r["value"]))]
        else:
            assert ref_t is None
    assert len(got) == n_props > 250
