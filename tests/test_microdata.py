"""schema.org microdata: extractor/microdatax.py (golden-pinned), its
mapInPandas operator (structural identity + map-only plan) and the
microdata_records composition (typed records via self-joins)."""

import pyarrow.parquet as pq
import pytest

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import microdatax
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_MICRODATA = "fixtures/golden_microdata_seed42_n120.parquet"
_COLS = ["item_idx", "parent_idx", "itemtype", "itemid", "prop_idx",
         "prop", "value", "kind"]


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.microdata_pages(n):
        if not p["html"]:
            continue
        for r in microdatax.extract_microdata(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_microdata_matches_committed_golden():
    """Pins microdatax semantics the way test_golden pins extraction:
    the committed parquet must equal a fresh pure re-derivation."""
    golden = [(r["url"], *(r[k] for k in _COLS))
              for r in pq.read_table(GOLDEN_MICRODATA).to_pylist()]
    assert golden == _pure_rows(120)


def test_value_rules_by_tag():
    html = (
        '<div itemscope itemtype="https://schema.org/Product t2">'
        '<meta itemprop="sku" content="S1">'
        '<meta itemprop="gtin">'                      # missing content
        '<img itemprop="image" src="/i.png">'
        '<a itemprop="url" href="p.html">x</a>'
        '<time itemprop="d1" datetime="2024-01-02">Jan</time>'
        '<time itemprop="d2">Jan 3rd</time>'
        '<data itemprop="n" value="7">seven</data>'
        '<span itemprop="name">A <b>bold</b> name</span>'
        '</div>')
    rows = microdatax.extract_microdata(html, "https://h.example/x/")
    decl = rows[0]
    assert decl == (0, None, "https://schema.org/Product", None, -1,
                    None, None, "item")                # first type token
    props = {r[5]: (r[6], r[7]) for r in rows[1:]}
    assert props["sku"] == ("S1", "attr")
    assert props["gtin"] == (None, "attr")
    assert props["image"] == ("https://h.example/i.png", "url")
    assert props["url"] == ("https://h.example/x/p.html", "url")
    assert props["d1"] == ("2024-01-02", "attr")
    assert props["d2"] == ("Jan 3rd", "text")
    assert props["n"] == ("7", "attr")
    assert props["name"] == ("A bold name", "text")
    # prop_idx is the per-item emission counter
    assert [r[4] for r in rows[1:]] == list(range(8))


def test_nested_items_scope_and_refs():
    html = (
        '<div itemscope itemtype="T0">'
        '<span itemprop="a">one</span>'
        '<div itemprop="child kid" itemscope itemtype="T1">'
        '<span itemprop="b">two</span></div>'
        '<span itemprop="c">three</span></div>')
    rows = microdatax.extract_microdata(html)
    # child declaration precedes the parent's ref rows; multi-token
    # itemprop yields one ref per token; descendants of the nested
    # item never leak onto the outer one; the sibling after the
    # nested subtree returns to the outer item
    assert rows == [
        (0, None, "T0", None, -1, None, None, "item"),
        (0, None, None, None, 0, "a", "one", "text"),
        (1, 0, "T1", None, -1, None, None, "item"),
        (0, None, None, None, 1, "child", "1", "ref"),
        (0, None, None, None, 2, "kid", "1", "ref"),
        (1, None, None, None, 0, "b", "two", "text"),
        (0, None, None, None, 3, "c", "three", "text"),
    ]


def test_orphan_itemprop_and_stray_itemscope():
    html = (
        '<span itemprop="orphan">ignored</span>'
        '<div itemscope>'
        '<div itemscope itemtype="T"><span itemprop="x">in</span></div>'
        '<span itemprop="y">outer</span></div>')
    rows = microdatax.extract_microdata(html)
    # no row for the orphan; the inner itemscope WITHOUT itemprop is a
    # new top-level item (parent_idx null, no ref row on the outer)
    assert rows == [
        (0, None, None, None, -1, None, None, "item"),
        (1, None, "T", None, -1, None, None, "item"),
        (1, None, None, None, 0, "x", "in", "text"),
        (0, None, None, None, 0, "y", "outer", "text"),
    ]


def test_duplicate_tokens_dropped_itemid_resolved():
    html = ('<div itemscope itemtype="T" itemid="ids/7">'
            '<b itemprop="n n m n">v</b></div>')
    rows = microdatax.extract_microdata(html, "https://h.example/a/")
    assert rows[0][3] == "https://h.example/a/ids/7"
    assert [(r[5], r[6]) for r in rows[1:]] == [("n", "v"), ("m", "v")]


def test_malformed_never_raises():
    import random
    rng = random.Random("microdatax-fuzz")
    pages = synth_inputs.adversarial_html_pages(120)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<div itemscope", b"<meta itemprop>", b"",
              b"<div itemscope itemprop>",
              b"<a itemprop=x itemscope itemprop=y href=z>"]
    for p in pages:
        for row in microdatax.extract_microdata(p, "https://f.example/"):
            assert len(row) == 8


def test_operator_matches_golden(spark):
    """Structural identity: the Spark operator (same pure functions)
    must reproduce the committed golden exactly."""
    docs = fixtures.microdata_pages_df(spark, 120)
    key = lambda t: (t[0], t[1], t[5])      # (url, item_idx, prop_idx)
    got = sorted(
        (tuple(r) for r in pagemeta.extract_microdata_df(docs).collect()),
        key=key)
    golden = sorted(((r["url"], *(r[k] for k in _COLS))
                     for r in pq.read_table(GOLDEN_MICRODATA).to_pylist()),
                    key=key)
    assert got == golden


def test_microdata_plan_is_map_only(spark):
    rows = [(p["url"], p["html"]) for p in fixtures.microdata_pages(24)]
    docs = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_microdata_df(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_microdata_records_typed_and_ref_resolved(spark):
    md = spark.read.parquet(GOLDEN_MICRODATA)
    recs = pagemeta.microdata_records(md)
    got = {(r["url"], r["item_idx"], r["prop_idx"]):
           (r["itemtype"], r["prop"], r["value"], r["kind"],
            r["ref_itemtype"]) for r in recs.collect()}
    # every non-decl golden row appears exactly once, typed by its item
    golden = [r for r in pq.read_table(GOLDEN_MICRODATA).to_pylist()]
    types = {(r["url"], r["item_idx"]): r["itemtype"]
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
    assert len(got) == n_props > 300

    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
