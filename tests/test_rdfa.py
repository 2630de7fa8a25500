"""RDFa Lite: extractor/rdfax.py (golden-pinned), its mapInPandas
operator and the rdfa_records composition (shared _typed_records
path with microdata)."""

import pyarrow.parquet as pq
import pytest

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import rdfax
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_RDFA = "fixtures/golden_rdfa_seed42_n120.parquet"
_COLS = ["item_idx", "parent_idx", "typeof", "vocab", "resource",
         "prop_idx", "prop", "value", "kind"]


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.rdfa_pages(n):
        if not p["html"]:
            continue
        for r in rdfax.extract_rdfa(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_rdfa_matches_committed_golden():
    golden = [(r["url"], *(r[k] for k in _COLS))
              for r in pq.read_table(GOLDEN_RDFA).to_pylist()]
    assert golden == _pure_rows(120)


def test_vocab_scoping_and_override():
    html = (
        '<html vocab="https://schema.org/"><body>'
        '<div typeof="Product"><span property="name">p</span>'
        '<div vocab="https://example.org/v#">'
        '<div typeof="Widget"><span property="w">x</span></div></div>'
        '<span property="sku">after override subtree</span>'
        '</div>'
        '<div typeof="Thing">top again</div>'
        '</body></html>')
    rows = rdfax.extract_rdfa(html)
    decls = {r[0]: (r[2], r[3]) for r in rows if r[8] == "item"}
    # inner vocab applies only inside its subtree; the sibling span
    # and the later top-level item see the outer vocab again
    assert decls == {0: ("Product", "https://schema.org/"),
                     1: ("Widget", "https://example.org/v#"),
                     2: ("Thing", "https://schema.org/")}
    props = [(r[0], r[6], r[7]) for r in rows if r[8] != "item"]
    assert (0, "sku", "after override subtree") in props
    assert (1, "w", "x") in props


def test_content_attribute_wins_on_any_tag():
    html = ('<div vocab="v" typeof="T">'
            '<span property="a" content="attr wins">text loses</span>'
            '<a property="u" href="/x" content="also wins">l</a>'
            '<span property="b">plain text</span></div>')
    rows = rdfax.extract_rdfa(html, "https://h.example/")
    props = {r[6]: (r[7], r[8]) for r in rows if r[8] != "item"}
    assert props["a"] == ("attr wins", "attr")
    assert props["u"] == ("also wins", "attr")
    assert props["b"] == ("plain text", "text")


def test_nested_item_refs_and_about_resource():
    html = (
        '<div vocab="v" typeof="T0" about="/things/1">'
        '<div property="part spare" typeof="T1" resource="#p1">'
        '<span property="name">n</span></div></div>')
    rows = rdfax.extract_rdfa(html, "https://h.example/")
    assert rows == [
        (0, None, "T0", "v", "https://h.example/things/1",
         -1, None, None, "item"),
        (1, 0, "T1", "v", "https://h.example/#p1",
         -1, None, None, "item"),
        (0, None, None, None, None, 0, "part", "1", "ref"),
        (0, None, None, None, None, 1, "spare", "1", "ref"),
        (1, None, None, None, None, 0, "name", "n", "text"),
    ]


def test_orphan_property_ignored():
    html = ('<span property="orphan">x</span>'
            '<div vocab="v"><span property="still orphan">y</span></div>')
    assert rdfax.extract_rdfa(html) == []


def test_malformed_never_raises():
    import random
    rng = random.Random("rdfax-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<div typeof>", b"<span property>", b"",
              b"<div vocab typeof property>"]
    for p in pages:
        for row in rdfax.extract_rdfa(p, "https://f.example/"):
            assert len(row) == 9


def test_operator_matches_golden(spark):
    docs = fixtures.rdfa_pages_df(spark, 120)
    key = lambda t: (t[0], t[1], t[6])      # (url, item_idx, prop_idx)
    got = sorted((tuple(r)
                  for r in pagemeta.extract_rdfa_df(docs).collect()),
                 key=key)
    golden = sorted(((r["url"], *(r[k] for k in _COLS))
                     for r in pq.read_table(GOLDEN_RDFA).to_pylist()),
                    key=key)
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.rdfa_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_rdfa_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_rdfa_records_typed_and_ref_resolved(spark):
    md = spark.read.parquet(GOLDEN_RDFA)
    recs = pagemeta.rdfa_records(md)
    got = {(r["url"], r["item_idx"], r["prop_idx"]):
           (r["typeof"], r["vocab"], r["prop"], r["value"], r["kind"],
            r["ref_typeof"]) for r in recs.collect()}
    golden = pq.read_table(GOLDEN_RDFA).to_pylist()
    types = {(r["url"], r["item_idx"]): (r["typeof"], r["vocab"])
             for r in golden if r["kind"] == "item"}
    n_props = 0
    for r in golden:
        if r["kind"] == "item":
            continue
        n_props += 1
        t, v, prop, value, kind, ref_t = got[
            (r["url"], r["item_idx"], r["prop_idx"])]
        tt, tv = types[(r["url"], r["item_idx"])]
        assert (t, v, prop, value, kind) == (tt, tv, r["prop"],
                                             r["value"], r["kind"])
        if kind == "ref":
            assert ref_t == types[(r["url"], int(r["value"]))][0]
        else:
            assert ref_t is None
    assert len(got) == n_props > 250

    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
