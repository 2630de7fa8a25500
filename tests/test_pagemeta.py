"""Page-structure layer: extractor/metax.py and extractor/tablex.py
(both golden-pinned) and their mapInPandas operators (structural
identity + map-only plans)."""

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import metax, tablex
from historicaldatadocumentparsersystem_spark.operators import pagemeta
from html_reference_builder import parse_dom_htmlparser

GOLDEN_META = "fixtures/golden_meta_seed42_n120.parquet"
GOLDEN_TABLES = "fixtures/golden_tables_seed42_n120.parquet"


def _pure_rows(n: int) -> dict[str, dict]:
    out = {}
    for p in fixtures.meta_pages(n):
        if not p["html"]:
            continue
        out[p["url"]] = metax.extract_meta(p["html"], p["url"])
    return out


def test_meta_matches_committed_golden():
    """Pins metax semantics the way test_golden pins extraction: the
    committed parquet must equal a fresh pure-Python re-derivation."""
    golden = {r["url"]: {k: r[k] for k in metax.META_FIELDS}
              for r in pq.read_table(GOLDEN_META).to_pylist()}
    fresh = _pure_rows(120)
    assert set(golden) == set(fresh)
    for url, m in fresh.items():
        assert golden[url] == m, url


def test_meta_first_wins_case_and_entities():
    src = ('<html Lang=" pt-BR "><head>'
           '<title> A &amp; B </title><title>loser</title>'
           "<meta NAME='Description' content='d&#49;  one'>"
           '<meta name="description" content="loser">'
           '<link rel="ALTERNATE canonical" href="/c">'
           '<link rel="canonical" href="/loser">'
           '<meta property="OG:URL" content="og">'
           '</head><body></body></html>')
    m = metax.extract_meta(src, "https://h.example/dir/p.html")
    assert m["lang"] == "pt-BR"
    assert m["title"] == "A &amp; B"          # raw slice keeps entities
    assert m["description"] == "d1 one"       # attrs come back decoded
    assert m["canonical"] == "https://h.example/c"
    assert m["og_url"] == "https://h.example/dir/og"
    assert m["keywords"] is None and m["robots"] is None


def test_meta_pagination_and_feed_discovery():
    src = ('<html><head>'
           '<link rel="NEXT" href="?page=3">'
           '<link rel="next" href="/loser">'
           '<link rel="prev" href="?page=1">'
           '<link rel="alternate" type="text/html" href="/not-a-feed">'
           '<link rel="alternate" type="application/atom+xml; q=0.9" '
           'href="/atom.xml">'
           '<link rel="alternate" type="application/rss+xml" '
           'href="/second-feed-loses">'
           '</head></html>')
    m = metax.extract_meta(src, "https://h.example/list?page=2")
    assert m["rel_next"] == "https://h.example/list?page=3"
    assert m["rel_prev"] == "https://h.example/list?page=1"
    assert m["feed_url"] == "https://h.example/atom.xml"


def test_meta_first_occurrence_claims_even_when_empty():
    """The first source element claims the field even if its value
    normalizes to null — a later (boilerplate/attacker-controlled)
    duplicate can never override an empty placeholder."""
    m = metax.extract_meta(
        '<html><head>'
        '<meta name="description" content=""><meta name="description" '
        'content="spam wins without claim semantics">'
        '<title>  </title><title>late title</title>'
        '<link rel="canonical" href=""><link rel="canonical" href="/x">'
        '</head></html>', "https://h/")
    assert m["description"] is None
    assert m["title"] is None
    assert m["canonical"] is None


def test_hreflang_extraction_and_golden():
    got = metax.extract_hreflang(
        '<html><head>'
        '<link rel="alternate" hreflang="EN-us" href="/en">'
        '<link rel="alternate" hreflang="fr" href="https://fr.h/">'
        '<link rel="alternate" hreflang="x-default" href="/">'
        '<link rel="alternate" type="application/rss+xml" href="/feed">'
        '<link rel="canonical" hreflang="de" href="/de">'
        '<link rel="alternate" hreflang="" href="/none">'
        '</head></html>', "https://h.example/p")
    assert got == [(0, "en-us", "https://h.example/en"),
                   (1, "fr", "https://fr.h/"),
                   (2, "x-default", "https://h.example/")]
    golden = [(r["url"], r["pos"], r["hreflang"], r["href"])
              for r in pq.read_table(
                  "fixtures/golden_hreflang_seed42_n120.parquet").to_pylist()]
    fresh = []
    for p in fixtures.meta_pages(120):
        if p["html"]:
            fresh += [(p["url"], *e) for e in
                      metax.extract_hreflang(p["html"], p["url"])]
    fresh.sort(key=lambda r: (r[0], r[1]))
    assert golden == fresh


def test_hreflang_df_structural_identity(spark):
    got = sorted(tuple(r) for r in pagemeta.extract_hreflang_df(
        fixtures.meta_pages_df(spark, 40)).collect())
    pure = sorted((p["url"], *e) for p in fixtures.meta_pages(40)
                  if p["html"]
                  for e in metax.extract_hreflang(p["html"], p["url"]))
    assert got == pure and got


def test_meta_empty_values_are_null():
    m = metax.extract_meta(
        '<html lang=""><head><title>  </title>'
        '<meta name="keywords" content="   ">'
        '<link rel="canonical" href=""></head></html>', "https://h/")
    assert all(m[k] is None for k in metax.META_FIELDS)


def test_meta_malformed_never_raises():
    for junk in (b"", b"<meta name=", b"\xff\xfe\x00garbage", None,
                 b"<title>unclosed", b"<<<>>>&#;&bogus",
                 b"<link rel href content>", b"<html lang"):
        m = metax.extract_meta(junk, "http://h/")
        assert set(m) == set(metax.META_FIELDS)


def test_meta_df_structural_identity(spark):
    """The Spark operator calls the same pure functions — row-for-row
    equality with the driver-side loop, including null skipping."""
    got = {r["url"]: {k: r[k] for k in metax.META_FIELDS}
           for r in pagemeta.extract_meta_df(
               fixtures.meta_pages_df(spark, 40)).collect()}
    assert got == _pure_rows(40)


def _pure_cells(n: int) -> list[tuple]:
    out = []
    for p in fixtures.table_pages(n):
        if not p["html"]:
            continue
        for cell in tablex.extract_tables(p["html"]):
            out.append((p["url"], *cell))
    out.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    return out


def test_tables_match_committed_golden():
    golden = [(r["url"], r["table_idx"], r["row_idx"], r["col_idx"],
               r["is_header"], r["colspan"], r["rowspan"], r["cell_text"])
              for r in pq.read_table(GOLDEN_TABLES).to_pylist()]
    assert golden == _pure_cells(120)


def test_tables_nesting_soup_and_spans():
    src = ("<table><thead><tr><th>H1</th><th colspan=2>H2</th></tr>"
           "</thead><tbody>"
           "<tr><td>a<td>b<td>c"                      # soup: no closers
           "<tr><td>x &amp; y</td>"
           "<td>pre <table><tr><td>inner</td></tr></table> post</td>"
           '<td rowspan="2">tall</td><td colspan="zz">junk span</td></tr>'
           "</tbody></table>")
    got = tablex.extract_tables(src)
    assert got == [
        (0, 0, 0, True, 1, 1, "H1"),
        (0, 0, 1, True, 2, 1, "H2"),
        (0, 1, 0, False, 1, 1, "a"),
        (0, 1, 1, False, 1, 1, "b"),
        (0, 1, 2, False, 1, 1, "c"),
        (0, 2, 0, False, 1, 1, "x &amp; y"),
        (0, 2, 1, False, 1, 1, "pre post"),   # nested table text excluded
        (0, 2, 2, False, 1, 2, "tall"),
        (0, 2, 3, False, 1, 1, "junk span"),  # garbage colspan -> 1
        (1, 0, 0, False, 1, 1, "inner"),      # nested = own table_idx
    ]


def test_tables_stray_tr_inside_cell_not_double_extracted():
    """A <tr> wrapped in a non-table element INSIDE a cell stays cell
    text only — it must not also surface as a row of the outer table
    (the double-extraction bug the row walk's no-descend-into-cells
    rule prevents)."""
    got = tablex.extract_tables(
        "<table><tr><td>before <div><tr><td>X</td></tr></div>"
        "</td></tr></table>")
    assert got == [(0, 0, 0, False, 1, 1, "before X")]


def test_tables_malformed_never_raises():
    for junk in (b"", None, b"<table>", b"<table><tr>", b"<td>orphan",
                 b"\xff\xfe\x00garbage", b"<table><tr><td>a",
                 b"<<<>>>&#;&bogus<table"):
        assert isinstance(tablex.extract_tables(junk), list)


def test_tables_df_structural_identity(spark):
    got = sorted(
        tuple(r) for r in
        pagemeta.extract_tables_df(
            fixtures.table_pages_df(spark, 40)).collect())
    assert got == sorted(_pure_cells(40))


def _pure_blocks(n: int) -> list[tuple]:
    from historicaldatadocumentparsersystem_spark.extractor import jsonldx
    out = []
    for p in fixtures.jsonld_pages(n):
        if not p["html"]:
            continue
        for blk in jsonldx.extract_jsonld(p["html"]):
            out.append((p["url"], *blk))
    out.sort(key=lambda r: (r[0], r[1]))
    return out


def test_jsonld_matches_committed_golden():
    golden = [(r["url"], r["block_idx"], r["json_text"], r["valid"],
               r["root_type"], r["schema_context"])
              for r in pq.read_table(
                  "fixtures/golden_jsonld_seed42_n120.parquet").to_pylist()]
    assert golden == _pure_blocks(120)


def test_jsonld_mime_roots_and_validity():
    from historicaldatadocumentparsersystem_spark.extractor import jsonldx
    src = ('<html><head>'
           '<script type="APPLICATION/LD+JSON; charset=utf-8">'
           '{"@context": "https://schema.org", "@type": ["Recipe", "x"]}'
           '</script>'
           '<script type="text/javascript">{"@type": "nope"}</script>'
           '<script type="application/ld+json">{bad</script>'
           '<script type="application/ld+json">[1, 2]</script>'
           '<script type="application/ld+json">  </script>'
           '</head><body>'
           '<script type="application/ld+json">{"@type": "FAQPage", '
           '"a": "x < y & z"}</script></body></html>')
    got = jsonldx.extract_jsonld(src)
    assert [(b[0], b[2], b[3], b[4]) for b in got] == [
        (0, True, "Recipe", "https://schema.org"),
        (1, False, None, None),
        (2, True, None, None),          # array root: no @type lift
        (3, True, "FAQPage", None),     # body block; '<' survives CDATA
    ]
    assert got[1][1] == "{bad"


def test_jsonld_malformed_never_raises():
    from historicaldatadocumentparsersystem_spark.extractor import jsonldx
    for junk in (b"", None, b"<script type=", b"\xff\xfe\x00garbage",
                 b"<script type='application/ld+json'>{",
                 b"<script type='application/ld+json'>" + b"[" * 4000,
                 b"<<<>>>&#;&bogus<script"):
        assert isinstance(jsonldx.extract_jsonld(junk), list)


def test_jsonld_df_structural_identity(spark):
    got = sorted(
        tuple(r) for r in
        pagemeta.extract_jsonld_df(
            fixtures.jsonld_pages_df(spark, 36)).collect())
    assert got == sorted(_pure_blocks(36))


def test_shapes_match_committed_golden():
    from historicaldatadocumentparsersystem_spark.extractor import shapex
    golden = [(r["url"], r["skeleton"], r["n_tags"], r["max_depth"],
               r["truncated"])
              for r in pq.read_table(
                  "fixtures/golden_shapes_seed42_n300.parquet").to_pylist()]
    fresh = sorted((r["url"], *shapex.dom_skeleton(r["html"]))
                   for r in fixtures.generate_rows(300) if r["html"])
    assert golden == fresh


def test_shape_invariant_to_text_and_attrs():
    from historicaldatadocumentparsersystem_spark.extractor import shapex
    a = shapex.dom_skeleton(
        '<html><body><div class="x"><p>alpha</p><span>b</span></div>'
        "</body></html>")
    b = shapex.dom_skeleton(
        "<html><body><div id='other'><p>entirely different words here"
        "</p><span>zz</span></div></body></html>")
    assert a == b
    assert a[0] == "0:html 1:body 2:div 3:p 3:span"
    # cap: deep page truncates deterministically
    s, n, d, trunc = shapex.dom_skeleton("<div>" * 600, max_tags=100)
    assert trunc and n == 100 and d == 99


def test_template_clusters_groups_same_host_layouts(spark):
    from historicaldatadocumentparsersystem_spark.operators import pagemeta
    shapes = spark.createDataFrame(
        [("https://a.com/1", "0:html 1:p", 2, 1, False),
         ("https://a.com/2", "0:html 1:p", 2, 1, False),
         ("https://a.com:8080/3", "0:html 1:p", 2, 1, False),  # port strip
         ("https://a.com/4", "0:html 1:div", 2, 1, False),
         ("https://b.org/1", "0:html 1:p", 2, 1, False)],
        "url string, skeleton string, n_tags int, max_depth int, "
        "truncated boolean")
    got = {(r["host"], r["n_pages"]): r["sample_url"]
           for r in pagemeta.template_clusters(shapes).collect()}
    assert got[("a.com", 3)] == "https://a.com/1"
    assert ("a.com", 1) in got and ("b.org", 1) in got


def test_table_records_header_pivot(spark):
    cells = spark.createDataFrame(
        [  # table 0: th header, one record, data row wider than header
            ("u", 0, 0, 0, True, 1, 1, "name"),
            ("u", 0, 0, 1, True, 1, 1, "score"),
            ("u", 0, 1, 0, False, 1, 1, "alpha"),
            ("u", 0, 1, 1, False, 1, 1, "9"),
            ("u", 0, 1, 2, False, 1, 1, "overflow"),
            # table 1: no th in row 0 -> not a data table, no records
            ("u", 1, 0, 0, False, 1, 1, "layout"),
            ("u", 1, 1, 0, False, 1, 1, "junk"),
        ],
        "url string, table_idx int, row_idx int, col_idx int, "
        "is_header boolean, colspan int, rowspan int, cell_text string")
    from historicaldatadocumentparsersystem_spark.operators import pagemeta
    got = sorted((r["table_idx"], r["record_idx"], r["col_idx"],
                  r["key"], r["value"])
                 for r in pagemeta.table_records(cells).collect())
    assert got == [(0, 0, 0, "name", "alpha"),
                   (0, 0, 1, "score", "9"),
                   (0, 0, 2, "col2", "overflow")]


def test_full_attr_scanner_tree_equals_htmlparser():
    """The fast scanner's full_attrs mode must be NODE-IDENTICAL to
    the stdlib html.parser reference builder — tags, complete attr
    dicts (entity-unescaped values, None bare attrs, lowercased
    names), and text slices — on every HTML fixture family plus the
    adversarial corpus. Binary junk (pdf/garbage payloads) is
    excluded: the two tokenizers read garbage pseudo-tags differently
    and the satellite goldens pin the scanner's reading there."""
    from historicaldatadocumentparsersystem_spark.extractor import htmlx

    def sig(root, src):
        out, stack = [], [root]
        while stack:
            n = stack.pop()
            if isinstance(n, htmlx._Text):
                out.append(("#text", src[n.start:n.end]))
                continue
            out.append((n.tag, tuple(sorted(n.attrs.items()))))
            stack.extend(reversed(n.children))
        return out

    pages = [(r["html"], r["url"]) for r in fixtures.generate_rows(150)
             if r["html"] and fixtures.row_class(
                 int(r["url"].rsplit("-", 1)[1])).startswith("html")]
    for fam in (fixtures.meta_pages, fixtures.table_pages,
                fixtures.jsonld_pages):
        pages += [(p["html"], p["url"]) for p in fam(60) if p["html"]]
    pages += [(p, f"adv-{i}") for i, p in
              enumerate(synth_inputs.adversarial_html_pages(120))]
    for payload, label in pages:
        src = htmlx.decode_payload(payload)
        assert (sig(htmlx.parse_dom(src, full_attrs=True), src)
                == sig(parse_dom_htmlparser(src), src)), label


def test_page_artifacts_equals_individual_extractors():
    """The one-parse combined pass is definitionally identical to the
    six individual extractors on every fixture family."""
    from historicaldatadocumentparsersystem_spark.extractor import (
        codex, datex, figx, jsonldx, linkx, mf2x, microdatax,
        outlinex, pagex, rdfax, shapex, tablex)
    pages = ([(r["url"], r["html"]) for r in fixtures.generate_rows(80)]
             + [(p["url"], p["html"]) for p in fixtures.meta_pages(40)]
             + [(p["url"], p["html"]) for p in fixtures.table_pages(40)]
             + [(p["url"], p["html"]) for p in fixtures.jsonld_pages(40)]
             + [(p["url"], p["html"])
                for p in fixtures.microdata_pages(40)]
             + [(p["url"], p["html"]) for p in fixtures.code_pages(40)]
             + [(p["url"], p["html"]) for p in fixtures.image_pages(40)])
    n_checked = 0
    for url, html in pages:
        if not html:
            continue
        a = pagex.extract_page_artifacts(html, url)
        assert a["meta"] == metax.extract_meta(html, url), url
        assert a["hreflang"] == metax.extract_hreflang(html, url), url
        assert a["links"] == linkx.extract_links(html, url), url
        assert a["cells"] == tablex.extract_tables(html), url
        assert a["jsonld"] == jsonldx.extract_jsonld(html), url
        assert (a["microdata"]
                == microdatax.extract_microdata(html, url)), url
        assert a["rdfa"] == rdfax.extract_rdfa(html, url), url
        assert a["mf2"] == mf2x.extract_mf2(html, url), url
        assert a["dates"] == datex.extract_date_candidates(html, url), url
        assert a["code"] == codex.extract_code(html), url
        assert a["outline"] == outlinex.extract_outline(html), url
        assert a["images"] == figx.extract_images(html, url), url
        sk = shapex.dom_skeleton(html)
        assert (a["skeleton"], a["n_tags"], a["max_depth"],
                a["truncated"]) == sk, url
        n_checked += 1
    assert n_checked > 150


def test_page_artifacts_df_spark_level(spark):
    from historicaldatadocumentparsersystem_spark.extractor import pagex
    docs = fixtures.table_pages_df(spark, 24)
    rows = {r["url"]: r for r in pagemeta.page_artifacts(docs).collect()}
    for p in fixtures.table_pages(24):
        if not p["html"]:
            assert p["url"] not in rows
            continue
        a = pagex.extract_page_artifacts(p["html"], p["url"])
        r = rows[p["url"]]
        assert [tuple(c) for c in r["cells"]] == a["cells"]
        assert r["skeleton"] == a["skeleton"]
        assert r["meta"]["title"] == a["meta"]["title"]


def test_composition_plans(spark):
    """Plan pins for the composed ops: canonical_dedup is ONE exchange
    over its input; table_records joins stay hash joins (no
    nested-loop); template_clusters adds exactly one exchange."""
    meta = spark.read.parquet("fixtures/golden_meta_seed42_n120.parquet")
    plan = pagemeta.canonical_dedup(meta)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan

    cells = spark.read.parquet(
        "fixtures/golden_tables_seed42_n120.parquet")
    plan = pagemeta.table_records(cells)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    shapes = spark.read.parquet(
        "fixtures/golden_shapes_seed42_n300.parquet")
    plan = pagemeta.template_clusters(shapes)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan

    images = spark.read.parquet(
        "fixtures/golden_images_seed42_n120.parquet")
    plan = pagemeta.image_text_pairs(images)._jdf.queryExecution() \
        .executedPlan().toString()
    # filter+projection, then ONE exchange for the per-src_url window
    assert plan.count("Exchange") == 1, plan


def test_meta_df_plan_is_map_only(spark):
    """The operator adds zero shuffles over its input (the fixture df
    itself carries one round-robin repartition Exchange)."""
    docs = fixtures.meta_pages_df(spark, 16)
    base = docs._jdf.queryExecution().executedPlan().toString()
    plan = pagemeta.extract_meta_df(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == base.count("Exchange"), plan
