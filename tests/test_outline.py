"""HTML structural element stream: extractor/outlinex.py
(golden-pinned), the one-owner contract, and section_chunks over it."""

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import outlinex
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_OUTLINE = "fixtures/golden_outline_seed42_n120.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.md_pages(n):
        if not p["html"]:
            continue
        for r in outlinex.extract_outline(p["html"]):
            out.append((p["url"], *r))
    return out


def test_outline_matches_committed_golden():
    golden = [(r["url"], r["para"], r["kind"], r["level"], r["text"])
              for r in pq.read_table(GOLDEN_OUTLINE).to_pylist()]
    assert golden == _pure_rows(120)
    assert len(golden) == 336


def test_one_owner_contract():
    html = ("<h1>T</h1><p>intro</p>"
            "<ul><li>a</li><li>b <ul><li>b1</li></ul> tail</li></ul>"
            "<ol><li><p>para owned by item</p></li></ol>"
            "<p>open para swallows <ul><li>soup</li></ul>"
            "<h3>Deep</h3><p>after</p>"
            "<li>orphan</li>"
            "<pre>code ignored</pre><script>x()</script>")
    rows = outlinex.extract_outline(html)
    assert rows == [
        (0, "heading", 1, "T"),
        (1, "text", 0, "intro"),
        (2, "list_item", 1, "a"),
        (3, "list_item", 1, "b tail"),
        (4, "list_item", 2, "b1"),
        (5, "list_item", 1, "para owned by item"),
        (6, "text", 0, "open para swallows"),
        (7, "list_item", 1, "soup"),
        (8, "heading", 3, "Deep"),
        (9, "text", 0, "after"),
        (10, "list_item", 1, "orphan"),
    ]
    # every text appears exactly once across all rows
    joined = " ".join(r[3] for r in rows)
    for word in ("intro", "b1", "soup", "after", "orphan"):
        assert joined.count(word) == 1
    # entities stay raw slices (the linkx anchor-text contract)
    assert outlinex.extract_outline("<p>a &amp; b</p>") == [
        (0, "text", 0, "a &amp; b")]


def test_heading_inside_li_owned_once():
    rows = outlinex.extract_outline(
        "<ul><li>pre <h2>Soup Head</h2> post</li></ul>")
    assert rows == [(0, "list_item", 1, "pre post"),
                    (1, "heading", 2, "Soup Head")]


def test_malformed_never_raises():
    import random
    rng = random.Random("outline-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    for p in pages:
        for row in outlinex.extract_outline(p):
            assert len(row) == 4 and row[3]


def test_operator_matches_golden_and_sections(spark):
    docs = fixtures.md_pages_df(spark, 120)
    got = sorted(tuple(r)
                 for r in pagemeta.extract_outline_df(docs).collect())
    golden = sorted((r["url"], r["para"], r["kind"], r["level"], r["text"])
                    for r in pq.read_table(GOLDEN_OUTLINE).to_pylist())
    assert got == golden

    # the shared section operator runs unchanged over the HTML stream
    from historicaldatadocumentparsersystem_spark.operators import chunking
    els = spark.read.parquet(GOLDEN_OUTLINE)
    sections = chunking.section_chunks(els).collect()
    assert sections and any(r["title"] for r in sections)
    by_url = {}
    for r in sections:
        by_url.setdefault(r["url"], []).append(r)
    # section indices are dense per url
    for url, rs in by_url.items():
        assert sorted(r["section_idx"] for r in rs) == list(
            range(min(r["section_idx"] for r in rs),
                  min(r["section_idx"] for r in rs) + len(rs))), url
