"""Image/figure extraction: extractor/figx.py (golden-pinned), its
mapInPandas operator and the CLIP-pair selection composition."""

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import figx
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_IMAGES = "fixtures/golden_images_seed42_n120.parquet"
_COLS = ("url", "pos", "src_url", "alt", "title", "width", "height",
         "caption", "in_link")


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.image_pages(n):
        if not p["html"]:
            continue
        for r in figx.extract_images(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_images_match_committed_golden():
    golden = [tuple(r[c] for c in _COLS)
              for r in pq.read_table(GOLDEN_IMAGES).to_pylist()]
    assert golden == _pure_rows(120)
    assert len(golden) == 150


def test_src_resolution_and_lazy_fallback():
    base = "https://host.example/dir/page"
    rows = figx.extract_images(
        '<img src="/abs.jpg"><img src="rel.png">'
        '<img src="//cdn.ex.com/p.gif">'
        '<img src="" data-src="/lazy.webp">'
        '<img data-src="lazy2.jpg"><img>', base)
    assert [r[1] for r in rows] == [
        "https://host.example/abs.jpg",
        "https://host.example/dir/rel.png",
        "https://cdn.ex.com/p.gif",
        "https://host.example/lazy.webp",
        "https://host.example/dir/lazy2.jpg",
        None]
    # without a base url the raw attribute passes through
    assert figx.extract_images('<img src="x.jpg">')[0][1] == "x.jpg"


def test_alt_absent_vs_empty_and_dimension_rules():
    rows = figx.extract_images(
        '<img src="a"><img src="b" alt="">'
        '<img src="c" alt=" two   words ">'
        '<img src="d" width="100px" height="abc">'
        '<img src="e" width="0" height=" 75 ">')
    assert [r[2] for r in rows][:3] == [None, "", "two words"]
    assert (rows[3][4], rows[3][5]) == (100, None)
    assert (rows[4][4], rows[4][5]) == (None, 75)


def test_caption_nearest_figure_first_figcaption_no_nesting_leak():
    html = ('<figure><img src="/o.jpg">'
            '<figure><img src="/i.jpg"><figcaption>inner</figcaption>'
            '</figure><figcaption>outer &amp; co</figcaption></figure>'
            '<figure><img src="/n.jpg"></figure>'
            '<img src="/free.jpg">')
    rows = figx.extract_images(html)
    caps = {r[1]: r[6] for r in rows}
    # entities PRESERVED (the linkx anchor-text byte-slice contract)
    assert caps == {"/o.jpg": "outer &amp; co", "/i.jpg": "inner",
                    "/n.jpg": None, "/free.jpg": None}
    # two imgs in one figure share its caption
    html = ('<figure><img src="/1.jpg"><img src="/2.jpg">'
            '<figcaption>shared</figcaption></figure>')
    assert [r[6] for r in figx.extract_images(html)] == ["shared"] * 2


def test_in_link_and_script_isolation():
    rows = figx.extract_images(
        '<a href="/x"><span><img src="/deep.jpg"></span></a>'
        '<img src="/plain.jpg">'
        '<script>document.write(\'<img src="fake.jpg">\');</script>')
    assert [(r[1], r[7]) for r in rows] == [
        ("/deep.jpg", True), ("/plain.jpg", False)]


def test_malformed_never_raises():
    import random
    rng = random.Random("figx-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<img", b"<figure><img src=", b"<figcaption>", b""]
    for p in pages:
        for row in figx.extract_images(p, "https://h.ex/p"):
            assert len(row) == 8


def test_operator_matches_golden(spark):
    docs = fixtures.image_pages_df(spark, 120)
    got = sorted(tuple(r)
                 for r in pagemeta.extract_images_df(docs).collect())
    golden = sorted(tuple(r[c] for c in _COLS)
                    for r in pq.read_table(GOLDEN_IMAGES).to_pylist())
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.image_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_images_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_image_text_pairs_selection(spark):
    rows = [
        # caption beats alt; passes thresholds
        ("u1", 0, "https://c/i1.jpg", "alt text here", None,
         None, None, "caption text here", False),
        # alt wins when caption empty-string
        ("u1", 1, "https://c/i2.jpg", "alt text here", "title here",
         100, 100, "", False),
        # title wins when alt decorative
        ("u1", 2, "https://c/i3.jpg", "", "the title text",
         None, None, None, True),
        # too-short text -> dropped
        ("u1", 3, "https://c/i4.jpg", "short", None, None, None,
         None, False),
        # declared tiny -> dropped even with good text
        ("u1", 4, "https://c/i5.jpg", "perfectly good text", None,
         48, 300, None, False),
        # no src -> dropped
        ("u1", 5, None, "perfectly good text", None, None, None,
         None, False),
        # duplicate image URL: later occurrence loses
        ("u2", 0, "https://c/i1.jpg", "another caption text", None,
         None, None, None, False),
    ]
    df = spark.createDataFrame(
        rows, "url string, pos int, src_url string, alt string, "
              "title string, width int, height int, caption string, "
              "in_link boolean")
    got = {(r.src_url): (r.url, r.text, r.text_source)
           for r in pagemeta.image_text_pairs(df).collect()}
    assert got == {
        "https://c/i1.jpg": ("u1", "caption text here", "caption"),
        "https://c/i2.jpg": ("u1", "alt text here", "alt"),
        "https://c/i3.jpg": ("u1", "the title text", "title"),
    }


def test_srcset_microsyntax_vectors():
    from historicaldatadocumentparsersystem_spark.extractor.figx \
        import parse_srcset
    assert parse_srcset("a.jpg 480w, b.jpg 800w, c.jpg 2x") == [
        (0, "a.jpg", "w", 480), (1, "b.jpg", "w", 800),
        (2, "c.jpg", "x", 2000)]
    # missing descriptor defaults 1x; fractional densities exact
    assert parse_srcset("small.png, big.png 1.5x") == [
        (0, "small.png", "x", 1000), (1, "big.png", "x", 1500)]
    # commas inside urls survive; trailing commas terminate
    assert parse_srcset("u,v.png 2x, plain.png") == [
        (0, "u,v.png", "x", 2000), (1, "plain.png", "x", 1000)]
    assert parse_srcset("one.png, two.png") == [
        (0, "one.png", "x", 1000), (1, "two.png", "x", 1000)]
    # spec parse errors drop the candidate; zero width drops; clamp
    assert parse_srcset("bad.png 3q, ok.png 100w, z.png 0w") == [
        (0, "ok.png", "w", 100)]
    assert parse_srcset("huge.png 99999999999w") == [
        (0, "huge.png", "w", (1 << 31) - 1)]
    for empty in ("", None, " , ,, ", "   "):
        assert parse_srcset(empty) == []
