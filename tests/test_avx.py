"""Audio/video/embed extraction: extractor/avx.py (golden-pinned),
its mapInPandas operator and the pair/provider compositions."""

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import avx
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_AV = "fixtures/golden_av_seed42_n120.parquet"
_COLS = ("url", "pos", "kind", "src_url", "src_type", "poster_url",
         "title", "width", "height", "caption", "track_url",
         "track_lang", "n_sources", "in_link")


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.av_pages(n):
        if not p["html"]:
            continue
        for r in avx.extract_av(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_av_matches_committed_golden():
    golden = [tuple(r[c] for c in _COLS)
              for r in pq.read_table(GOLDEN_AV).to_pylist()]
    assert golden == _pure_rows(120)
    assert len(golden) == 140


def test_src_precedence_and_source_types():
    base = "https://host.example/dir/page"
    rows = avx.extract_av(
        '<video src="/own.mp4"><source src="/ignored.webm" '
        'type="video/webm"></video>'
        '<video><source src="/first.webm" type="video/WebM">'
        '<source src="/second.mp4" type="video/mp4"></video>'
        '<video><source><source src="rel.mp4"></video>'
        '<audio src="//cdn.ex.com/a.mp3"></audio>'
        '<video></video>', base)
    # own src wins; sources still counted; no type from the element
    assert (rows[0][2], rows[0][3], rows[0][11]) == (
        "https://host.example/own.mp4", None, 1)
    # first non-empty source supplies src + lowercased type
    assert (rows[1][2], rows[1][3], rows[1][11]) == (
        "https://host.example/first.webm", "video/webm", 2)
    # srcless <source> skipped, relative resolved
    assert (rows[2][2], rows[2][3]) == (
        "https://host.example/dir/rel.mp4", None)
    assert rows[3][2] == "https://cdn.ex.com/a.mp3"
    assert (rows[4][2], rows[4][11]) == (None, 0)


def test_track_selection_rules():
    rows = avx.extract_av(
        '<video src="/v.mp4">'
        '<track kind="chapters" src="/ch.vtt" srclang="en">'
        '<track kind="captions" srclang="de">'        # no src: skip
        '<track src="/default.vtt">'                  # kind defaults
        '<track kind="subtitles" src="/fr.vtt" srclang="fr">'
        '</video>'
        '<video src="/w.mp4"><track kind="CAPTIONS" src="/cc.vtt" '
        'srclang=" EN-US "></video>'
        '<video src="/x.mp4"></video>', "https://h.ex/p")
    assert (rows[0][9], rows[0][10]) == ("https://h.ex/default.vtt",
                                         None)
    # kind matching is case-insensitive, srclang trimmed+lowercased
    assert (rows[1][9], rows[1][10]) == ("https://h.ex/cc.vtt",
                                         "en-us")
    assert (rows[2][9], rows[2][10]) == (None, None)


def test_nested_media_elements_keep_their_own_children():
    rows = avx.extract_av(
        '<video src="/outer.mp4"><video>'
        '<source src="/inner.webm" type="video/webm">'
        '<track src="/inner.vtt"></video></video>', "https://h.ex/")
    outer = next(r for r in rows if r[2] == "https://h.ex/outer.mp4")
    inner = next(r for r in rows if r[2] == "https://h.ex/inner.webm")
    # the inner element's source/track never leak to the outer row
    assert (outer[9], outer[11]) == (None, 0)
    assert (inner[9], inner[11]) == ("https://h.ex/inner.vtt", 1)


def test_caption_title_and_in_link():
    rows = avx.extract_av(
        '<figure><video src="/v.mp4"></video>'
        '<figcaption>clip &amp; co</figcaption></figure>'
        '<a href="/x"><video src="/linked.mp4"></video></a>'
        '<iframe src="/e.html" title=" framed   page "></iframe>'
        '<iframe src="/f.html" title=""></iframe>')
    assert rows[0][8] == "clip &amp; co"
    assert (rows[1][12],) == (True,)
    assert (rows[2][5], rows[3][5]) == ("framed page", "")


def test_malformed_never_raises():
    import random
    rng = random.Random("avx-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<video", b"<video><source src=", b"<iframe>", b""]
    for p in pages:
        for row in avx.extract_av(p, "https://h.ex/p"):
            assert len(row) == 13


def test_operator_matches_golden(spark):
    docs = fixtures.av_pages_df(spark, 120)
    got = sorted(tuple(r)
                 for r in pagemeta.extract_av_df(docs).collect())
    golden = sorted(tuple(r[c] for c in _COLS)
                    for r in pq.read_table(GOLDEN_AV).to_pylist())
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.av_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_av_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_av_text_pairs_selection(spark):
    rows = [
        # caption beats title
        ("u1", 0, "video", "https://c/v1.mp4", None, None,
         "title text here", None, None, "caption text here",
         None, None, 0, False),
        # title wins when caption is empty-string
        ("u1", 1, "audio", "https://c/a1.mp3", None, None,
         "title text here", None, None, "", None, None, 0, False),
        # too-short text dropped
        ("u1", 2, "video", "https://c/v2.mp4", None, None,
         "short", None, None, None, None, None, 0, False),
        # no src dropped
        ("u1", 3, "video", None, None, None, "long enough text",
         None, None, None, None, None, 0, False),
        # duplicate asset url: first (url, pos) occurrence wins
        ("u0", 5, "iframe", "https://c/v1.mp4", None, None,
         "an earlier titled copy", None, None, None,
         None, None, 0, False),
    ]
    df = spark.createDataFrame(rows, pagemeta.AV_SCHEMA)
    got = {(r["src_url"], r["url"], r["text_source"])
           for r in pagemeta.av_text_pairs(df).collect()}
    assert got == {("https://c/v1.mp4", "u0", "title"),
                   ("https://c/a1.mp3", "u1", "title")}


def test_embed_provider_resolution(spark):
    rows = [
        ("u", 0, "iframe",
         "https://www.youtube.com/embed/Ab9?start=3", None, None,
         None, None, None, None, None, None, 0, False),
        ("u", 1, "iframe",
         "https://player.vimeo.com/video/123/extra", None, None,
         None, None, None, None, None, None, 0, False),
        ("u", 2, "iframe", "https://www.youtube.com/watch?v=zz",
         None, None, None, None, None, None, None, None, 0, False),
        ("u", 3, "iframe", "https://self.example.com:8080/w.html",
         None, None, None, None, None, None, None, None, 0, False),
        ("u", 4, "video", "https://www.youtube.com/embed/x",
         None, None, None, None, None, None, None, None, 0, False),
        ("u", 5, "iframe", None, None, None, "srcless",
         None, None, None, None, None, 0, False),
    ]
    df = spark.createDataFrame(rows, pagemeta.AV_SCHEMA)
    got = {r["pos"]: (r["host"], r["provider"], r["video_id"])
           for r in pagemeta.embed_providers(df).collect()}
    assert got == {
        0: ("www.youtube.com", "youtube", "Ab9"),
        1: ("player.vimeo.com", "vimeo", "123"),
        2: ("www.youtube.com", "youtube", None),  # no /embed/ marker
        3: ("self.example.com", "other", None),   # port stripped
    }


def test_one_parse_av_equals_individual_pass(spark):
    docs = fixtures.av_pages_df(spark, 48)
    combined = sorted(
        (r["url"], *a) for r in
        pagemeta.page_artifacts(docs).collect() for a in r["av"])
    single = sorted(tuple(r) for r in
                    pagemeta.extract_av_df(docs).collect())
    assert combined == single and combined
