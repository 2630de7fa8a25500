"""Publication-date extraction (htmldate analog): extractor/datex.py
(golden-pinned), its mapInPandas operator and the publish_date winner
aggregation."""

import pyarrow.parquet as pq
import pytest

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import datex
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_DATES = "fixtures/golden_dates_seed42_n120.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.date_pages(n):
        if not p["html"]:
            continue
        for r in datex.extract_date_candidates(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_dates_match_committed_golden():
    golden = [(r["url"], r["pos"], r["source"], r["raw"], r["date_iso"])
              for r in pq.read_table(GOLDEN_DATES).to_pylist()]
    assert golden == _pure_rows(120)


def test_norm_date_calendar_rules():
    ok = {"2024-01-31": "2024-01-31", "2024/1/9": "2024-01-09",
          "2024-02-29": "2024-02-29",          # leap year
          "1999-12-31T23:59:59Z": "1999-12-31",
          "2024-05-06 07:08": "2024-05-06",
          "  2024-05-06  ": "2024-05-06"}
    for raw, want in ok.items():
        assert datex._norm_date(raw) == want, raw
    for bad in ["2023-02-29", "2024-13-01", "2024-00-10", "2024-01-32",
                "1899-01-01", "2100-01-01", "20240101", "2024-1",
                "not a date", "", None, "9-9-2024", "2024-01-02x"]:
        assert datex._norm_date(bad) is None, bad


def test_source_precedence_and_positions():
    html = (
        '<html><body>'
        '<p>seen 2024-03-03 in text</p>'
        '<time datetime="2024-02-02">t</time>'
        '<script type="application/ld+json">'
        '{"@type":"Article","datePublished":"2024-04-04"}</script>'
        '<meta property="article:published_time" content="2024-01-01">'
        '</body></html>')
    rows = datex.extract_date_candidates(
        html, "https://h.example/2020/12/25/post")
    # rank order meta < jsonld < time < url < text, pos dense from 0
    assert rows == [
        (0, "meta", "2024-01-01", "2024-01-01"),
        (1, "jsonld", "2024-04-04", "2024-04-04"),
        (2, "time", "2024-02-02", "2024-02-02"),
        (3, "url", "2020/12/25", "2020-12-25"),
        (4, "text", "2024-03-03", "2024-03-03"),
    ]


def test_script_text_never_a_text_candidate():
    html = ('<html><body><script>var d = "2021-07-07";</script>'
            '<style>.x{content:"2022-08-08"}</style>'
            '<p>no visible date</p></body></html>')
    assert datex.extract_date_candidates(html) == []


def test_invalid_candidates_die_silently():
    html = ('<meta name="date" content="2024-13-40">'
            '<meta name="publish-date" content="soon">'
            '<time datetime="2023-02-29">bad leap</time>'
            '<time datetime="2024-02-29">good leap</time>')
    assert datex.extract_date_candidates(html) == [
        (0, "time", "2024-02-29", "2024-02-29")]


def test_malformed_never_raises():
    import random
    rng = random.Random("datex-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<time datetime>", b"<meta name=date>", b""]
    for p in pages:
        for row in datex.extract_date_candidates(p, "https://f.example/"):
            assert len(row) == 4 and row[3] is not None


def test_operator_matches_golden(spark):
    docs = fixtures.date_pages_df(spark, 120)
    got = sorted(tuple(r)
                 for r in pagemeta.extract_dates_df(docs).collect())
    golden = sorted((r["url"], r["pos"], r["source"], r["raw"],
                     r["date_iso"])
                    for r in pq.read_table(GOLDEN_DATES).to_pylist())
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.date_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_dates_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_temporal_split_policies_and_boundary(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    docs = spark.createDataFrame(
        [("u1",), ("u2",), ("u3",), ("u4",)], "url string")
    dates = spark.createDataFrame(
        [("u1", "2019-12-31"),     # == cutoff -> train (inclusive)
         ("u2", "2020-01-01"),     # after -> holdout
         ("u3", "2001-05-05")],    # before -> train
        "url string, published string")
    for unknown in ("train", "holdout", "drop"):
        got = {r["url"]: (r["published"], r["split"])
               for r in webtext.temporal_split(
                   docs, dates, "2019-12-31", unknown=unknown).collect()}
        assert got == {"u1": ("2019-12-31", "train"),
                       "u2": ("2020-01-01", "holdout"),
                       "u3": ("2001-05-05", "train"),
                       "u4": (None, unknown)}


def test_publish_date_picks_lowest_pos(spark):
    cands = spark.read.parquet(GOLDEN_DATES)
    got = {r["url"]: (r["published"], r["source"], r["n_candidates"])
           for r in pagemeta.publish_date(cands).collect()}
    want = {}
    for r in pq.read_table(GOLDEN_DATES).to_pylist():
        cur = want.get(r["url"])
        if cur is None or r["pos"] < cur[0]:
            want[r["url"]] = (r["pos"], r["date_iso"], r["source"])
    counts = {}
    for r in pq.read_table(GOLDEN_DATES).to_pylist():
        counts[r["url"]] = counts.get(r["url"], 0) + 1
    assert got == {u: (v[1], v[2], counts[u]) for u, v in want.items()}
    assert len(got) == 90       # 6 of 8 kinds produce candidates

    plan = (pagemeta.publish_date(cands)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1      # one url shuffle, no join
