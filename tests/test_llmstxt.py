"""llms.txt family: llmstxtx subset vectors, golden pin, Spark
readers == pure parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import (
    bibx, llmstxtx)

GOLDEN_LLMS = "fixtures/golden_llms_seed42_n16.parquet"


def _pure_links(n: int) -> list[tuple]:
    out = []
    for r in fixtures.llms_txt_rows(n):
        d = llmstxtx.parse_llms_txt(bibx._decode(r["payload"]))
        for pos, sec, name, href, desc in d["links"]:
            out.append((r["url"], pos, sec, name, href, desc))
    return out


def test_llms_matches_committed_golden():
    golden = [(r["url"], r["pos"], r["section"], r["name"],
               r["href"], r["description"])
              for r in pq.read_table(GOLDEN_LLMS).to_pylist()]
    assert golden == _pure_links(16)
    assert len(golden) == 21


def test_subset_vectors():
    p = llmstxtx.parse_llms_txt
    d = p("# T\n\n> sum one\n> sum two\n\n## A\n"
          "- [x](u): d1\n* [y](v)\n## Optional\n- [z](w): d2\n")
    assert d["title"] == "T"
    assert d["summary"] == "sum one sum two"
    assert d["sections"] == ["A", "Optional"]
    assert d["links"] == [
        (0, "A", "x", "u", "d1"), (1, "A", "y", "v", None),
        (2, "Optional", "z", "w", "d2")]
    # first H1 wins; links before a section carry None;
    # only the FIRST blockquote run is the summary
    d = p("- [pre](u)\n# One\n# Two\n> late quote\n")
    assert d["title"] == "One"
    assert d["links"] == [(0, None, "pre", "u", None)]
    assert d["summary"] == "late quote"
    d = p("> q1\n\n> q2 ignored\n")
    assert d["summary"] == "q1"
    # malformed items ignored: no bullet space, unclosed paren,
    # href with whitespace
    d = p("## S\n-[a](u)\n- [b](u\n- [c](u v)\n- [ok](u): fine\n")
    assert d["links"] == [(0, "S", "ok", "u", "fine")]
    # desc keeps later colons; empty name/href allowed by grammar
    d = p("- [n](h): a: b\n- [](): x\n")
    assert d["links"] == [(0, None, "n", "h", "a: b"),
                          (1, None, "", "", "x")]
    # prose, CRLF, empties
    assert p("prose\r\nonly\r\n")["links"] == []
    assert p("")["title"] is None
    assert p(None)["summary"] is None


def test_spark_readers_match_pure(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.llms_txt_rows(16)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(4)
    got = sorted((r.url, r.pos, r.section, r.name, r.href,
                  r.description)
                 for r in sources.read_llms_links(df).collect())
    assert got == sorted(_pure_links(16))
    got_f = {r.url: (r.title, r.summary, r.n_sections, r.n_links,
                     r.has_optional)
             for r in sources.read_llms_files(df).collect()}
    for r in files:
        d = llmstxtx.parse_llms_txt(bibx._decode(r["payload"]))
        assert got_f[r["url"]] == (
            d["title"], d["summary"], len(d["sections"]),
            len(d["links"]),
            "optional" in [x.lower() for x in d["sections"]])


def test_fuzz_never_raises():
    """Arbitrary text never raises: the result keeps its keys and
    every link row names a parsed section."""
    rng = random.Random(81)
    chars = "#> -[]():/.abcOptional\n "
    for _ in range(400):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 200)))
        d = llmstxtx.parse_llms_txt(src)
        assert set(d) == {"title", "summary", "sections", "links"}
        assert all(link[1] in d["sections"] for link in d["links"])
