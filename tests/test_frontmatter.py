"""Markdown front-matter family: frontmx subset vectors, golden
pin, and Spark reader == golden parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import (
    bibx, frontmx)

GOLDEN_FM = "fixtures/golden_frontmatter_seed42_n20.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for r in fixtures.md_doc_rows(n):
        fm, _ = frontmx.parse_front_matter(
            bibx._decode(r["payload"]))
        for pos, key, idx, val in fm:
            out.append((r["url"], pos, key, idx, val))
    return out


def test_frontmatter_matches_committed_golden():
    golden = [(r["url"], r["pos"], r["key"], r["idx"], r["value"])
              for r in pq.read_table(GOLDEN_FM).to_pylist()]
    assert golden == _pure_rows(20)
    assert len(golden) == 52


def test_subset_vectors():
    p = frontmx.parse_front_matter
    rows, off = p("---\na: 1\nb: 'two'\n---\nbody")
    assert rows == [(0, "a", None, "1"), (1, "b", None, "two")]
    assert "---\na: 1\nb: 'two'\n---\nbody"[off:] == "body"
    # block + inline lists; items dequoted; idx 0-based
    rows, _ = p('---\nt:\n  - x\n  - "y z"\nc: [1, 2]\n---\n')
    assert rows == [(0, "t", 0, "x"), (0, "t", 1, "y z"),
                    (1, "c", 0, "1"), (1, "c", 1, "2")]
    # duplicate key: LAST wins and takes the later pos
    rows, _ = p("---\na: 1\nb: 2\na: 3\n---\n")
    assert rows == [(0, "b", None, "2"), (1, "a", None, "3")]
    # a non-item line closes a pending list; nested maps ignored
    rows, _ = p("---\nt:\nx: 1\nn:\n  sub: v\n---\n")
    assert rows == [(0, "t", None, None), (1, "x", None, "1"),
                    (2, "n", None, None)]
    # comments and blanks skipped; '...' terminates; CRLF ok
    rows, off = p("---\r\n# c\r\n\r\na: v\r\n...\r\nB")
    assert rows == [(0, "a", None, "v")]
    assert "---\r\n# c\r\n\r\na: v\r\n...\r\nB"[off:] == "B"
    # empty inline list emits the null placeholder row
    rows, _ = p("---\ne: []\n---\n")
    assert rows == [(0, "e", None, None)]
    # no block / unterminated / not-first-line -> nothing
    assert p("body only") == ([], 0)
    assert p("---\na: 1\n") == ([], 0)
    assert p("\n---\na: 1\n---\n") == ([], 0)
    assert p("") == ([], 0) and p(None) == ([], 0)
    # BOM: stripped for parsing, counted in body_offset
    rows, off = p("﻿---\na: 1\n---\nB")
    assert rows == [(0, "a", None, "1")]
    assert off == 14 and "﻿---\na: 1\n---\nB"[off] == "B"


def test_spark_reader_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.md_doc_rows(20)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = sorted((r.url, r.pos, r.key, r.idx, r.value)
                 for r in sources.read_front_matter(df).collect())
    assert got == sorted(_pure_rows(20))


def test_fuzz_never_raises():
    """Arbitrary text never raises: the body offset stays inside the
    input and every field row keeps its width."""
    rng = random.Random(76)
    chars = "-:[],'\"# \ntitle:datetags0123ab"
    for _ in range(400):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 160)))
        if rng.random() < 0.5:
            src = "---\n" + src
        fields, body_at = frontmx.parse_front_matter(src)
        assert 0 <= body_at <= len(src)
        assert all(len(f) == 4 for f in fields)
