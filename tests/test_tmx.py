"""TMX source: extractor/tmxx.py vectors, golden pin, Spark reader
parity, and the tu pairing operator."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import tmxx

GOLDEN_TMX = "fixtures/golden_tmx_seed42_n16.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for r in fixtures.tmx_file_rows(n):
        d = tmxx.extract_tmx(r["payload"])
        for tu, tuid, pos, lang, seg in d["rows"]:
            out.append((r["url"], tu, tuid, pos, d["srclang"],
                        lang, seg))
    return out


def test_tmx_matches_committed_golden():
    golden = [(r["url"], r["tu"], r["tuid"], r["pos"],
               r["srclang"], r["lang"], r["seg"])
              for r in pq.read_table(GOLDEN_TMX).to_pylist()]
    assert golden == _pure_rows(16)
    assert len(golden) == 43


def test_vectors():
    d = tmxx.extract_tmx(
        '<tmx version="1.4"><header srclang="en"/><body>'
        '<tu tuid="u1"><tuv xml:lang="EN"><seg>Hi</seg></tuv>'
        '<tuv xml:lang="fr"><seg>Salut</seg></tuv></tu>'
        "</body></tmx>")
    assert d["srclang"] == "en"
    assert d["rows"] == [(0, "u1", 0, "en", "Hi"),
                         (0, "u1", 1, "fr", "Salut")]
    # code tags drop content, keep tails; hi keeps text
    d = tmxx.extract_tmx(
        "<tmx><body><tu><tuv lang='en'><seg>a<ph>%s</ph>b"
        "<hi>c</hi>d<bpt i='1'>&lt;b&gt;</bpt>e</seg></tuv>"
        "</tu></body></tmx>")
    assert d["rows"][0][4] == "abcde"
    # tuv without lang or seg skipped; empty tu emits nothing
    d = tmxx.extract_tmx(
        "<tmx><body><tu><tuv><seg>x</seg></tuv></tu>"
        "<tu><tuv xml:lang='de'/></tu>"
        "<tu><tuv xml:lang='de'><seg>ok</seg></tuv></tu>"
        "</body></tmx>")
    assert d["rows"] == [(0, None, 0, "de", "ok")]
    # BOM + bad XML + non-tmx root
    assert tmxx.extract_tmx("﻿<tmx><body/></tmx>")["rows"] == []
    assert tmxx.extract_tmx("<tmx><tu")["rows"] == []
    assert tmxx.extract_tmx("<html/>")["rows"] == []
    assert tmxx.extract_tmx(b"")["rows"] == []
    assert tmxx.extract_tmx(None)["rows"] == []


def test_spark_reader_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.tmx_file_rows(16)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = sorted((r.url, r.tu, r.tuid, r.pos, r.srclang, r.lang,
                  r.seg)
                 for r in sources.read_tmx_rows(df).collect())
    assert got == sorted(_pure_rows(16))


def test_tmx_pairs_semantics(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        bitext
    rows = [
        # declared srclang, source not at pos 0
        ("u", 0, "t1", 0, "EN-US", "fr", "Bonjour"),
        ("u", 0, "t1", 1, "EN-US", "en-us", "Hello"),
        ("u", 0, "t1", 2, "EN-US", "de", "Hallo"),
        # *all*: first tuv is source
        ("u", 1, "t2", 0, "*all*", "ja", "こんにちは"),
        ("u", 1, "t2", 1, "*all*", "en", "Hello there"),
        # no source match (srclang never appears): tu emits nothing
        ("u", 2, "t3", 0, "zz", "fr", "Seul"),
        # ratio outlier dropped
        ("u", 3, "t4", 0, None, "en", "Hi"),
        ("u", 3, "t4", 1, None, "de", "x" * 40),
    ]
    df = spark.createDataFrame(
        rows, "url string, tu int, tuid string, pos int, "
              "srclang string, lang string, seg string")
    got = sorted((r.url, r.tu, r.src_lang, r.src, r.tgt_lang,
                  r.tgt)
                 for r in bitext.tmx_bitext_pairs(df).collect())
    assert got == [
        ("u", 0, "en-us", "Hello", "de", "Hallo"),
        ("u", 0, "en-us", "Hello", "fr", "Bonjour"),
        ("u", 1, "ja", "こんにちは", "en", "Hello there"),
    ]


def test_fuzz_never_raises():
    """Arbitrary text, bytes and byte-mutated TMX documents never
    raise: the result keeps its keys."""
    rng = random.Random(87)
    base = tmxx.build_tmx([
        {"tuid": "1", "tuvs": [("en", "Hello <b>world</b>"),
                               ("de", "Hallo Welt")]},
        {"tuid": None, "tuvs": [("en", "Bye"), ("fr", "Salut")]}])
    for _ in range(300):
        r = rng.random()
        if r < 0.2:
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randrange(0, 120)))
        elif r < 0.4:
            payload = "".join(rng.choice("<>/tmxtuvseg =\"en\n")
                              for _ in range(rng.randrange(0, 120)))
        else:
            b = bytearray(base.encode("utf-8"))
            for _ in range(rng.randrange(1, 6)):
                i = rng.randrange(len(b))
                b[i:i + rng.randrange(0, 4)] = bytes(
                    [rng.randrange(256)])
            payload = bytes(b)
        d = tmxx.extract_tmx(payload)
        assert set(d) == {"srclang", "rows"}
        assert isinstance(d["rows"], list)
