"""Scholarly-identifier family: extractor/idsx.py (the pure oracle),
checksums, normalization, and Spark == pure parity on the committed
fixture corpus plus adversarial strings."""

import random

import pyarrow.parquet as pq
import pytest

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import idsx

IDS_FIX = "fixtures/ids_texts_seed42_n120.parquet"


def test_fixture_parquet_matches_builder():
    regen = [(r["url"], r["text"]) for r in fixtures.ids_texts()]
    disk = [(r["url"], r["text"])
            for r in pq.read_table(IDS_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 120


def test_doi_matching_and_normalization():
    found = idsx.find_identifiers(
        "See 10.1038/nature12373. then (10.1145/3292500.3330919), "
        "and 10.123/short-registrant is ignored.")
    assert [(k, i) for k, _, i in found] == [
        ("doi", "10.1038/nature12373"),
        ("doi", "10.1145/3292500.3330919")]
    # case-insensitive normalization
    assert idsx.normalize("doi", "10.1000/ABC.Def;") == "10.1000/abc.def"


def test_arxiv_styles_and_month_gate():
    text = ("arXiv:1706.03762v5 new, ARXIV: 2301.00001 spaced, "
            "arXiv:9913.00001 bad month, naked 1706.03762 no, "
            "hep-th/9901001 old, math.GT/0309136 classed, "
            "bad/1399999 bad month")
    got = idsx.find_identifiers(text)
    assert [(k, i) for k, _, i in got] == [
        ("arxiv_new", "1706.03762v5"),
        ("arxiv_new", "2301.00001"),
        ("arxiv_old", "hep-th/9901001"),
        ("arxiv_old", "math.GT/0309136")]


@pytest.mark.parametrize("isbn,ok", [
    ("0306406152", True),        # canonical ISBN-10
    ("0306406153", False),       # checksum off by one
    ("000000975X", True),        # X check digit
    ("X000009750", False),       # X not in last position
    ("9780306406157", True),     # ISBN-13
    ("9780306406158", False),
    ("9710306406157", False),    # bad bookland prefix
])
def test_isbn_checksums(isbn, ok):
    assert idsx.is_valid("isbn", isbn) is ok


def test_isbn_prefix_never_leaks_into_digits():
    found = idsx.find_identifiers(
        "ISBN-13: 978-0-306-40615-7 and ISBN:0-306-40615-2 and "
        "ISBN 0-8044-2957-X end")
    assert [i for _, _, i in found] == [
        "9780306406157", "0306406152", "080442957X"]


def test_spark_matches_pure_on_fixture_and_adversarial(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        idents
    rows = fixtures.ids_texts()
    rows += [{"url": f"adv://{j}", "text": t} for j, t in enumerate([
        "ISBN 9780306406157X overlong, arXiv:0000.00000 month 00",
        "doi 10.1234/a)b]c;. trail stack",
        "ISBN-10: 030640615-2 loose hyphens",
        "edge/0001000 and zz-zz.AA/9912999",
        "" ])]
    df = spark.createDataFrame([(r["url"], r["text"]) for r in rows],
                               "url string, text string")
    got = [(r.url, r.kind, r.value, r.ident)
           for r in idents.ident_spans(df)
           .orderBy("url", "kind", "value", "ident").collect()]
    want = sorted((r["url"], k, v, i)
                  for r in rows
                  for k, v, i in idsx.find_identifiers(r["text"]))
    assert got == want
    assert len(got) > 130


def test_fuzz_never_raises():
    """Arbitrary text never raises: every hit is a substring of the
    input whose normalized form passes its own validator."""
    rng = random.Random(77)
    chars = "10.0123456789/abXarXiv:vISBN- \n.xX"
    for _ in range(400):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 160)))
        for kind, raw, norm in idsx.find_identifiers(src):
            assert raw in src
            assert idsx.is_valid(kind, norm)
