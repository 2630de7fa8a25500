"""ads.txt family: extractor/adsx.py grammar vectors and Spark ==
pure parity on the committed fixture corpus."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import adsx

ADS_FIX = "fixtures/ads_texts_seed42_n60.parquet"


def test_fixture_parquet_matches_builder():
    regen = [(r["url"], r["text"]) for r in fixtures.ads_texts()]
    disk = [(r["url"], r["text"])
            for r in pq.read_table(ADS_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 60


def test_grammar_vectors():
    recs, vs = adsx.parse_ads_txt(
        "# top comment\r\n"
        "Google.COM , pub-123 , DIRECT , f08c47  # inline\r\n"
        "appnexus.com,pub-4,reseller\r\n"
        "tooshort.com, x\r\n"
        "openx.com, pub-5, SPONSOR\r\n"
        ", pub-6, DIRECT\r\n"
        "pubmatic.com, , RESELLER\r\n"
        "CONTACT=ads@ex.com\r\n"
        "ownerdomain = ex.com \r\n"
        "=\r\n"
        "name=\r\n"
        "rubiconproject.com, pub-7, DIRECT,\r\n")
    assert recs == [
        (2, "google.com", "pub-123", "DIRECT", "f08c47"),
        (3, "appnexus.com", "pub-4", "RESELLER", None),
        (12, "rubiconproject.com", "pub-7", "DIRECT", None)]
    assert vs == [(8, "CONTACT", "ads@ex.com"),
                  (9, "OWNERDOMAIN", "ex.com")]
    assert adsx.parse_ads_txt("") == ([], [])
    assert adsx.parse_ads_txt(None) == ([], [])


def test_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        adstxt
    rows = fixtures.ads_texts()
    df = spark.createDataFrame([(r["url"], r["text"]) for r in rows],
                               "url string, text string")
    got_r = [(r.url, r.line_no, r.ad_domain, r.publisher_id,
              r.relationship, r.cert_id)
             for r in adstxt.adstxt_records(df)
             .orderBy("url", "line_no").collect()]
    got_v = [(r.url, r.line_no, r.name, r.value)
             for r in adstxt.adstxt_variables(df)
             .orderBy("url", "line_no").collect()]
    want_r, want_v = [], []
    for r in rows:
        recs, vs = adsx.parse_ads_txt(r["text"])
        want_r += [(r["url"],) + t for t in recs]
        want_v += [(r["url"],) + t for t in vs]
    assert got_r == sorted(want_r)
    assert got_v == sorted(want_v)
    assert len(got_r) == 120 and len(got_v) == 40


def test_fuzz_never_raises():
    """Arbitrary text never raises: records keep their width, a valid
    relationship, a lowercased domain and a 1-based line number."""
    rng = random.Random(71)
    toks = ["Example.COM", "ads.net", "pub-1", "direct", "RESELLER",
            "Direct ", "other", "f08c47fec0942fa0", "", " ", ",", ",",
            ",", "#c", "=", "contact", "x", "\t", "\r"]
    for _ in range(400):
        src = "\n".join("".join(rng.choice(toks)
                                for _ in range(rng.randrange(0, 9)))
                        for _ in range(rng.randrange(0, 8)))
        records, variables = adsx.parse_ads_txt(src)
        n_lines = src.count("\n") + 1
        for line_no, domain, pub, rel, _cert in records:
            assert 1 <= line_no <= n_lines
            assert domain and pub and domain == domain.lower()
            assert rel in adsx.RELATIONSHIPS
        for line_no, name, value in variables:
            assert 1 <= line_no <= n_lines
            assert name == name.upper() and value
