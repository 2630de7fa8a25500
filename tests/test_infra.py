"""Infrastructure-header family (Alt-Svc / Server): infrax grammar
vectors, fixture pin, Spark == pure parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import infrax

INFRA_FIX = "fixtures/infra_headers_seed42_n48.parquet"


def test_fixture_parquet_matches_builder():
    cols = ("url", "alt_svc", "server")
    regen = [tuple(r[c] for c in cols)
             for r in fixtures.infra_header_rows(48)]
    disk = [tuple(r[c] for c in cols)
            for r in pq.read_table(INFRA_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 48


def test_alt_svc_vectors():
    p = infrax.parse_alt_svc
    d = p('h3=":443"; ma=2592000; persist=1, h2="alt.ex:8443"')
    assert d == {"clear": False, "alts": [
        (0, "h3", None, 443, 2592000, True),
        (1, "h2", "alt.ex", 8443, 86400, False)]}
    assert p(" clear ") == {"clear": True, "alts": []}
    # dropped shapes: no '=', empty proto, portless authority,
    # non-numeric port; last VALID ma wins; quoted comma protected
    d = p('bogus, =x, h3="hostonly", h2=":port", '
          'h3=":443"; ma=abc; ma=60; x="a,b"')
    assert d["alts"] == [(0, "h3", None, 443, 60, False)]
    # untrusted 16-digit ma falls back to the default
    d = p(f'h3=":443"; ma={"9" * 16}')
    assert d["alts"][0][4] == infrax.ALT_SVC_DEFAULT_MA
    # persist only on exactly '1'
    assert not p('h3=":1"; persist=2')["alts"][0][5]
    assert p(None) is None and p("") is None


def test_server_vectors():
    p = infrax.parse_server
    assert p("nginx/1.25.3") == [(0, "nginx", "1.25.3")]
    assert p("Apache/2.4.57 (Ubuntu) OpenSSL/3.0.2") == [
        (0, "Apache", "2.4.57"), (1, "OpenSSL", "3.0.2")]
    # nested comments skipped; bare products; empty version
    assert p("gws (c (nested) d) Product/1.2") == [
        (0, "gws", None), (1, "Product", "1.2")]
    assert p("cloudflare") == [(0, "cloudflare", None)]
    assert p("x/") == [(0, "x", None)]
    assert p("/1.2") == []            # no product: drop
    assert p("(only comment)") == []
    assert p(None) == [] and p("") == []


def test_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        infra
    caps = spark.read.parquet(INFRA_FIX)
    got = sorted((r.url, r.pos, r.proto, r.host, r.port, r.ma_s,
                  r.persist)
                 for r in infra.alt_svc_alternatives(caps).collect())
    want = []
    for fx in fixtures.infra_header_rows(48):
        d = infrax.parse_alt_svc(fx["alt_svc"])
        if d is None:
            continue
        for pos, proto, host, port, ma, persist in d["alts"]:
            want.append((fx["url"], pos, proto, host, port, ma,
                         persist))
    assert got == sorted(want)
    got_s = sorted((r.url, r.pos, r.product, r.version)
                   for r in infra.server_products(caps).collect())
    want_s = sorted(
        (fx["url"], pos, product, ver)
        for fx in fixtures.infra_header_rows(48)
        for pos, product, ver in infrax.parse_server(fx["server"]))
    assert got_s == want_s


def test_fuzz_never_raises():
    """Arbitrary Alt-Svc / Server values never raise and keep the
    documented shapes (dense product indexes)."""
    rng = random.Random(78)
    chars = "h3-29=\":443\";ma=86400,clear persist nginx/1.2 ()"
    for _ in range(500):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 80)))
        alt = infrax.parse_alt_svc(src)
        assert alt is None or (isinstance(alt["clear"], bool)
                               and isinstance(alt["alts"], list))
        prods = infrax.parse_server(src)
        assert [p[0] for p in prods] == list(range(len(prods)))
