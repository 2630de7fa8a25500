"""Security-header posture family: sechdrx grammar vectors, fixture
pin, and Spark == pure parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import sechdrx

SEC_FIX = "fixtures/sec_headers_seed42_n60.parquet"
HDRS = ("hsts", "csp", "referrer_policy", "x_frame_options")


def test_fixture_parquet_matches_builder():
    cols = ("url",) + HDRS
    regen = [tuple(r[c] for c in cols)
             for r in fixtures.sec_header_rows()]
    disk = [tuple(r[c] for c in cols)
            for r in pq.read_table(SEC_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 60


def test_hsts_vectors():
    p = sechdrx.parse_hsts
    h = p("max-age=63072000; includeSubDomains; preload")
    assert h == {"valid": True, "max_age": 63072000,
                 "include_subdomains": True, "preload": True}
    # quoted max-age; order-free; OWS
    assert p(' preload ;  max-age = "60" ')["max_age"] == 60
    # duplicate directive invalidates the WHOLE header
    h = p("max-age=300; max-age=600")
    assert h == {"valid": False, "max_age": None,
                 "include_subdomains": False, "preload": False}
    assert not p("includeSubDomains")["valid"]      # missing max-age
    assert not p("=x; max-age=60")["valid"]         # empty name
    assert not p("max-age=" + "9" * 16)["valid"]    # untrusted
    assert not p("max-age=abc")["valid"]
    assert p("max-age=0")["valid"]                  # kill switch
    # empty segments are skipped, not duplicates
    assert p(";; max-age=60 ;")["valid"]
    assert p(None) is None and p("") is None


def test_csp_vectors():
    p = sechdrx.parse_csp
    assert p("default-src 'self'; script-src a.com b.com") == [
        (0, "default-src", ["'self'"]),
        (1, "script-src", ["a.com", "b.com"])]
    # duplicate directive: FIRST wins, pos is pre-dedup index
    assert p("img-src a; IMG-SRC b; font-src c") == [
        (0, "img-src", ["a"]), (2, "font-src", ["c"])]
    # empty segments don't consume a pos; bare directives allowed
    assert p("; ; upgrade-insecure-requests ;") == [
        (0, "upgrade-insecure-requests", [])]
    assert p("default-src\t'self'  x") == [
        (0, "default-src", ["'self'", "x"])]
    assert p(None) == [] and p("") == []


def test_rp_xfo_vectors():
    rp = sechdrx.parse_referrer_policy
    assert rp("no-referrer, unsafe-url") == "unsafe-url"   # last wins
    assert rp("unsafe-url, bogus") == "unsafe-url"         # recognized
    assert rp("ORIGIN") == "origin" and rp(",same-origin,") == \
        "same-origin"
    assert rp("bogus") is None and rp(None) is None
    xfo = sechdrx.parse_xfo
    assert xfo("DENY") == "deny" and xfo(" sameorigin ") == \
        "sameorigin"
    assert xfo("ALLOW-FROM https://x") == "allow-from"
    assert xfo("weird") == "invalid" and xfo(None) is None


def test_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        sechdr
    caps = spark.read.parquet(SEC_FIX)
    got = {r.url: r for r in sechdr.security_headers(caps).collect()}
    for fx in fixtures.sec_header_rows():
        g = got[fx["url"]]
        h = sechdrx.parse_hsts(fx["hsts"])
        d = sechdrx.parse_csp(fx["csp"])
        srcs = [t.lower() for _, _, toks in d for t in toks]
        names = {n for _, n, _ in d}
        assert g.hsts_valid == (None if h is None else h["valid"])
        assert g.hsts_max_age == (None if h is None
                                  else h["max_age"])
        assert g.csp_present == (fx["csp"] is not None)
        assert g.csp_n_directives == len(d)
        assert g.csp_unsafe_inline == ("'unsafe-inline'" in srcs)
        assert g.csp_frame_ancestors == ("frame-ancestors" in names)
        assert g.frame_policy == sechdrx.parse_xfo(
            fx["x_frame_options"])
        assert g.referrer_policy == sechdrx.parse_referrer_policy(
            fx["referrer_policy"])
    # posture: every grade letter is reachable on the fixture
    grades = {r.grade for r in sechdr.host_security_posture(
        sechdr.security_headers(caps)).collect()}
    assert grades == {"A", "B", "C", "D", "F"}


def test_fuzz_never_raises():
    """Arbitrary header values never raise and keep the documented
    shapes (dense CSP directive indexes)."""
    rng = random.Random(84)
    chars = "max-age=;includeSubDomains preload default-src 'self' " \
            "no-referrer,DENY SAMEORIGIN\"01"
    for _ in range(500):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 80)))
        hsts = sechdrx.parse_hsts(src)
        assert hsts is None or isinstance(hsts["valid"], bool)
        csp = sechdrx.parse_csp(src)
        assert [d[0] for d in csp] == list(range(len(csp)))
        for fn in (sechdrx.parse_referrer_policy, sechdrx.parse_xfo):
            v = fn(src)
            assert v is None or v == v.lower()
