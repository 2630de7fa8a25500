"""Set-Cookie privacy family: cookiex grammar vectors, fixture pin,
and Spark == pure parity (RFC 6265 storage-model subset)."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import (
    cachex, cookiex)

COOKIE_FIX = "fixtures/set_cookie_seed42_n72.parquet"


def test_fixture_parquet_matches_builder():
    cols = ("url", "seq", "fetched_epoch", "set_cookie")
    regen = [tuple(r[c] for c in cols)
             for r in fixtures.set_cookie_rows()]
    disk = [tuple(r[c] for c in cols)
            for r in pq.read_table(COOKIE_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 72


def test_parse_set_cookie_vectors():
    p = cookiex.parse_set_cookie
    c = p("sid=x; Path=/; Secure; HttpOnly; SameSite=Lax")
    assert (c["name"], c["value"], c["path"]) == ("sid", "x", "/")
    assert c["secure"] and c["httponly"] and c["samesite"] == "lax"
    assert not c["max_age"] and not c["expires_epoch"]
    # ignored headers: no '=', empty name
    assert p("bareword") is None and p("=v; Path=/") is None
    assert p("") is None and p(None) is None and p("  =v") is None
    # value keeps quotes and inner '='; OWS trims; last attr wins
    c = p(' a = "x=y" ; Path=/one ; PATH=/two ')
    assert (c["name"], c["value"], c["path"]) == ("a", '"x=y"', "/two")
    # a later bare attribute clears an earlier value (last wins)
    assert p("a=1; Domain=x.y; Domain")["domain"] is None
    # Domain: lowercase, ONE leading dot stripped, empty -> None
    assert p("a=1; Domain=.WWW.Ex.COM")["domain"] == "www.ex.com"
    assert p("a=1; Domain=..ex.com")["domain"] == ".ex.com"
    assert p("a=1; Domain=")["domain"] is None
    assert p("a=1; Domain=.")["domain"] is None
    # Path must be absolute
    assert p("a=1; Path=rel")["path"] is None
    # Max-Age trust gate: optional sign, 1-15 digits
    assert p("a=1; Max-Age=0")["max_age"] == 0
    assert p("a=1; Max-Age=-7")["max_age"] == -7
    assert p("a=1; Max-Age=" + "9" * 15)["max_age"] == 10 ** 15 - 1
    assert p("a=1; Max-Age=" + "9" * 16)["max_age"] is None
    assert p("a=1; Max-Age=1.5")["max_age"] is None
    # Expires: strict IMF only
    assert p("a=1; Expires=Thu, 01 Jan 1970 00:00:10 GMT")[
        "expires_epoch"] == 10
    assert p("a=1; Expires=Sunday, 06-Nov-94 08:49:37 GMT")[
        "expires_epoch"] is None


def test_cookie_expiry_precedence():
    f = cookiex.cookie_expiry
    assert f(None, None, 100) == (False, None)       # session
    assert f(60, None, 100) == (True, 160)           # max-age
    assert f(60, 999, 100) == (True, 160)            # max-age wins
    assert f(None, 999, 100) == (True, 999)          # expires
    assert f(-1, 999, 100) == (True, 99)             # deletion


def test_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        cookies
    hdrs = spark.read.parquet(COOKIE_FIX)
    got = {(r.url, r.seq): r for r in
           cookies.cookie_table(hdrs).collect()}
    want = {}
    for r in fixtures.set_cookie_rows():
        c = cookiex.parse_set_cookie(r["set_cookie"])
        if c is None:
            continue
        pers, exp = cookiex.cookie_expiry(
            c["max_age"], c["expires_epoch"], r["fetched_epoch"])
        want[(r["url"], r["seq"])] = (
            c["name"], c["value"], c["domain"], c["path"],
            c["secure"], c["httponly"], c["samesite"], pers, exp,
            None if exp is None else exp - r["fetched_epoch"])
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g.name, g.value, g.domain, g.path, g.secure,
                g.httponly, g.samesite, g.persistent,
                g.expires_epoch, g.ttl_s) == w, k
    assert len(want) == 66        # 6 ignored headers drop


def test_profile_null_samesite_not_tracker(spark):
    """A host whose only persistent long-lived cookie has NO
    SameSite must come out tracker_like=False, not NULL."""
    from historicaldatadocumentparsersystem_spark.operators import \
        cookies
    df = spark.createDataFrame(
        [("https://n.example/a", 0, 1000,
          "a=1; Max-Age=99999999")],
        "url string, seq long, fetched_epoch long, "
        "set_cookie string")
    rows = cookies.cookie_privacy_profile(
        cookies.cookie_table(df)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.host == "n.example"
    assert r.tracker_like is False
    assert r.n_long_lived == 1 and r.max_ttl_s == 99999999


def test_fuzz_never_raises():
    """Arbitrary Set-Cookie values never raise: the result is None or
    the full storage-model dict with normalized attributes."""
    rng = random.Random(74)
    toks = ["a=b", "=", ";", "; ", " Domain=.Ex.COM", "domain=",
            " path=/x", "Path=rel", " Secure", "HttpOnly", " SameSite=Lax",
            "samesite=NONE", "Max-Age=-5", "max-age=1e3",
            "Expires=Sun, 06 Nov 1994 08:49:37 GMT", " ", "\t", "x"]
    keys = {"name", "value", "domain", "path", "secure", "httponly",
            "samesite", "max_age", "expires_epoch"}
    for _ in range(500):
        src = "".join(rng.choice(toks) for _ in range(rng.randrange(0, 9)))
        c = cookiex.parse_set_cookie(src)
        if c is None:
            continue
        assert set(c) == keys and c["name"]
        assert c["domain"] is None or (
            c["domain"] == c["domain"].lower()
            and not c["domain"].startswith("."))
        assert c["path"] is None or c["path"].startswith("/")
        assert c["samesite"] is None or c["samesite"] == c["samesite"].lower()
        assert isinstance(c["secure"], bool)
        assert isinstance(c["httponly"], bool)
        assert c["max_age"] is None or isinstance(c["max_age"], int)
