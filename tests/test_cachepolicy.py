"""HTTP cache-policy family: extractor/cachex.py grammar + date-math
vectors and Spark == pure parity on the committed fixture corpus."""

import calendar
import datetime
import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import cachex

CACHE_FIX = "fixtures/cache_headers_seed42_n64.parquet"
HDRS = ("cache_control", "hdr_age", "hdr_date", "hdr_expires",
        "hdr_last_modified", "hdr_etag")


def test_fixture_parquet_matches_builder():
    cols = ("url",) + HDRS + ("fetched_epoch",)
    regen = [tuple(r[c] for c in cols)
             for r in fixtures.cache_header_rows()]
    disk = [tuple(r[c] for c in cols)
            for r in pq.read_table(CACHE_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 64


def test_cache_control_grammar_vectors():
    p = cachex.parse_cache_control
    assert p("public, max-age=3600, s-maxage=7200") == [
        (0, "public", None), (1, "max-age", "3600"),
        (2, "s-maxage", "7200")]
    # quoted args keep commas; names lowercase; OWS tolerated
    assert p('private="set-cookie, x-y" ,\tMAX-AGE=300') == [
        (0, "private", "set-cookie, x-y"), (1, "max-age", "300")]
    # quoted empty arg == bare directive (both None)
    assert p('foo="", bar') == [(0, "foo", None), (1, "bar", None)]
    # unterminated quote: the item stops at the quote; the tail
    # becomes its own (bogus but deterministic) directive
    assert p('max-age=60, private="a') == [
        (0, "max-age", "60"), (1, "private", None), (2, "a", None)]
    # malformed items drop, valid neighbours survive
    assert p("max-age=abc, , =, immutable") == [
        (0, "max-age", "abc"), (1, "immutable", None)]
    for empty in ("", None, " , ,, "):
        assert p(empty) == []


def test_httpdate_vectors_and_sweep():
    f = cachex.httpdate_to_epoch
    assert f("Thu, 01 Jan 1970 00:00:00 GMT") == 0
    assert f("Sat, 01 Mar 2025 12:00:00 GMT") == 1740830400
    # strict IMF-fixdate only: rfc850 / asctime / junk reject
    assert f("Sunday, 06-Nov-94 08:49:37 GMT") is None
    assert f("Sun Nov  6 08:49:37 1994") is None
    assert f("Thu, 01 Jen 1970 00:00:00 GMT") is None
    assert f("") is None and f(None) is None
    for days in range(0, 40000, 61):
        dt = (datetime.datetime(1970, 1, 1)
              + datetime.timedelta(days=days, hours=days % 24,
                                   minutes=days % 60))
        got = f(fixtures._imf_date(dt))
        assert got == calendar.timegm(dt.timetuple())


def test_policy_precedence_vectors():
    date = "Sat, 01 Mar 2025 12:00:00 GMT"
    lastmod = "Wed, 19 Feb 2025 12:00:00 GMT"   # 10 days earlier
    expires = "Sun, 02 Mar 2025 12:00:00 GMT"   # +1 day
    pol = cachex.cache_policy
    # s-maxage beats max-age beats expires beats heuristic
    p = pol("max-age=100, s-maxage=200", None, date, expires,
            lastmod, None)
    assert (p["ttl_s"], p["ttl_source"]) == (200, "s-maxage")
    p = pol("max-age=100", None, date, expires, lastmod, None)
    assert (p["ttl_s"], p["ttl_source"]) == (100, "max-age")
    p = pol(None, None, date, expires, lastmod, None)
    assert (p["ttl_s"], p["ttl_source"]) == (86400, "expires")
    p = pol(None, None, date, None, lastmod, 'W/"x"')
    assert (p["ttl_s"], p["ttl_source"]) == (86400, "heuristic")
    assert p["etag_weak"] and p["has_etag"] and p["has_last_modified"]
    # invalid-but-present Expires means already stale (ttl 0)
    p = pol(None, None, date, "0", None, None)
    assert (p["ttl_s"], p["ttl_source"]) == (0, "expires")
    # Age subtracts, floored at 0; bad delta tokens are ignored
    p = pol("max-age=100", "40", date, None, None, None)
    assert (p["age_s"], p["fresh_for_s"]) == (40, 60)
    p = pol("max-age=100", "999", None, None, None, None)
    assert p["fresh_for_s"] == 0
    p = pol("max-age=99999999999999999999", None, None, None,
            None, None)
    assert p["ttl_s"] is None and p["ttl_source"] is None
    # no basis at all
    p = pol(None, None, None, expires, None, None)
    assert p["ttl_s"] is None and p["fresh_for_s"] is None
    # first occurrence wins for duplicate delta directives
    p = pol("max-age=300, max-age=100", None, None, None, None, None)
    assert p["ttl_s"] == 300


def test_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        cachepolicy
    rows = fixtures.cache_header_rows()
    df = spark.createDataFrame(
        [tuple(r[c] for c in ("url",) + HDRS) for r in rows],
        "url string, cache_control string, hdr_age string, "
        "hdr_date string, hdr_expires string, "
        "hdr_last_modified string, hdr_etag string")
    got_d = [(r.url, r.pos, r.directive, r.arg)
             for r in cachepolicy.cache_directives(df)
             .orderBy("url", "pos").collect()]
    want_d = []
    for r in rows:
        want_d += [(r["url"],) + t
                   for t in cachex.parse_cache_control(
                       r["cache_control"])]
    assert got_d == sorted(want_d)
    assert len(got_d) == 104

    got_p = {r.url: (r.no_store, r.no_cache, r.private, r.immutable,
                     r.must_revalidate, r.age_s, r.ttl_s,
                     r.ttl_source, r.fresh_for_s, r.has_etag,
                     r.etag_weak, r.has_last_modified)
             for r in cachepolicy.cache_policy_table(df).collect()}
    want_p = {}
    for r in rows:
        p = cachex.cache_policy(*(r[c] for c in HDRS))
        want_p[r["url"]] = (
            p["no_store"], p["no_cache"], p["private"],
            p["immutable"], p["must_revalidate"], p["age_s"],
            p["ttl_s"], p["ttl_source"], p["fresh_for_s"],
            p["has_etag"], p["etag_weak"], p["has_last_modified"])
    assert got_p == want_p
    # every ttl source and every scheduler bucket is exercised
    assert {v[7] for v in want_p.values()} == {
        "s-maxage", "max-age", "expires", "heuristic", None}
    buckets = {r.bucket: r.n for r in cachepolicy.revisit_buckets(
        cachepolicy.cache_policy_table(df)).collect()}
    assert set(buckets) == {"revalidate", "unknown", "hour", "day",
                            "week", "long"}
    assert sum(buckets.values()) == 64


def test_recrawl_plan_semantics(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        cachepolicy
    now_e = 1741600000
    df = spark.read.parquet(CACHE_FIX)
    got = {r.url: r for r in
           cachepolicy.recrawl_plan(df, now_e, default_ttl_s=86400,
                                    batch=4).collect()}
    rows = {r["url"]: r for r in fixtures.cache_header_rows()}
    assert set(got) == set(rows)
    n_due = 0
    for url, r in got.items():
        fx = rows[url]
        p = cachex.cache_policy(*(fx[c] for c in HDRS))
        if p["no_store"] or p["no_cache"]:
            want_due = fx["fetched_epoch"]
        else:
            f = p["fresh_for_s"]
            want_due = fx["fetched_epoch"] + (86400 if f is None
                                              else f)
        assert r.next_due_epoch == want_due, url
        assert r.due_now == (want_due <= now_e)
        n_due += r.due_now
        want_mode = ("etag" if p["has_etag"] else
                     "last-modified" if p["has_last_modified"]
                     else "full")
        assert r.revalidate_mode == want_mode
        assert r.host == url.split("://")[1].split("/")[0]
    # the fixed now splits the corpus both ways
    assert 0 < n_due < 64
    # waves: per host, contiguous 0..ceil(n/4)-1 with <=4 per wave
    import collections
    per_host = collections.Counter(
        (r.host, r.wave) for r in got.values())
    assert all(v <= 4 for v in per_host.values())
    hosts = collections.Counter(r.host for r in got.values())
    for h, n in hosts.items():
        waves = sorted(w for (hh, w) in per_host if hh == h)
        assert waves == list(range((n + 3) // 4))


def test_vary_and_retry_after_vectors():
    assert cachex.parse_vary(" User-Agent , Accept-Encoding ") == \
        ["user-agent", "accept-encoding"]
    assert cachex.parse_vary("*") == ["*"]
    assert cachex.parse_vary(" , ,, ") == []
    assert cachex.parse_vary(None) == []
    assert cachex.retry_after_epoch("120", 1000) == 1120
    assert cachex.retry_after_epoch(" 30 ", 1000) == 1030
    assert cachex.retry_after_epoch(
        "Thu, 01 Jan 1970 00:01:00 GMT", 5) == 60
    assert cachex.retry_after_epoch("soon", 5) is None
    # delta cap: >15 digits is not trusted (and is not a date)
    assert cachex.retry_after_epoch("9" * 18, 5) is None
    assert cachex.retry_after_epoch(None, 5) is None


HIST_FIX = "fixtures/fetch_history_seed42.parquet"


def test_fetch_history_fixture_matches_builder():
    cols = ("url", "seq", "fetched_epoch", "etag", "content_md5")
    regen = [tuple(r[c] for c in cols)
             for r in fixtures.fetch_history_rows()]
    disk = [tuple(r[c] for c in cols)
            for r in pq.read_table(HIST_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 119


def test_etag_match_vectors():
    m = cachex.etag_match
    # weak comparison: W/ ignored on both sides (RFC 9110 §8.8.3.2)
    assert m('"a"', '"a"') and m('W/"a"', '"a"') and m('"a"', 'W/"a"')
    assert m('W/"a"', 'W/"a"')
    assert not m('"a"', '"b"')
    # absent / empty never matches (even empty == empty)
    assert not m(None, '"a"') and not m('"a"', None)
    assert not m("W/", "W/") and not m("", "")
    # W/ only strips as a prefix
    assert m('"xW/"', '"xW/"') and not m('"xW/"', '"x"')


def test_fetch_history_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        cachepolicy
    import collections
    hist = spark.read.parquet(HIST_FIX)
    by_url = collections.defaultdict(list)
    for r in fixtures.fetch_history_rows():
        by_url[r["url"]].append(r)
    # pure reference: lag over seq order via cachex.etag_match
    want_sav, want_cls = {}, {}
    for url, rows in by_url.items():
        rows.sort(key=lambda r: r["seq"])
        nm = sum(cachex.etag_match(b["etag"], a["etag"])
                 for a, b in zip(rows, rows[1:]))
        ch = sum(b["content_md5"] != a["content_md5"]
                 for a, b in zip(rows, rows[1:]))
        want_sav[url] = (len(rows), nm, ch)
        n_rev = len(rows) - 1
        span = rows[-1]["fetched_epoch"] - rows[0]["fetched_epoch"]
        cls = ("stable" if ch == 0 else
               "volatile" if ch * 2 >= n_rev else "slow")
        gap = span // n_rev
        sug = gap * 4 if cls == "stable" else (
            gap // 2 if cls == "volatile" else gap)
        want_cls[url] = (n_rev, ch, cls, gap, sug)
    got = {r.url: (r.n_fetches, r.n_not_modified, r.n_changed)
           for r in cachepolicy.conditional_get_savings(hist)
           .collect()}
    assert got == want_sav
    got = {r.url: (r.n_revisits, r.n_changes, r.revisit_class,
                   r.mean_gap_s, r.suggested_interval_s)
           for r in cachepolicy.change_rate_classes(hist).collect()}
    assert got == want_cls
    # fixture design: every class and the etag-less k=3 urls appear
    assert {v[2] for v in want_cls.values()} == {
        "stable", "volatile", "slow"}
    assert any(v[1] == 0 for v in want_sav.values())      # static
    assert any(v[1] > 0 and v[2] > 0 for v in want_sav.values())


def test_vary_retry_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        cachepolicy
    from historicaldatadocumentparsersystem_spark.queries.cache_policy import (
        _RETRY_ROWS, _VARY_ROWS)
    vdf = spark.createDataFrame(list(_VARY_ROWS),
                                "url string, vary string")
    got = {r.url: (r.n_tokens, r.varies_ua, r.varies_cookie,
                   r.uncacheable)
           for r in cachepolicy.vary_profile(vdf).collect()}
    for url, raw in _VARY_ROWS:
        toks = cachex.parse_vary(raw)
        assert got[url] == (len(toks), "user-agent" in toks,
                            "cookie" in toks, "*" in toks), url
    rdf = spark.createDataFrame(
        list(_RETRY_ROWS),
        "url string, status int, retry_after string, "
        "fetched_epoch long")
    got = {r.url: (r.throttled, r.next_attempt_epoch)
           for r in cachepolicy.retry_backoff(rdf).collect()}
    for url, status, ra, fe in _RETRY_ROWS:
        throttled = status in (429, 503)
        want = (cachex.retry_after_epoch(ra, fe)
                if throttled else None)
        assert got[url] == (throttled, want), url
    # non-throttle statuses never schedule a backoff
    assert got["https://t.example/f"] == (False, None)


def test_fuzz_never_raises():
    """Arbitrary header values never raise and keep the documented
    return types (directive indexes are dense, names lowercase)."""
    rng = random.Random(73)
    chars = "max-agenocachestoreprivate=,;\" 0123456789GMTSunNov:-*W/"
    def hdr():
        if rng.random() < 0.1:
            return None
        return "".join(rng.choice(chars)
                       for _ in range(rng.randrange(0, 60)))
    for _ in range(400):
        cc = hdr()
        dirs = cachex.parse_cache_control(cc)
        assert [d[0] for d in dirs] == list(range(len(dirs)))
        assert all(d[1] == d[1].lower() for d in dirs)
        epoch = cachex.httpdate_to_epoch(hdr())
        assert epoch is None or isinstance(epoch, int)
        assert isinstance(cachex.parse_vary(hdr()), list)
        retry = cachex.retry_after_epoch(hdr(), 1_700_000_000)
        assert retry is None or isinstance(retry, int)
        assert isinstance(cachex.etag_match(hdr(), hdr()), bool)
        assert isinstance(cachex.cache_policy(
            cc, hdr(), hdr(), hdr(), hdr(), hdr()), dict)
