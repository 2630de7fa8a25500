"""robots.txt parser + corpus filter semantics (RFC 9309 subset)."""

from historicaldatadocumentparsersystem_spark.operators import robots


def test_filter_longest_prefix_and_ties(spark):
    rules = spark.createDataFrame(
        [("h", "disallow", "/a"), ("h", "allow", "/a/b"),
         ("h", "disallow", "/t"), ("h", "allow", "/t")],
        "host string, rule string, prefix string")
    docs = spark.createDataFrame(
        [("https://h/a/x",), ("https://h/a/b/x",),
         ("https://h/t/q",), ("https://h/",), ("https://other/p",)],
        "url string")
    got = {r["url"]: r["allowed"]
           for r in robots.robots_filter(docs, rules).collect()}
    assert got == {
        "https://h/a/x": 0,       # /a disallow
        "https://h/a/b/x": 1,     # longer allow overrides
        "https://h/t/q": 1,       # equal-length tie -> allow wins
        "https://h/": 1,          # no matching rule
        "https://other/p": 1,     # host without rules
    }


def test_parse_crawl_delay_groups_and_forms():
    from historicaldatadocumentparsersystem_spark.operators.robots import \
        parse_crawl_delay
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 2\n") == 2000
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 0.5\n") == 500
    # agent-specific group shadows '*'
    two = ("User-agent: sparkbot\nCrawl-delay: 7\n"
           "User-agent: *\nCrawl-delay: 60\n")
    assert parse_crawl_delay(two, agent="sparkbot") == 7000
    assert parse_crawl_delay(two, agent="otherbot") == 60000
    # invalid / absent / negative -> None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: soon\n") is None
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: -3\n") is None
    # last directive in a group wins
    assert parse_crawl_delay(
        "User-agent: *\nCrawl-delay: 1\nCrawl-delay: 4\n") == 4000
    # crawl-delay ends a group like rules do (RFC group structure)
    after = ("User-agent: a\nCrawl-delay: 9\n"
             "User-agent: *\nDisallow: /y\n")
    assert parse_crawl_delay(after, agent="a") == 9000
    assert parse_crawl_delay(after, agent="b") is None
    assert parse_crawl_delay(b"", agent="x") is None


def test_fetch_schedule_delayed_pacing(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    cands = spark.createDataFrame(
        [(f"https://h{i % 2}.example/p{i}", f"example,h{i % 2})/p{i}",
          "normal") for i in range(8)],
        "url string, urlkey string, priority string")
    delays = spark.createDataFrame([("example,h0", 2000)],
                                   "host string, crawl_delay_ms long")
    got = {r.url: (r.batch, r.delay_ms, r.not_before_ms)
           for r in webtext.fetch_schedule_delayed(
               cands, delays, per_host_budget=2,
               default_delay_ms=500).collect()}
    for url, (batch, dms, nb) in got.items():
        want_delay = 2000 if ",h0" in url.replace("https://h0", ",h0") \
            or "h0.example" in url else 500
        assert dms == want_delay, url
        assert nb == batch * dms, url
    # 4 urls per host, budget 2 -> batches 0 and 1 on both hosts
    batches = sorted(b for b, _, _ in got.values())
    assert batches == [0, 0, 0, 0, 1, 1, 1, 1]
