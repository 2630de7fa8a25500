"""License-detection family: licensex vectors, fixture pin, Spark
== pure parity."""

import random

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import licensex

LIC_FIX = "fixtures/license_pages_seed42_n40.parquet"


def test_fixture_parquet_matches_builder():
    cols = ("url", "href", "text")
    regen = [tuple(r[c] for c in cols)
             for r in synth_inputs.license_page_rows()]
    disk = [tuple(r[c] for c in cols)
            for r in pq.read_table(LIC_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 52


def test_link_license_vectors():
    f = licensex.link_license
    assert f("https://creativecommons.org/licenses/by/4.0/") == \
        "CC-BY-4.0"
    assert f("http://creativecommons.org/licenses/by-nc-sa/3.0/"
             "deed.fr") == "CC-BY-NC-SA-3.0"
    assert f("https://creativecommons.org/publicdomain/zero/1.0/"
             "?ref=x") == "CC0-1.0"
    assert f("https://creativecommons.org/about") is None
    assert f("https://example.com/licenses/by/4.0/") is None
    assert f(None) is None and f("") is None


def test_text_signals_and_resolve():
    sigs = licensex.text_signals(
        "// SPDX-License-Identifier: Apache-2.0\n"
        "Licensed under the Apache License, Version 2.0. "
        "All rights reserved.")
    assert sigs == [("spdx", "Apache-2.0"),
                    ("phrase", "Apache-2.0"), ("phrase", "ARR")]
    assert licensex.text_signals("nothing here") == []
    assert licensex.text_signals(None) == []
    # precedence link > spdx > phrase; lexicographic tiebreak
    assert licensex.resolve(
        [("phrase", "ARR"), ("link", "CC-BY-4.0"),
         ("spdx", "MIT")]) == ("link", "CC-BY-4.0")
    assert licensex.resolve(
        [("phrase", "MIT"), ("phrase", "GPL")]) == ("phrase", "GPL")
    assert licensex.resolve([]) is None


def test_spark_matches_pure(spark):
    from pyspark.sql import functions as F

    from historicaldatadocumentparsersystem_spark.operators import \
        licensing
    raw = spark.read.parquet(LIC_FIX)
    sig = licensing.license_signals(
        raw.where(F.col("href").isNotNull()),
        raw.where(F.col("text").isNotNull()))
    got = sorted((r.url, r.source, r.license_id)
                 for r in sig.collect())
    want = []
    by_url: dict[str, list] = {}
    for r in synth_inputs.license_page_rows():
        lic = licensex.link_license(r["href"])
        sigs = ([("link", lic)] if lic else []) + \
            licensex.text_signals(r["text"])
        for source, lid in sigs:
            want.append((r["url"], source, lid))
            by_url.setdefault(r["url"], []).append((source, lid))
    assert got == sorted(want)
    got_r = {r.url: (r.license_id, r.source)
             for r in licensing.license_resolve(sig).collect()}
    want_r = {u: (s[1], s[0]) for u, sigs in by_url.items()
              for s in [licensex.resolve(sigs)]}
    assert got_r == want_r
    # fixture design: every channel appears, conflicts resolved to
    # the link channel, and some pages have no signal at all
    assert {s for _, s in got_r.values()} == {"link", "spdx",
                                              "phrase"}
    urls_with_rows = {r["url"] for r in synth_inputs.license_page_rows()}
    assert set(got_r) < urls_with_rows


def test_fuzz_never_raises():
    """Arbitrary hrefs and texts never raise; resolve() of whatever
    signals come out picks one of them or nothing."""
    rng = random.Random(80)
    chars = "https://creativecommons.org/licenses/by-sa-nc-nd/4.0 CC0 " \
            "SPDX-License-Identifier: MIT All rights reserved\n"
    for _ in range(400):
        href = "".join(rng.choice(chars)
                       for _ in range(rng.randrange(0, 80)))
        text = "".join(rng.choice(chars)
                       for _ in range(rng.randrange(0, 160)))
        lic = licensex.link_license(href)
        assert lic is None or isinstance(lic, str)
        signals = licensex.text_signals(text)
        if lic:
            signals = signals + [("link", lic)]
        got = licensex.resolve(signals)
        assert got is None or got in [tuple(s) for s in signals]
