"""CDX capture-index layer: SURT urlkey (Python <-> column-expression
A/B), CDXJ round-trip, record locators that slice back to their
members, and the digest-dedup fetch planner."""

from datetime import datetime, timezone

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from historicaldatadocumentparsersystem_spark import functions as HF
from historicaldatadocumentparsersystem_spark.extractor import cdxx, warcx
from historicaldatadocumentparsersystem_spark.operators import webtext

SURT_CASES = [
    ("https://WWW.Example.COM:443/Path/A?b=2&a=1#frag",
     "com,example)/Path/A?a=1&b=2"),
    ("http://sub.host.co.uk:8080/x", "uk,co,host,sub:8080)/x"),
    ("https://u:p@host.com/p?z=1", "com,host)/p?z=1"),
    ("https://host.com", "com,host)/"),
    ("https://host.com/?", "com,host)/"),
    ("HTTPS://www.a.b.c/d/e/f?x=1&x=0&y", "c,b,a)/d/e/f?x=0&x=1&y"),
    ("http://host.com:80/q", "com,host)/q"),
    (" https://pad.io/t ", "io,pad)/t"),
    ("not a url", ""),
    ("", ""),
    ("https:///nohost", ""),
]


def test_surt_key_python():
    for url, want in SURT_CASES:
        assert cdxx.surt_key(url) == want, url


def test_surt_urlkey_expr_matches_python(spark):
    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES],
                               "u string")
    got = [r[0] for r in df.select(HF.surt_urlkey("u")).collect()]
    assert got == [want for _, want in SURT_CASES]


def _cdx_records(n=8):
    return [{"urlkey": cdxx.surt_key(f"https://h{i % 3}.com/p{i}"),
             "ts": datetime(2024, 3, 3, 0, 0, i, tzinfo=timezone.utc),
             "url": f"https://h{i % 3}.com/p{i}",
             "mime": "text/html" if i % 4 else "application/pdf",
             "status": 200 if i % 5 else 404,
             "digest": f"D{i % 4:02d}",
             "length": 100 + i,
             "offset": i * 1000,
             "filename": f"shard-{i % 2}.warc.gz"}
            for i in range(n)]


def test_cdxj_roundtrip_plain_and_gzip():
    recs = _cdx_records()
    for gz in (False, True):
        got = cdxx.parse_cdxj(cdxx.build_cdxj(recs, gzip_file=gz))
        assert got == recs


def test_cdxj_malformed_lines_skipped():
    good = cdxx.build_cdxj(_cdx_records(2))
    noisy = (b"\n# comment no json\n" + good +
             b"key 20240101000000 {\"url\": \"x\"}\n"      # no locator
             b"key 20240101000000 not-json\n"
             b"key 20240101000000 {\"offset\": \"a\", \"length\": \"1\"}\n"
             b"toofew {\"offset\": \"1\", \"length\": \"1\"}\n")
    assert cdxx.parse_cdxj(noisy) == _cdx_records(2)
    # bad timestamp degrades to ts=None, row kept (locator is valid)
    bad_ts = b'k 2024 {"offset": "5", "length": "7"}\n'
    (row,) = cdxx.parse_cdxj(bad_ts)
    assert row["ts"] is None and row["offset"] == 5 and row["length"] == 7


@given(st.binary(max_size=2048))
@settings(max_examples=100, deadline=None)
def test_cdxj_parse_arbitrary_bytes_never_raises(data):
    assert isinstance(cdxx.parse_cdxj(data), list)


def _warc_records(n=6):
    return [{"url": f"https://h{i % 3}.com/p{i}",
             "warc_ts": datetime(2024, 3, 3, tzinfo=timezone.utc),
             "status": 200,
             "body": (f"<html><body>doc {i} " + "x" * (i * 50)
                      + "</body></html>").encode()}
            for i in range(n)]


@pytest.mark.parametrize("gz", [False, True])
def test_warc_indexed_locators_decode_members(gz):
    recs = _warc_records()
    shard, rows = cdxx.build_warc_indexed(recs, gzip_records=gz)
    assert [r["offset"] for r in rows] == sorted(r["offset"]
                                                 for r in rows)
    assert sum(r["length"] for r in rows) == len(shard)
    for r, rec in zip(rows, recs):
        (got,) = warcx.parse_warc(shard[r["offset"]:r["offset"]
                                        + r["length"]])
        assert got["url"] == rec["url"] and got["body"] == rec["body"]


def test_cdx_fetch_plan_gates_and_dedups(spark):
    cdx = spark.createDataFrame(
        [  # digest A: three 200/html copies -> keep min (ts, urlkey)
           ("k2", datetime(2024, 1, 2), "u2", "text/html", 200, "A",
            100, 0, "f1"),
           ("k1", datetime(2024, 1, 1), "u1", "text/html", 200, "A",
            120, 500, "f2"),
           ("k0", datetime(2024, 1, 1), "u0", "text/html", 200, "A",
            110, 900, "f1"),
           # digest B: one html copy + one 404 + one pdf (gated out)
           ("k3", datetime(2024, 1, 3), "u3", "text/html", 200, "B",
            70, 100, "f1"),
           ("k4", datetime(2024, 1, 1), "u4", "text/html", 404, "B",
            80, 200, "f1"),
           ("k5", datetime(2024, 1, 1), "u5", "application/pdf", 200,
            "B", 90, 300, "f1"),
        ],
        "urlkey string, ts timestamp, url string, mime string, "
        "status int, digest string, length long, offset long, "
        "filename string")
    got = {r["digest"]: r
           for r in webtext.cdx_fetch_plan(cdx).collect()}
    assert set(got) == {"A", "B"}
    a = got["A"]     # min ts 2024-01-01 ties -> min urlkey k0
    assert (a["urlkey"], a["offset"], a["length"]) == ("k0", 900, 110)
    assert a["n_copies"] == 3 and a["bytes_saved"] == 100 + 120
    b = got["B"]
    assert (b["urlkey"], b["n_copies"], b["bytes_saved"]) == ("k3", 1, 0)
