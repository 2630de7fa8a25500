"""WARC/ARC sources: pure-Python round-trips and the Spark capture and
ARC document views over binaryFile shards."""

from datetime import datetime, timezone

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import warcx
from historicaldatadocumentparsersystem_spark.sources import (
    arc_documents_from_blobs, warc_captures_from_blobs)


def _shards(spark, path):
    return spark.read.format("binaryFile").load(path).select("content")


def _captures(spark, path):
    return warc_captures_from_blobs(_shards(spark, path))


def _records(n=30):
    rows = fixtures.generate_rows(n)
    return [{"url": r["url"], "warc_ts": r["warc_ts"].replace(
                tzinfo=timezone.utc),
             "status": 200, "body": r["html"] or b""}
            for r in rows]


def test_roundtrip_plain_and_gzip():
    recs = _records()
    for gz in (False, True):
        got = warcx.parse_warc(warcx.build_warc(recs, gzip_records=gz))
        assert [(g["url"], g["warc_ts"], g["body"]) for g in got] == \
            [(r["url"], r["warc_ts"], r["body"]) for r in recs]
        assert all(g["status"] == 200 for g in got)


def test_parse_skips_non_response_and_truncated():
    recs = _records(5)
    data = warcx.build_warc(recs)
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 4\r\n\r\nabcd\r\n\r\n")
    # truncated trailer: header promises more bytes than remain
    trunc = (b"WARC/1.0\r\nWARC-Type: response\r\n"
             b"WARC-Target-URI: https://t/x\r\n"
             b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
             b"Content-Length: 99999\r\n\r\nshort")
    got = warcx.parse_warc(info + data + trunc)
    assert len(got) == 5
    assert got[0]["url"] == recs[0]["url"]


def test_parse_never_raises_on_junk():
    for junk in (b"", b"WARC/1.0\r\n\r\n", b"\x1f\x8bnot-gzip",
                 b"WARC/1.0\r\nContent-Length: x\r\n\r\n", b"random"):
        assert isinstance(warcx.parse_warc(junk), list)


# --- property tests ----------------------------------------------------------

from hypothesis import given, settings, strategies as st

_bodies = st.lists(
    st.binary(max_size=300).map(
        # adversarial: embed record markers inside bodies — the parser
        # must honor Content-Length, never resync on the marker
        lambda b: b + b"\r\n\r\nWARC/1.0\r\n" if len(b) % 3 == 0 else b),
    min_size=1, max_size=8)


@given(_bodies, st.booleans())
@settings(max_examples=60, deadline=None)
def test_warc_roundtrip_property(bodies, gz):
    recs = [{"url": f"https://h{i}.com/p", "status": 200,
             "warc_ts": datetime(2024, 1, 1, tzinfo=timezone.utc),
             "body": b} for i, b in enumerate(bodies)]
    got = warcx.parse_warc(warcx.build_warc(recs, gzip_records=gz))
    assert [(g["url"], g["body"]) for g in got] == \
        [(r["url"], r["body"]) for r in recs]


@given(st.binary(max_size=2048))
@settings(max_examples=150, deadline=None)
def test_warc_parse_arbitrary_bytes_never_raises(data):
    assert isinstance(warcx.parse_warc(data), list)


def test_resolve_revisits_serves_content_from_canonical(spark, tmp_path):
    """Revisit pointers resolve to the stored copy's locator, and that
    byte range holds the ORIGINAL record for the revisit's url;
    unresolvable digests surface as missing rows."""
    import hashlib
    from historicaldatadocumentparsersystem_spark.extractor import cdxx
    from historicaldatadocumentparsersystem_spark.operators import webtext
    recs = _records(3)
    shard, rows = cdxx.build_warc_indexed(recs, gzip_records=True)
    path = tmp_path / "s.warc.gz"
    path.write_bytes(shard)
    for r in rows:
        r["filename"] = str(path)
        body = next(x["body"] for x in recs if x["url"] == r["url"])
        r["digest"] = hashlib.md5(body).hexdigest()
    plan = webtext.cdx_fetch_plan(
        spark.createDataFrame(
            [tuple(r[c] for c in ("urlkey", "ts", "url", "mime",
                                  "status", "digest", "length",
                                  "offset", "filename"))
             for r in rows],
            "urlkey string, ts timestamp, url string, mime string, "
            "status int, digest string, length long, offset long, "
            "filename string"))
    rev = spark.createDataFrame(
        [("https://h.com/replay", rows[1]["ts"], rows[1]["digest"]),
         ("https://h.com/lost", rows[1]["ts"], "gone")],
        "url string, warc_ts timestamp, digest string")
    res = webtext.resolve_revisits(rev, plan)
    got = res.collect()
    assert len(got) == 1 and got[0]["url"] == "https://h.com/replay"
    assert got[0]["canonical_url"] == recs[1]["url"]
    off, n = got[0]["offset"], got[0]["length"]
    assert got[0]["filename"] == str(path)
    (member,) = warcx.parse_warc(shard[off:off + n])
    assert member["body"] == recs[1]["body"]


def test_content_type_round_trips():
    from datetime import datetime, timezone

    from historicaldatadocumentparsersystem_spark.extractor.warcx import (
        build_warc, parse_warc)
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    recs = [
        {"url": "https://a/pdf", "warc_ts": ts, "status": 200,
         "content_type": "application/pdf", "body": b"%PDF-1.4 x"},
        {"url": "https://a/h", "warc_ts": ts, "status": 200,
         "body": b"<html>x</html>"},  # default text/html
        {"url": "https://a/params", "warc_ts": ts, "status": 200,
         "content_type": "text/html; charset=ISO-8859-1",
         "body": b"<p>y</p>"},
    ]
    back = parse_warc(build_warc(recs))
    assert [r["content_type"] for r in back] == [
        "application/pdf", "text/html", "text/html; charset=ISO-8859-1"]
    assert [r["body"] for r in back] == [r["body"] for r in recs]


def test_warc_captures_sniff_without_bodies(spark, tmp_path):
    from datetime import datetime, timezone

    from historicaldatadocumentparsersystem_spark.extractor.warcx import \
        build_warc
    ts = datetime(2024, 3, 5, 12, 0, tzinfo=timezone.utc)
    shard = build_warc([
        {"url": "https://c/1", "warc_ts": ts, "status": 200,
         "content_type": "text/html", "body": b"<html>hello</html>"},
        {"url": "https://c/2", "warc_ts": ts, "status": 404,
         "content_type": "text/html", "body": b"%PDF-1.7 lying"},
        {"url": "https://c/3", "warc_ts": ts, "status": 200,
         "content_type": "application/pdf", "body": b""},
    ])
    (tmp_path / "s.warc").write_bytes(shard)
    rows = {r.url: r for r in
            _captures(spark, str(tmp_path) + "/*").collect()}
    assert rows["https://c/1"].sniffed_kind == "html"
    assert rows["https://c/2"].sniffed_kind == "pdf"
    assert rows["https://c/2"].status == 404
    assert rows["https://c/3"].sniffed_kind == "empty"
    assert rows["https://c/1"].n_bytes == len(b"<html>hello</html>")
    assert "body" not in rows["https://c/1"].asDict()


def test_content_type_mismatch_gate(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [("u1", "text/html; charset=utf-8", "html"),
            ("u2", "TEXT/HTML", "pdf"),
            ("u3", "application/octet-stream", "pdf"),
            ("u4", None, "html"),
            ("u5", "application/pdf", "empty")]
    df = spark.createDataFrame(
        rows, "url string, content_type string, sniffed_kind string")
    got = {r.url: (r.mime_norm, r.expected_kind, r.mismatch)
           for r in webtext.content_type_mismatch(df).collect()}
    assert got["u1"] == ("text/html", "html", False)
    assert got["u2"] == ("text/html", "html", True)
    assert got["u3"] == ("application/octet-stream", "unknown", False)
    assert got["u4"] == ("", "unknown", False)
    assert got["u5"] == ("application/pdf", "pdf", True)


def test_x_robots_header_roundtrip_and_gate(spark):
    from datetime import datetime, timezone
    from historicaldatadocumentparsersystem_spark.extractor import warcx
    from historicaldatadocumentparsersystem_spark.operators import webtext
    ts = datetime(2024, 3, 4, 5, 6, 7, tzinfo=timezone.utc)
    shard = warcx.build_warc([
        {"url": "https://x/1", "warc_ts": ts, "body": b"<html>a",
         "x_robots": "noindex, nofollow"},
        {"url": "https://x/2", "warc_ts": ts, "body": b"<html>b"},
        {"url": "https://x/3", "warc_ts": ts, "body": b"%PDF-1.4",
         "content_type": "application/pdf",
         "x_robots": "googlebot: none"},
    ])
    recs = warcx.parse_warc(shard)
    assert [r["x_robots"] for r in recs] == [
        "noindex, nofollow", None, "googlebot: none"]

    caps = spark.createDataFrame(
        [(r["url"], r["x_robots"]) for r in recs],
        "url string, x_robots string")
    got = {r["url"]: (r["noindex"], r["nofollow"], r["keep"])
           for r in webtext.header_robots_gate(caps).collect()}
    assert got == {"https://x/1": (True, True, False),
                   "https://x/2": (False, False, True),
                   "https://x/3": (True, True, False)}
    plan = (webtext.header_robots_gate(caps)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_location_roundtrip_and_redirect_chains(spark, tmp_path):
    """Location header round-trips through build_warc -> parse_warc,
    surfaces in the captures view, and redirect_chains resolves the
    multi-hop / dangling / cycle / terminal-404 cases end-to-end."""
    from datetime import datetime, timezone

    from historicaldatadocumentparsersystem_spark.extractor import warcx
    from historicaldatadocumentparsersystem_spark.operators import webtext
    ts = datetime(2024, 6, 1, tzinfo=timezone.utc)
    recs = [
        {"url": "https://r/a", "warc_ts": ts, "status": 301,
         "location": "https://r/b", "body": b"moved"},
        {"url": "https://r/b", "warc_ts": ts, "status": 302,
         "location": "https://r/ok", "body": b"found"},
        {"url": "https://r/ok", "warc_ts": ts, "status": 200,
         "body": b"<html>final</html>"},
        {"url": "https://r/gone", "warc_ts": ts, "status": 301,
         "location": "https://r/404", "body": b""},
        {"url": "https://r/404", "warc_ts": ts, "status": 404,
         "body": b"nope"},
        {"url": "https://r/dang", "warc_ts": ts, "status": 308,
         "location": "https://r/offsite", "body": b""},
        {"url": "https://r/c1", "warc_ts": ts, "status": 301,
         "location": "https://r/c2", "body": b""},
        {"url": "https://r/c2", "warc_ts": ts, "status": 302,
         "location": "https://r/c1", "body": b""},
    ]
    back = warcx.parse_warc(warcx.build_warc(recs))
    assert [r["location"] for r in back] == [
        "https://r/b", "https://r/ok", None, "https://r/404", None,
        "https://r/offsite", "https://r/c2", "https://r/c1"]

    (tmp_path / "r.warc").write_bytes(warcx.build_warc(recs))
    caps = _captures(spark, str(tmp_path) + "/*")
    assert caps.where("location IS NOT NULL").count() == 6
    got = {r["start_url"]: (r["final_url"], r["n_hops"],
                            r["final_status"], r["resolved"])
           for r in webtext.redirect_chains(caps, max_hops=4).collect()}
    assert got["https://r/a"] == ("https://r/ok", 2, 200, True)
    assert got["https://r/gone"] == ("https://r/404", 1, 404, True)
    assert got["https://r/dang"] == ("https://r/offsite", 1, None, False)
    # c1/c2 form a 2-cycle with no head feeding it: neither is a
    # chain head (each is pointed at), so the walk never starts there
    assert set(got) == {"https://r/a", "https://r/gone",
                        "https://r/dang"}


def test_dechunk_vectors():
    from historicaldatadocumentparsersystem_spark.extractor.warcx import \
        _dechunk
    # RFC 9112 example shape: sizes in hex, extension ignored,
    # trailer section after the 0-chunk ignored
    assert _dechunk(b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n") == \
        b"Wikipedia"
    assert _dechunk(b"4;ext=1\r\nWiki\r\n0\r\n"
                    b"X-Trailer: v\r\n\r\n") == b"Wiki"
    assert _dechunk(b"A\r\n0123456789\r\n0\r\n\r\n") == b"0123456789"
    assert _dechunk(b"0\r\n\r\n") == b""
    # chunk data may itself contain CRLF
    assert _dechunk(b"6\r\na\r\nb\r\n\r\n0\r\n\r\n") == b"a\r\nb\r\n"
    # malformations -> None (caller keeps raw bytes)
    assert _dechunk(b"") is None
    assert _dechunk(b"zz\r\nWiki\r\n0\r\n\r\n") is None      # bad hex
    assert _dechunk(b"5\r\nWiki\r\n0\r\n\r\n") is None       # short data
    assert _dechunk(b"4\r\nWikipedia\r\n0\r\n\r\n") is None  # no CRLF
    assert _dechunk(b"4\r\nWiki\r\n5\r\npedia") is None      # truncated


def test_decode_http_payload_vectors():
    import zlib

    from historicaldatadocumentparsersystem_spark.extractor.warcx import \
        decode_http_payload as dec
    body = b"<html>entity bytes</html>"
    gz = zlib.compressobj(wbits=31)
    gzipped = gz.compress(body) + gz.flush()
    assert dec(None, None, body) == (body, True)
    assert dec("identity", "identity", body) == (body, True)
    assert dec(None, "gzip", gzipped) == (body, True)
    assert dec(None, "x-gzip", gzipped) == (body, True)
    # deflate: zlib-wrapped (spec) and raw (broken servers) both work
    assert dec(None, "deflate", zlib.compress(body)) == (body, True)
    raw = zlib.compressobj(wbits=-15)
    assert dec(None, "deflate",
               raw.compress(body) + raw.flush()) == (body, True)
    # chained codings apply outermost-first
    g2 = zlib.compressobj(wbits=31)
    layered = g2.compress(zlib.compress(body)) + g2.flush()
    assert dec(None, "deflate, gzip", layered) == (body, True)
    # chunked framing then content coding
    chunked = (b"%x\r\n" % len(gzipped)) + gzipped + b"\r\n0\r\n\r\n"
    assert dec("chunked", "gzip", chunked) == (body, True)
    # unsupported / malformed -> original bytes, False
    assert dec(None, "br", body) == (body, False)
    assert dec(None, "zstd", body) == (body, False)
    assert dec(None, "gzip", b"not gzip") == (b"not gzip", False)
    assert dec(None, "gzip", gzipped[:-4]) == (gzipped[:-4], False)
    assert dec("chunked", None, b"zz\r\nbad") == (b"zz\r\nbad", False)
    assert dec("gzip, chunked", None, b"x") == (b"x", False)


def test_encoded_warc_roundtrip_and_captures(spark, tmp_path):
    """build_warc's encode half (CE + chunked TE) parses back to the
    entity bytes with decoded=True; the captures view sniffs the
    DECODED body and carries the coding metadata."""
    from datetime import datetime, timezone

    from historicaldatadocumentparsersystem_spark.extractor import warcx
    ts = datetime(2024, 7, 1, tzinfo=timezone.utc)
    html = b"<html><body>" + b"paragraph " * 20 + b"</body></html>"
    recs = [
        {"url": "https://e/plain", "warc_ts": ts, "body": html},
        {"url": "https://e/gz", "warc_ts": ts, "body": html,
         "content_encoding": "gzip"},
        {"url": "https://e/defl", "warc_ts": ts, "body": html,
         "content_encoding": "deflate"},
        {"url": "https://e/chunk", "warc_ts": ts, "body": html,
         "transfer_encoding": "chunked"},
        {"url": "https://e/both", "warc_ts": ts, "body": html,
         "transfer_encoding": "chunked", "content_encoding": "gzip"},
    ]
    shard = warcx.build_warc(recs)
    back = warcx.parse_warc(shard)
    assert [r["body"] for r in back] == [html] * 5
    assert all(r["decoded"] for r in back)
    assert [r["content_encoding"] for r in back] == [
        None, "gzip", "deflate", None, "gzip"]
    assert back[3]["transfer_encoding"] == "chunked"

    # a br capture is kept as stored and flagged undecoded
    br = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
          b"Content-Encoding: br\r\n\r\n\x0b\x02\x80brbytes")
    manual = (b"WARC/1.0\r\nWARC-Type: response\r\n"
              b"WARC-Target-URI: https://e/br\r\n"
              b"WARC-Date: 2024-07-01T00:00:00Z\r\n"
              b"Content-Length: " + str(len(br)).encode() +
              b"\r\n\r\n" + br + b"\r\n\r\n")
    (tmp_path / "e.warc").write_bytes(shard + manual)
    caps = {r["url"]: r for r in
            _captures(spark, str(tmp_path) + "/*").collect()}
    assert len(caps) == 6
    for u in ("https://e/gz", "https://e/chunk", "https://e/both"):
        assert caps[u]["sniffed_kind"] == "html"
        assert caps[u]["decoded"] is True
        assert caps[u]["n_bytes"] == len(html)
    assert caps["https://e/br"]["decoded"] is False
    assert caps["https://e/br"]["content_encoding"] == "br"


# --- ARC v1 (the pre-2013 Common Crawl format) -------------------------------

def _arc_records(n=8):
    ts = datetime(2009, 5, 4, 12, 30, 1, tzinfo=timezone.utc)
    recs = []
    for i in range(n):
        recs.append({"url": f"http://old.example/p{i}", "warc_ts": ts,
                     "body": f"<html>doc {i} body</html>".encode(),
                     "ip": f"10.1.2.{i}"})
    recs.append({"url": "dns:old.example", "warc_ts": ts,
                 "body": b"10.1.2.3", "mime": "text/dns"})
    recs.append({"url": "https://old.example/nl", "warc_ts": ts,
                 "body": b"a\n\nb\nhttp://fake 1.1.1.1 "
                         b"20090101000000 text/html 3\n"})
    return recs


def test_arc_roundtrip_plain_and_gzip():
    recs = _arc_records()
    for gz in (False, True):
        out = warcx.parse_arc(warcx.build_arc(recs, gzip_records=gz))
        assert [(o["url"], o["body"], o["warc_ts"], o["ip"])
                for o in out] \
            == [(r["url"], r["body"], r["warc_ts"],
                 r.get("ip", "0.0.0.0")) for r in recs], gz
        # http records carry HTTP envelope fields; dns does not
        assert out[0]["status"] == 200
        assert out[len(recs) - 2]["status"] is None


def test_arc_filedesc_skip_and_malformed_stop():
    blob = warcx.build_arc(_arc_records(3))
    assert all(not r["url"].startswith("filedesc")
               for r in warcx.parse_arc(blob))
    # malformed header line (wrong field count) stops the walk
    broken = blob + b"only three fields\nxxx"
    assert len(warcx.parse_arc(broken)) == len(warcx.parse_arc(blob))
    # truncated payload drops the trailing record only
    for cut in range(1, 40):
        assert len(warcx.parse_arc(blob[:-cut])) \
            <= len(warcx.parse_arc(blob))


@given(st.binary(max_size=600))
@settings(max_examples=120, deadline=None)
def test_arc_parse_arbitrary_bytes_never_raises(data):
    for rec in warcx.parse_arc(data):
        assert isinstance(rec["body"], bytes)


def test_spark_arc_source_matches_direct(spark, tmp_path):
    recs = _arc_records()
    p = tmp_path / "shard-0.arc.gz"
    p.write_bytes(warcx.build_arc(recs, gzip_records=True))
    got = {r["url"]: (r["warc_ts"], bytes(r["html"]))
           for r in arc_documents_from_blobs(_shards(spark, str(p))).collect()}
    want = {r["url"]: (r["warc_ts"].replace(tzinfo=None), r["body"])
            for r in recs if r["url"].startswith("http")}
    assert {u: (ts, b) for u, (ts, b) in got.items()} \
        == {u: (ts, b) for u, (ts, b) in want.items()}


def test_link_header_parse_vectors():
    from historicaldatadocumentparsersystem_spark.extractor.warcx \
        import parse_link_header as plh
    assert plh('<https://e/p2>; rel="next", <https://e/p0>; '
               'rel="prev"') == [("https://e/p2", "next"),
                                 ("https://e/p0", "prev")]
    # quoted commas never split; multi-rel fans out; rel lowercases
    assert plh('<https://e/c>; title="a, b"; Rel="NEXT Preload"') \
        == [("https://e/c", "next"), ("https://e/c", "preload")]
    # boundary guard, empty-quoted fallthrough, no-rel drop
    assert plh("<u>; barrel=next, <v>; rel=prev") == [("v", "prev")]
    assert plh('<https://e/e>; rel=""; rel=fallback') \
        == [("https://e/e", "fallback")]
    assert plh('<https://e/x>; hreflang="de"') == []
    for bad in (None, "", 'rel="next"', "<>; rel=next"):
        assert plh(bad) == []


def test_link_header_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.queries import (
        crawl as entrymod)
    from historicaldatadocumentparsersystem_spark.extractor.warcx \
        import parse_link_header
    from historicaldatadocumentparsersystem_spark.operators import \
        webtext
    rows = list(entrymod._LINK_ROWS)
    df = spark.createDataFrame(rows, "url string, link_header string")
    got = sorted((r.url, r.href, r.rel)
                 for r in webtext.link_header_relations(df).collect())
    want = sorted((u, h, rel)
                  for u, v in rows
                  for h, rel in parse_link_header(v))
    assert got == want and len(got) == 12
