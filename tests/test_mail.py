"""mbox/MIME mail source: extractor/mailx.py (pure oracle,
golden-pinned), RFC 2047 / MIME / mboxrd semantics, the core-dispatch
branch, and the Spark reader."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import core, mailx

GOLDEN = "fixtures/golden_mbox_seed42_n24.parquet"
_COLS = ("url", "msg_idx", "message_id", "from_addr", "to_addrs",
         "subject", "date_ts", "in_reply_to", "text", "n_parts",
         "has_html", "n_attachments")


def _pure_rows() -> list[tuple]:
    out = []
    for r in fixtures.mbox_file_rows(24):
        for m in mailx.parse_mbox(r["payload"]):
            out.append((r["url"], m.idx, m.message_id, m.from_addr,
                        m.to_addrs, m.subject,
                        m.date_ts.replace(tzinfo=None)
                        if m.date_ts else None,
                        m.in_reply_to, m.text, len(m.parts),
                        m.has_html, m.n_attachments))
    return out


def test_messages_match_committed_golden():
    golden = [tuple(r[k] for k in _COLS)
              for r in pq.read_table(GOLDEN).to_pylist()]
    assert golden == _pure_rows()
    assert len(golden) == 30


def test_encoded_words():
    d = mailx.decode_encoded_words
    assert d("=?utf-8?B?Q2Fmw6k=?=") == "Café"
    assert d("=?utf-8?Q?caf=C3=A9_x?=") == "café x"
    # whitespace between adjacent encoded words is dropped
    assert d("=?utf-8?B?YQ==?=   =?utf-8?Q?b?=") == "ab"
    # but survives between an encoded word and plain text
    assert d("=?utf-8?Q?a?= plain") == "a plain"
    assert d("no words here") == "no words here"
    # unknown charset degrades through the utf-8/cp1252 fallback
    assert d("=?x-nope?Q?ok?=") == "ok"


def test_qp_and_b64_tolerance():
    assert mailx._qp_decode(b"a=3Db") == b"a=b"
    assert mailx._qp_decode(b"soft=\r\nbreak=\nx") == b"softbreakx"
    assert mailx._qp_decode(b"bad=ZZkept") == b"bad=ZZkept"
    assert mailx._qp_decode(b"u_v", header_mode=True) == b"u v"
    assert mailx._b64_decode(b"aGk=") == b"hi"
    assert mailx._b64_decode(b"aGk") == b"hi"          # missing pad
    assert mailx._b64_decode(b"aG\nk=") == b"hi"       # embedded ws
    assert mailx._b64_decode(b"!!!") == b""


def test_mboxrd_round_trip():
    body = "From the top.\n>From quoted.\n>>From deeper.\nplain"
    raw = mailx.make_message(
        [("From", "a@b.org"), ("Subject", "s"),
         ("Message-ID", "<x@y>")],
        [{"content_type": "text/plain", "charset": "utf-8",
          "text": body}])
    msgs = mailx.parse_mbox(mailx.make_mbox([raw, raw]))
    assert len(msgs) == 2
    for m in msgs:
        assert m.text.startswith(body.split("\n")[0])
        assert ">From quoted." in m.text
        assert ">>From deeper." in m.text
        assert "\n>From the top" not in m.text


def test_mime_tree_and_fallbacks():
    rows = fixtures.mbox_file_rows(24)
    # html-only message extracts through the DOM pipeline
    m = mailx.parse_mbox(rows[3]["payload"])[0]
    assert m.has_html and m.n_attachments == 1
    assert m.text.startswith("Report 3")
    assert m.subject == "report 3"          # duplicate header: first wins
    # folded To header unfolds into both addresses
    assert m.to_addrs.count("@") == 2
    # alternative: plain part wins, html noted
    m = mailx.parse_mbox(rows[2]["payload"])[0]
    assert m.has_html and m.text.startswith("Sounds good —")
    assert m.subject == "café q-word"
    # nested multipart: three leaf parts
    m = mailx.parse_mbox(rows[6]["payload"])[0]
    assert len(m.parts) == 3
    assert m.text.startswith("nested ")
    assert "trailing plain part" in m.text
    # declared-but-unknown charset falls back to strict utf-8
    m = mailx.parse_mbox(rows[4]["payload"])[1]
    assert m.parts[0].charset == "x-weird-charset"
    assert m.date_ts is None
    # latin-1 declared charset decodes the accents
    m = mailx.parse_mbox(rows[4]["payload"])[0]
    assert m.text.startswith("déjà vu")


def test_junk_and_bare_messages():
    assert mailx.parse_mbox(None) == []
    assert mailx.parse_mbox(b"") == []
    # junk parses as a single bare "message" with no headers -> one
    # empty message; the CORE gate (is_mbox) is what rejects junk
    junk = mailx.parse_mbox(b"\x00\x01 junk")
    assert len(junk) == 1 and junk[0].subject == "" \
        and junk[0].message_id == ""
    assert not mailx.is_mbox(b"\x00\x01 junk")
    assert not mailx.is_mbox(b"From here on out")
    assert mailx.is_mbox(b"From a@b Mon\nSubject: x\n\nbody")
    bare = fixtures.mbox_file_rows(24)[5]
    msgs = mailx.parse_mbox(bare["payload"])
    assert len(msgs) == 1 and msgs[0].subject == "bare 5"


def test_core_dispatch():
    row = fixtures.mbox_file_rows(24)[0]
    res = core.extract_document(row["payload"], None)
    assert res.doc_kind == "mbox"
    assert res.n_blocks == len(res.spans) >= 2
    for a, b, kind in res.spans:
        assert kind == "message"
        assert res.extracted_text[a:b]
    # junk that fails the probe stays a fallback row
    res = core.extract_document(b"From here on out", "fb")
    assert (res.doc_kind, res.extracted_text) == ("empty", "fb")


def test_spark_reader_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.mbox_file_rows(24)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(4)
    got = sorted(tuple(r)
                 for r in sources.read_mbox_messages(df).collect())
    assert got == sorted(_pure_rows())


def test_strip_quoted_reply_semantics(spark):
    from historicaldatadocumentparsersystem_spark.operators import (
        webtext)
    df = spark.createDataFrame(
        [("u", 0, "keep one\n> quoted\nOn Mon, X <x@y> wrote:\n"
                  "keep two\n-- \nsig line\n> post-sig quoted"),
         ("u", 1, "no noise at all"),
         ("u", 2, ""),
         ("u", 3, "--\nonly a signature")],
        "url string, msg_idx int, text string")
    rows = {r.msg_idx: r for r in
            webtext.strip_quoted_reply(df).collect()}
    assert rows[0].clean_text == "keep one\nkeep two"
    assert (rows[0].n_lines, rows[0].n_quoted, rows[0].kept_lines,
            rows[0].has_signature) == (7, 2, 2, True)
    assert rows[1].clean_text == "no noise at all"
    assert not rows[1].has_signature
    assert rows[2].clean_text == "" and rows[2].n_lines == 1
    assert rows[3].clean_text == "" and rows[3].has_signature
    plan = (webtext.strip_quoted_reply(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_fuzz_never_raises():
    """Random bytes and byte-mutated mboxes never raise, in the
    reader or through core dispatch; spans stay inside the text."""
    rng = random.Random(82)
    msg = mailx.make_message(
        [("From", "a@example.org"), ("Subject", "=?utf-8?q?hi_there?=")],
        [{"content_type": "text/plain", "cte": "quoted-printable",
          "text": "body line =E2=9C=93"},
         {"content_type": "text/html", "text": "<p>html part</p>"}])
    base = mailx.make_mbox([msg, msg])
    for _ in range(300):
        if rng.random() < 0.3:
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randrange(0, 120)))
        else:
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                i = rng.randrange(len(b))
                b[i:i + rng.randrange(0, 4)] = bytes(
                    [rng.randrange(256)])
            payload = bytes(b)
        assert isinstance(mailx.parse_mbox(payload), list)
        text, spans = mailx.extract_mbox_text(payload)
        assert all(0 <= s <= e <= len(text) for s, e, _k in spans)
        res = core.extract_document(payload, "fb")
        assert all(0 <= s <= e <= len(res.extracted_text)
                   for s, e, _k in res.spans)
