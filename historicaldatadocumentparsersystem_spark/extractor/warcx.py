"""WARC (Web ARChive) container parsing — Spark-free, stdlib-only.

Common Crawl ships its corpus as WARC files: concatenated records,
each `WARC/1.0\\r\\n` + header lines + `\\r\\n\\r\\n` + Content-Length
payload bytes + `\\r\\n\\r\\n`; response-record payloads are full HTTP
responses (status line + headers + body). Production archives gzip
each record as an independent member, so a whole-file gunzip that
iterates members recovers the same byte stream.

This parser feeds ``sources.warc_captures_from_blobs`` and
``sources.arc_documents_from_blobs`` (one Arrow batch over these
functions per shard column), turning raw shards into capture rows and
the engine's documents schema (url, warc_ts, html, ...) with no
external dependency. Like the rest of ``extractor/``, it is the correctness
oracle: malformed containers degrade to fewer records, never raise
(the F5 contract).

Reference analog: the reference loads web pages one URL at a time
(its web loader fetches and parses a live page); WARC is how the
same pages arrive at 10^12 scale, where fetching is a separate
system and extraction consumes archived captures.
"""
from __future__ import annotations

import zlib
from datetime import datetime, timezone

_GZIP_MAGIC = b"\x1f\x8b"
_CRLF2 = b"\r\n\r\n"


def _gunzip_members(data: bytes) -> bytes:
    """Concatenate all gzip members (per-record compression)."""
    out = []
    rest = data
    while rest[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(rest))
        except zlib.error:
            break
        rest = d.unused_data
        if not rest:
            break
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:       # [0] is the version line
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().decode("latin-1").lower()] = \
                v.strip().decode("latin-1")
    return headers


def _http_body(payload: bytes) -> tuple[int | None,
                                         dict[str, str], bytes]:
    """(status, headers, body) from an HTTP response payload;
    non-HTTP payloads come back unsplit with status None and empty
    headers. Header values are raw (parameters included —
    normalization is the downstream gate's job)."""
    if not payload.startswith(b"HTTP/"):
        return None, {}, payload
    head, sep, body = payload.partition(_CRLF2)
    if not sep:
        return None, {}, payload
    try:
        status = int(head.split(b"\r\n", 1)[0].split()[1])
    except (IndexError, ValueError):
        status = None
    return status, _parse_headers(head), body


def _dechunk(body: bytes) -> bytes | None:
    """Decode a ``Transfer-Encoding: chunked`` body (RFC 9112 §7.1):
    hex chunk-size line (extensions after ';' ignored), CRLF, chunk
    bytes, CRLF, repeated; a 0-size chunk ends the body (the optional
    trailer section is ignored). Returns None on any malformation —
    the caller keeps the raw bytes (F5: degrade, never raise)."""
    out = []
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            return None
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        if not size_tok:
            return None
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        if size < 0:
            return None
        if size == 0:
            return b"".join(out)
        start = eol + 2
        end = start + size
        if end + 2 > n or body[end:end + 2] != b"\r\n":
            return None
        out.append(body[start:end])
        pos = end + 2


def _inflate(body: bytes, wbits: int) -> bytes | None:
    d = zlib.decompressobj(wbits=wbits)
    try:
        out = d.decompress(body)
    except zlib.error:
        return None
    return out if d.eof else None


def decode_http_payload(transfer_encoding: str | None,
                        content_encoding: str | None,
                        body: bytes) -> tuple[bytes, bool]:
    """Apply Transfer-Encoding (chunked) then Content-Encoding
    (gzip/x-gzip/deflate/identity) to an HTTP body — archived WARC
    captures store the exact wire bytes, so both layers routinely
    survive into the payload and extraction needs the real entity
    bytes underneath.

    Returns (body, fully_decoded). Any unsupported coding (br, zstd,
    compress) or malformed data stops decoding at that stage with the
    bytes-so-far kept and fully_decoded False (F5: fewer/degraded
    rows, never raise). ``deflate`` accepts both the spec's
    zlib-wrapped form and the raw-deflate form broken servers ship.
    """
    if transfer_encoding:
        tok = transfer_encoding.split(",")[-1].strip().lower()
        if tok == "chunked":
            d = _dechunk(body)
            if d is None:
                return body, False
            body = d
        elif tok not in ("", "identity"):
            return body, False
    if content_encoding:
        codings = [t.strip().lower()
                   for t in content_encoding.split(",")]
        for tok in reversed(codings):       # applied outermost-first
            if tok in ("", "identity"):
                continue
            if tok in ("gzip", "x-gzip"):
                d = _inflate(body, wbits=31)
            elif tok == "deflate":
                d = _inflate(body, wbits=15)
                if d is None:
                    d = _inflate(body, wbits=-15)
            else:                           # br / zstd / compress
                return body, False
            if d is None:
                return body, False
            body = d
    return body, True


def _iter_records(data: bytes):
    """Yield (headers, payload) for every well-formed record of a
    (possibly per-record-gzipped) WARC-family shard, stopping at the
    first truncated/corrupt record (never raise)."""
    if data[:2] == _GZIP_MAGIC:
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = data.find(_CRLF2, start)
        if head_end < 0:
            break
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = head_end + len(_CRLF2)
        if body_start + length > n:
            break                                   # truncated record
        payload = data[body_start:body_start + length]
        pos = body_start + length
        yield headers, payload


def _warc_ts(headers: dict[str, str]) -> datetime | None:
    try:
        return datetime.strptime(
            headers.get("warc-date", ""),
            "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    except ValueError:
        return None


def parse_warc(data: bytes) -> list[dict]:
    """All response records of one WARC shard, in order:
    {url, warc_ts (datetime, UTC), status, content_type, x_robots,
    location, transfer_encoding, content_encoding, decoded,
    body (bytes)}.

    ``body`` is the ENTITY bytes: chunked transfer framing and
    gzip/deflate content codings are undone (archived captures store
    exact wire bytes, so both layers survive into WARC payloads);
    ``decoded`` is False when a coding was unsupported or malformed,
    in which case ``body`` keeps the bytes as stored and downstream
    sniffing classifies them honestly. Truncated/corrupt trailing
    records are dropped (never raise); non-response records
    (warcinfo, request, metadata) are skipped.
    """
    records: list[dict] = []
    for headers, payload in _iter_records(data):
        if headers.get("warc-type") != "response":
            continue
        status, http, body = _http_body(payload)
        te = http.get("transfer-encoding")
        ce = http.get("content-encoding")
        body, decoded = decode_http_payload(te, ce, body)
        records.append({
            "url": headers.get("warc-target-uri", ""),
            "warc_ts": _warc_ts(headers),
            "status": status,
            "content_type": http.get("content-type"),
            "x_robots": http.get("x-robots-tag"),
            "location": http.get("location"),
            "transfer_encoding": te,
            "content_encoding": ce,
            "decoded": decoded,
            "body": body,
        })
    return records


def build_warc(records: list[dict], gzip_records: bool = False) -> bytes:
    """Serialize records (same dict shape parse_warc returns) into a
    valid WARC shard — the test fixture generator and the exactness
    witness: build_warc -> parse_warc round-trips byte-identically.
    """
    out = []
    for r in records:
        status = r.get("status", 200) or 200
        body = r["body"]
        ctype = r.get("content_type") or "text/html"
        xrobots = r.get("x_robots")
        extra = (b"\r\nX-Robots-Tag: " + xrobots.encode("latin-1")
                 if xrobots else b"")
        if r.get("location"):
            extra += (b"\r\nLocation: "
                      + r["location"].encode("latin-1"))
        # encode half of decode_http_payload: CE first, TE framing
        # outermost — build(x) must parse back to x's entity bytes
        ce = r.get("content_encoding")
        if ce in ("gzip", "x-gzip"):
            c = zlib.compressobj(wbits=31)      # mtime-free, exact
            body = c.compress(body) + c.flush()
            extra += b"\r\nContent-Encoding: " + ce.encode()
        elif ce == "deflate":
            body = zlib.compress(body)
            extra += b"\r\nContent-Encoding: deflate"
        elif ce:
            raise ValueError(f"unsupported content_encoding {ce!r}")
        if r.get("transfer_encoding") == "chunked":
            body = b"".join(
                b"%x\r\n%s\r\n" % (len(body[i:i + 48]), body[i:i + 48])
                for i in range(0, len(body), 48)) + b"0\r\n\r\n"
            extra += b"\r\nTransfer-Encoding: chunked"
        payload = (b"HTTP/1.1 " + str(status).encode() +
                   b" OK\r\nContent-Type: " + ctype.encode("latin-1") +
                   extra + b"\r\n\r\n" + body)
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (b"WARC/1.0\r\n"
                b"WARC-Type: response\r\n"
                b"WARC-Target-URI: " + r["url"].encode() + b"\r\n"
                b"WARC-Date: " + ts.encode() + b"\r\n"
                b"Content-Length: " + str(len(payload)).encode() +
                b"\r\n\r\n")
        rec = head + payload + b"\r\n\r\n"
        if gzip_records:
            c = zlib.compressobj(wbits=31)
            rec = c.compress(rec) + c.flush()
        out.append(rec)
    return b"".join(out)


def parse_arc(data: bytes) -> list[dict]:
    """All document records of an ARC v1 shard (the Internet Archive
    format every pre-2013 Common Crawl snapshot ships in), in order:
    {url, warc_ts (datetime, UTC), ip, mime, status, content_type,
    body (bytes), decoded}.

    ARC v1 records are a single space-separated header line —
    ``<url> <ip> <YYYYMMDDhhmmss> <content-type> <length>`` —
    followed by ``length`` payload bytes and a blank separator line;
    the leading ``filedesc://`` version record is consumed and
    skipped. Whole-shard or per-record gzip is undone (same member
    walk as WARC). http(s) payloads carry the full HTTP response, so
    the same entity decoding as parse_warc applies (chunked framing +
    gzip/deflate codings; ``decoded`` False keeps stored bytes);
    other schemes (dns:, filedesc:) keep the raw payload. Header
    lines that don't parse (wrong field count, non-integer length,
    bad date) or truncated payloads stop the walk (never raise).
    """
    if data[:2] == _GZIP_MAGIC:
        data = _gunzip_members(data)
    records: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        # skip blank separator lines between records
        while pos < n and data[pos:pos + 1] in (b"\n", b"\r"):
            pos += 1
        if pos >= n:
            break
        eol = data.find(b"\n", pos)
        if eol < 0:
            break
        try:
            line = data[pos:eol].decode("utf-8", "replace").rstrip("\r")
            fields = line.split(" ")
            if len(fields) != 5:
                break
            url, ip, date14, mime, length_s = fields
            length = int(length_s)
            ts = datetime.strptime(date14, "%Y%m%d%H%M%S") \
                .replace(tzinfo=timezone.utc)
        except ValueError:
            break
        body_start = eol + 1
        if length < 0 or body_start + length > n:
            break                               # truncated record
        payload = data[body_start:body_start + length]
        pos = body_start + length
        if url.startswith("filedesc://"):
            continue                            # version block
        status = content_type = None
        decoded = True
        body = payload
        if url.startswith(("http://", "https://")):
            status, http, body = _http_body(payload)
            body, decoded = decode_http_payload(
                http.get("transfer-encoding"),
                http.get("content-encoding"), body)
            content_type = http.get("content-type")
        records.append({
            "url": url, "warc_ts": ts, "ip": ip, "mime": mime,
            "status": status, "content_type": content_type,
            "body": body, "decoded": decoded,
        })
    return records


def build_arc(records: list[dict], gzip_records: bool = False,
              shard_name: str = "fixture.arc") -> bytes:
    """Serialize {url, warc_ts, body, ip?, content_type?, status?}
    records into a valid ARC v1 shard (version block included) — the
    fixture generator + exactness witness: build_arc -> parse_arc
    round-trips body bytes identically."""
    vblock = (b"1 0 InternetArchive\n"
              b"URL IP-address Archive-date Content-type "
              b"Archive-length\n")
    head = ("filedesc://%s 0.0.0.0 20000101000000 text/plain %d\n"
            % (shard_name, len(vblock))).encode()
    first = head + vblock + b"\n"
    if gzip_records:
        c = zlib.compressobj(wbits=31)
        first = c.compress(first) + c.flush()
    out = [first]
    for r in records:
        body = r["body"]
        if r["url"].startswith(("http://", "https://")):
            ctype = r.get("content_type") or "text/html"
            status = r.get("status", 200) or 200
            body = (b"HTTP/1.1 " + str(status).encode() +
                    b" OK\r\nContent-Type: " +
                    ctype.encode("latin-1") + b"\r\n\r\n" + body)
        mime = r.get("mime") or r.get("content_type") or "text/html"
        line = "%s %s %s %s %d\n" % (
            r["url"], r.get("ip", "0.0.0.0"),
            r["warc_ts"].strftime("%Y%m%d%H%M%S"), mime, len(body))
        rec = line.encode() + body + b"\n"
        if gzip_records:
            c = zlib.compressobj(wbits=31)
            rec = c.compress(rec) + c.flush()
        out.append(rec)
    return b"".join(out)


# --- HTTP Link header (RFC 8288) --------------------------------------------
# The protocol-layer discovery channel: rel=next/prev pagination,
# rel=canonical, rel=alternate (feeds, hreflang mirrors) arrive in
# HTTP headers for payloads that cannot carry <link> elements (PDFs,
# images, APIs). Deterministic subset, shared by all three engines
# (constants are GENERATED into the Spark plan and DuckDB SQL):
# - entities are `<URI>` followed by everything up to the next `<`
#   (commas inside quoted params never split an entity because the
#   scan only restarts at an angle bracket);
# - rel: the first `rel="a b"` (quoted, space-separated multi-rel)
#   wins, else the first unquoted `rel=token`; param names are
#   case-insensitive, matched behind a `^|[;, ]` boundary so
#   `barrel=` never reads as `rel=`; rel VALUES lowercase (they are
#   case-insensitive per RFC 8288 §2.1.1); hrefs stay verbatim;
# - one row per (href, rel-token); entities without a rel are
#   dropped (a link with no relation type is unusable — F5).

LINK_ENTITY_RE = r"<[^>]*>[^<]*"
LINK_REL_Q_RE = r'(^|[;, ])[rR][eE][lL]="([^"]*)"'
LINK_REL_U_RE = r"(^|[;, ])[rR][eE][lL]=([A-Za-z0-9_.-]+)"
LINK_TOKEN_SPLIT_RE = r"[ \t]+"


def parse_link_header(value) -> list[tuple[str, str]]:
    """Link header value -> [(href, rel_token)] in header order,
    quoted-rel preferred over unquoted (the shared tri-engine rule).
    None/empty/malformed values yield no rows, never raise."""
    import re as _re
    out: list[tuple[str, str]] = []
    for ent in _re.findall(LINK_ENTITY_RE, value or ""):
        href = ent[1:ent.index(">")]
        if not href:
            continue
        m = _re.search(LINK_REL_Q_RE, ent)
        rel = m.group(2) if m else ""
        if not rel:      # empty-quoted falls through, like the twins
            m = _re.search(LINK_REL_U_RE, ent)
            rel = m.group(2) if m else ""
        if not rel:
            continue
        for tok in _re.split(LINK_TOKEN_SPLIT_RE, rel):
            if tok:
                out.append((href, tok.lower()))
    return out
