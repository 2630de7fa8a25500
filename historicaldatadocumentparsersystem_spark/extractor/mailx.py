"""mbox / RFC 5322 / MIME email reader — pure Python, from scratch.

Mailing-list archives (pipermail, marc, lore) are a classic web-corpus
source; a crawl-scale pipeline meets them as mbox payloads.  This is
the message-container member of the per-format loader family, built
from scratch like warcx (headers, MIME tree, transfer encodings) —
only ``email.utils.parsedate_to_datetime`` is borrowed, the same
stdlib date helper feedx already uses for RSS.

Format shape:

- mbox: messages separated by envelope lines ``From `` at
  line-start; mboxrd body escaping (``>+From `` loses one ``>``) is
  undone when splitting.
- RFC 5322 headers: CRLF or LF, continuation lines unfold onto the
  previous header; duplicate headers keep first-occurrence semantics
  (the metax claimed-field convention).
- RFC 2047 encoded-words in Subject/From/To: ``=?cs?B?..?=`` base64
  and ``=?cs?Q?..?=`` quoted-printable-with-underscore-space;
  whitespace BETWEEN two encoded words is dropped per the RFC.
- MIME: ``multipart/*`` split on the Content-Type boundary
  (terminator ``--boundary--``), arbitrarily nested;
  Content-Transfer-Encoding base64 / quoted-printable decoded by
  hand-rolled tolerant decoders; text charsets via the declared
  charset (charsetx alias table), falling back strict-utf-8 then
  cp1252.
- body text: all non-attachment ``text/plain`` parts joined with
  "\\n"; a plain-less HTML-only message falls back to the SAME
  htmlx DOM pipeline every other format uses.

``make_mbox`` is the encode half for fixtures (mboxrd escaping,
base64/qp encoding) and must itself decode (the exifx rule).
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass, field
from datetime import datetime

from .charsetx import _ALIASES
from .feedx import _rfc822_ts


@dataclass
class MailPart:
    idx: int               # 0-based leaf index in MIME tree order
    content_type: str      # lowercased, e.g. text/plain
    charset: str           # declared charset ('' if none)
    filename: str          # attachment filename ('' if none)
    is_attachment: bool
    text: str              # decoded text for text/* bodies, '' else
    size: int              # decoded payload size in bytes


@dataclass
class MailMessage:
    idx: int               # 0-based message index within the mbox
    message_id: str        # <...> brackets stripped; '' if absent
    from_addr: str         # addr-spec of From ('' if none)
    to_addrs: str          # comma-joined To addr-specs
    subject: str           # encoded-words decoded
    date_ts: datetime | None
    in_reply_to: str       # addr-spec-style id, '' if absent
    text: str              # preferred body (see module docstring)
    parts: list[MailPart] = field(default_factory=list)
    has_html: bool = False
    n_attachments: int = 0


# --- low-level decoders -------------------------------------------------------

def _qp_decode(data: bytes, header_mode: bool = False) -> bytes:
    """Tolerant quoted-printable: ``=XY`` hex escapes, soft line
    breaks ``=\\r?\\n``; bad escapes pass through literally.  In
    header (Q-encoded-word) mode ``_`` means space."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b == 0x3D and i + 1 < n:                       # '='
            nxt = data[i + 1:i + 3]
            if data[i + 1] == 0x0A:
                i += 2
                continue
            if data[i + 1] == 0x0D:
                i += 3 if i + 2 < n and data[i + 2] == 0x0A else 2
                continue
            if len(nxt) == 2:
                try:
                    out.append(int(nxt.decode("ascii"), 16))
                    i += 3
                    continue
                except (ValueError, UnicodeDecodeError):
                    pass
        if header_mode and b == 0x5F:                     # '_'
            out.append(0x20)
        else:
            out.append(b)
        i += 1
    return bytes(out)


_B64_JUNK = re.compile(rb"[^A-Za-z0-9+/=]")


def _b64_decode(data: bytes) -> bytes:
    """Tolerant base64: strip non-alphabet bytes, fix padding, drop a
    trailing partial quantum rather than raising."""
    import binascii
    clean = _B64_JUNK.sub(b"", data).rstrip(b"=")
    clean = clean[:len(clean) - len(clean) % 4] \
        if len(clean) % 4 == 1 else clean
    pad = (-len(clean)) % 4
    try:
        return binascii.a2b_base64(clean + b"=" * pad)
    except (binascii.Error, ValueError):
        return b""


def _decode_charset(data: bytes, charset: str) -> str:
    """Declared charset (alias-normalized) first; then strict utf-8,
    falling back total cp1252."""
    cs = _ALIASES.get(charset.lower(), charset.lower()) if charset else ""
    if cs:
        try:
            return data.decode(codecs.lookup(cs).name, errors="replace")
        except LookupError:
            pass
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return data.decode("cp1252", errors="replace")


_ENC_WORD = re.compile(
    r"=\?([^?]+)\?([BbQq])\?([^? ]*)\?=")
_BETWEEN_WORDS = re.compile(
    r"(\?=)[ \t]+(=\?)")


def decode_encoded_words(s: str) -> str:
    """RFC 2047 header decoding; whitespace between adjacent encoded
    words is removed before substitution."""
    s = _BETWEEN_WORDS.sub(r"\1\2", s)

    def sub(m: re.Match) -> str:
        cs, enc, payload = m.group(1), m.group(2), m.group(3)
        raw = (_b64_decode(payload.encode("ascii", "replace"))
               if enc in "Bb" else
               _qp_decode(payload.encode("ascii", "replace"),
                          header_mode=True))
        return _decode_charset(raw, cs)

    return _ENC_WORD.sub(sub, s)


_ADDR = re.compile(r"<([^<>]+)>|([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+)")


def addr_specs(header_value: str) -> list[str]:
    """addr-specs from a From/To/Cc value: angle-bracket forms win per
    mailbox, bare addresses otherwise."""
    out = []
    for bracket, bare in _ADDR.findall(header_value):
        out.append((bracket or bare).strip())
    return out


# --- headers ------------------------------------------------------------------

def _split_headers(raw: bytes) -> tuple[list[tuple[str, str]], bytes]:
    """(unfolded header list, body bytes).  Headers end at the first
    blank line; a message with no blank line is all headers."""
    m = re.search(rb"\r?\n\r?\n", raw)
    if m:
        head, body = raw[:m.start()], raw[m.end():]
    else:
        head, body = raw, b""
    headers: list[tuple[str, str]] = []
    name, value = None, ""
    for line in head.split(b"\n"):
        line = line.rstrip(b"\r")
        text = line.decode("utf-8", errors="replace")
        if line[:1] in (b" ", b"\t") and name is not None:
            value += " " + text.strip()
            continue
        if name is not None:
            headers.append((name, value))
        if b":" in line:
            nm, _, val = text.partition(":")
            name, value = nm.strip().lower(), val.strip()
        else:
            name, value = None, ""
    if name is not None:
        headers.append((name, value))
    return headers, body


def _get(headers: list[tuple[str, str]], name: str) -> str:
    for n, v in headers:
        if n == name:
            return v
    return ""


def _parse_content_type(value: str) -> tuple[str, dict[str, str]]:
    """('type/subtype', params) with lowercased keys and unquoted
    values; defaults to text/plain like RFC 2045 §5.2."""
    if not value:
        return "text/plain", {}
    bits = value.split(";")
    ctype = bits[0].strip().lower() or "text/plain"
    params: dict[str, str] = {}
    for bit in bits[1:]:
        k, eq, v = bit.partition("=")
        if not eq:
            continue
        v = v.strip()
        if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
            v = v[1:-1]
        params.setdefault(k.strip().lower(), v)
    return ctype, params


# --- MIME tree ----------------------------------------------------------------

def _split_multipart(body: bytes, boundary: str) -> list[bytes]:
    """Sub-entity byte blocks between boundary delimiter lines;
    preamble and epilogue are dropped (RFC 2046 §5.1.1)."""
    delim = b"--" + boundary.encode("utf-8", errors="replace")
    parts: list[bytes] = []
    cur: list[bytes] | None = None
    for line in body.split(b"\n"):
        stripped = line.rstrip(b"\r")
        if stripped == delim or stripped == delim + b"--":
            if cur is not None:
                blob = b"\n".join(cur)
                parts.append(blob[:-1] if blob.endswith(b"\r") else blob)
            cur = None if stripped.endswith(b"--") else []
            continue
        if cur is not None:
            cur.append(line)
    return parts


def _walk_entity(headers: list[tuple[str, str]], body: bytes,
                 parts: list[MailPart], depth: int = 0) -> None:
    if depth > 8:                              # MIME bombs stop here
        return
    ctype, params = _parse_content_type(_get(headers, "content-type"))
    disp, dparams = _parse_content_type(
        _get(headers, "content-disposition") or "inline")
    if ctype.startswith("multipart/") and params.get("boundary"):
        for sub in _split_multipart(body, params["boundary"]):
            sh, sb = _split_headers(sub)
            _walk_entity(sh, sb, parts, depth + 1)
        return
    cte = _get(headers, "content-transfer-encoding").strip().lower()
    if cte == "base64":
        payload = _b64_decode(body)
    elif cte == "quoted-printable":
        payload = _qp_decode(body)
    else:                                      # 7bit / 8bit / binary
        payload = body
    filename = dparams.get("filename") or params.get("name") or ""
    is_attach = disp.startswith("attachment") or (
        bool(filename) and not ctype.startswith("text/"))
    text = ""
    if ctype.startswith("text/") and not is_attach:
        text = _decode_charset(payload, params.get("charset", ""))
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    parts.append(MailPart(len(parts), ctype,
                          params.get("charset", "").lower(), filename,
                          is_attach, text, len(payload)))


# --- messages + mbox ----------------------------------------------------------

def parse_message(raw: bytes, idx: int = 0) -> MailMessage:
    headers, body = _split_headers(raw)
    parts: list[MailPart] = []
    _walk_entity(headers, body, parts)
    plains = [p.text for p in parts
              if p.content_type == "text/plain" and not p.is_attachment
              and p.text.strip()]
    htmls = [p for p in parts
             if p.content_type == "text/html" and not p.is_attachment]
    if plains:
        text = "\n".join(t.strip("\n") for t in plains)
    elif htmls:
        from .htmlx import extract_html
        text = extract_html(htmls[0].text)[0]
    else:
        text = ""
    mid = _get(headers, "message-id").strip().strip("<>")
    irt = _get(headers, "in-reply-to").strip().strip("<>")
    froms = addr_specs(_get(headers, "from"))
    tos = addr_specs(_get(headers, "to"))
    return MailMessage(
        idx=idx, message_id=mid,
        from_addr=froms[0] if froms else "",
        to_addrs=",".join(tos),
        subject=decode_encoded_words(_get(headers, "subject")),
        date_ts=_rfc822_ts(_get(headers, "date") or None),
        in_reply_to=irt, text=text, parts=parts,
        has_html=bool(htmls),
        n_attachments=sum(1 for p in parts if p.is_attachment))


_MBOX_FROM = re.compile(rb"(?:^|\n)From ")
_MBOXRD = re.compile(rb"^(>+)From ", re.M)


def is_mbox(payload: bytes | None) -> bool:
    """Envelope line first, and at least one header-shaped line before
    the first blank line — cheap enough to probe every empty-kind
    payload (the is_ipynb rule)."""
    if not payload or not payload.startswith(b"From "):
        return False
    head = payload[:2048].split(b"\r\n\r\n")[0].split(b"\n\n")[0]
    return re.search(rb"\n[A-Za-z][A-Za-z0-9-]*:", head) is not None


def split_mbox(payload: bytes) -> list[bytes]:
    """Message byte blocks (envelope lines dropped, mboxrd body
    escaping undone).  A payload not starting with ``From `` is a
    single bare message."""
    if not payload:
        return []
    if not payload.startswith(b"From "):
        return [payload]
    msgs: list[bytes] = []
    starts = [m.end() for m in _MBOX_FROM.finditer(payload)]
    # each message runs from after its envelope line's newline to the
    # newline preceding the next envelope line
    for i, s in enumerate(starts):
        nl = payload.find(b"\n", s)
        if nl < 0:
            break
        end = (starts[i + 1] - len("From ") - 1
               if i + 1 < len(starts) else len(payload))
        block = payload[nl + 1:max(nl + 1, end)]
        msgs.append(_MBOXRD.sub(lambda m: m.group(0)[1:], block))
    return msgs


def parse_mbox(payload: bytes | None) -> list[MailMessage]:
    """All messages in an mbox (or one bare RFC 5322 message); []
    on junk — F5 semantics."""
    if not payload:
        return []
    try:
        return [parse_message(raw, i)
                for i, raw in enumerate(split_mbox(payload))]
    except Exception:
        return []


def extract_mbox_text(payload: bytes | None
                      ) -> tuple[str, list[tuple[int, int, str]]]:
    """Core-dispatch form: per-message "subject\\nbody" blocks joined
    with "\\n" (A1 convention), one span per non-empty message."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for msg in parse_mbox(payload):
        block = "\n".join(
            s for s in (msg.subject.strip(), msg.text.strip()) if s)
        if not block:
            continue
        if parts:
            pos += 1
        spans.append((pos, pos + len(block), "message"))
        parts.append(block)
        pos += len(block)
    return "\n".join(parts), spans


# --- encode half (fixtures) ---------------------------------------------------

def _qp_encode(text: str, charset: str) -> bytes:
    raw = text.encode(charset)
    out = bytearray()
    for b in raw:
        if b in (0x3D,) or b > 0x7E or b < 0x20 and b not in (0x0A,):
            out += f"={b:02X}".encode()
        else:
            out.append(b)
    return bytes(out)


def make_message(headers: list[tuple[str, str]],
                 parts: list[dict]) -> bytes:
    """One RFC 5322 message.  ``parts`` entries:
    ``{"content_type", "charset"?, "cte"?: ''|'base64'|
    'quoted-printable', "text"?: str, "data"?: bytes,
    "filename"?, "attachment"?: bool}``.  Multiple parts serialize as
    multipart/mixed (or /alternative when ``alternative=True`` rides
    the first part)."""
    import base64

    def one(p: dict) -> bytes:
        ct = p["content_type"]
        cs = p.get("charset", "utf-8")
        head = f"Content-Type: {ct}"
        if ct.startswith("text/"):
            # "declared" lets fixtures advertise a charset other than
            # the one the bytes were encoded with (fallback paths)
            head += f'; charset="{p.get("declared", cs)}"'
        if p.get("filename"):
            head += f'; name="{p["filename"]}"'
        lines = [head]
        raw = (p.get("data") if p.get("data") is not None
               else p.get("text", "").encode(cs))
        cte = p.get("cte", "")
        if cte == "base64":
            lines.append("Content-Transfer-Encoding: base64")
            body = base64.encodebytes(raw)
        elif cte == "quoted-printable":
            lines.append("Content-Transfer-Encoding: quoted-printable")
            body = _qp_encode(p.get("text", ""), cs) + b"\n"
        else:
            body = raw + b"\n"
        if p.get("attachment"):
            lines.append('Content-Disposition: attachment; '
                         f'filename="{p.get("filename", "file.bin")}"')
        return "\n".join(lines).encode("ascii") + b"\n\n" + body

    hdr = "\n".join(f"{k}: {v}" for k, v in headers)
    if len(parts) == 1 and not parts[0].get("force_multipart"):
        blob = one(parts[0])
        return hdr.encode("utf-8") + b"\n" + blob
    sub = "alternative" if parts and parts[0].get("alternative") \
        else "mixed"
    boundary = "fixture-boundary-42"
    out = [hdr.encode("utf-8"),
           f'Content-Type: multipart/{sub}; '
           f'boundary="{boundary}"'.encode("ascii"), b"", b"preamble"]
    for p in parts:
        out.append(f"--{boundary}".encode())
        out.append(one(p))
    out.append(f"--{boundary}--".encode())
    out.append(b"epilogue")
    return b"\n".join(out)


def make_mbox(messages: list[bytes]) -> bytes:
    """mbox container: envelope lines + mboxrd escaping of body
    ``From `` lines."""
    out = []
    for i, raw in enumerate(messages):
        out.append(f"From fixture@example.org Thu Jan  1 00:00:0{i % 10} "
                   f"2025".encode())
        out.append(re.sub(rb"^(>*From )", rb">\1", raw, flags=re.M))
    return b"\n".join(out) + b"\n"
