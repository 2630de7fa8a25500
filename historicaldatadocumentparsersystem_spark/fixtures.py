"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates rows of exactly the BASELINE.json ``input_hint`` shape:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Row classes by ``i % 100`` (fixed proportions):
  0-54   html-simple    (~55%) nav/header/article/aside/footer/script page
  55-69  html-linky     (~15%) link-heavy menus around a real body
  70-79  html-malformed (~10%) unclosed tags, stray closers, bad entities,
                               latin-1 declared via <meta charset>
  80-89  pdf            (~10%) synthesized minimal PDF (raw or Flate
                               streams, BT/ET, Tj, Td; 1-3 pages)
  90-99  empty/garbage  (~10%) empty / truncated / random bytes ->
                               doc_kind='empty', falls back to ``text``

Hosts are Zipf-like: ~30% of urls share one hot host (exercises
skew/salting). Everything is seeded (default 42); ``random.Random``
seeded with str uses SHA-512 so results are stable across runs and
Python versions. No wall-clock anywhere (warc_ts is a deterministic
ramp from 2025-01-01).
"""

from __future__ import annotations

import datetime as _dt
import random

_WORDS = (
    "data spark query engine table scan filter join merge sort window "
    "group batch stream page crawl corpus token text content extract "
    "layout span block score density link boiler plate article main "
    "history archive record document parse render fetch index shard"
).split()

_HOT_HOST = "hot.example.com"
_HOSTS = [_HOT_HOST] + [f"site{k}.example.org" for k in range(20)]

_LANGS = ["en", "fr", "es", "ja", "zh-cn", "zh-tw"]  # tools.py:187-189 allowlist

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)


def _rng(seed: int, i: int) -> random.Random:
    return random.Random(f"corpus:{seed}:{i}")


def _sentence(rng: random.Random, lo: int = 6, hi: int = 16) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice([".", ".", ".", ",", "!"])


def _paragraph(rng: random.Random, lo: int = 2, hi: int = 5) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(lo, hi)))


def _menu(rng: random.Random, n: int, cls: str = "") -> str:
    items = "".join(
        f'<li><a href="/{rng.choice(_WORDS)}-{j}">'
        f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a></li>"
        for j in range(n)
    )
    attr = f' class="{cls}"' if cls else ""
    return f"<ul{attr}>{items}</ul>"


def _html_simple(rng: random.Random, i: int, scale: int = 1) -> bytes:
    paras = "".join(f"<p>{_paragraph(rng)}</p>"
                    for _ in range(rng.randint(3, 8) * scale))
    page = (
        "<!DOCTYPE html><html><head>"
        f"<meta charset=\"utf-8\"><title>Page {i}</title>"
        "<style>body{margin:0}</style>"
        "<script>var x=1;</script></head><body>"
        f"<header><h1>Site Header {i}</h1>{_menu(rng, 4)}</header>"
        f"<nav>{_menu(rng, 6)}</nav>"
        f"<div class=\"content\"><article><h2>{_sentence(rng, 3, 6)}</h2>"
        f"{paras}</article></div>"
        f"<aside class=\"sidebar ad\">{_paragraph(rng, 1, 2)}</aside>"
        f"<footer><p>copyright {1990 + i % 30}</p>{_menu(rng, 3)}</footer>"
        "</body></html>"
    )
    return page.encode("utf-8")


def _html_linky(rng: random.Random, i: int, scale: int = 1) -> bytes:
    body_paras = "".join(f"<p>{_paragraph(rng, 2, 4)}</p>"
                         for _ in range(rng.randint(2, 4) * scale))
    clouds = "".join(_menu(rng, rng.randint(8, 15))
                     for _ in range(3 * scale))
    page = (
        "<html><head><meta charset=\"utf-8\"></head><body>"
        f"<div id=\"menu-top\">{clouds}</div>"
        f"<div class=\"post-body\">{body_paras}{_menu(rng, 10)}</div>"
        f"<div class=\"tagcloud\">{clouds}</div>"
        "</body></html>"
    )
    return page.encode("utf-8")


def _html_malformed(rng: random.Random, i: int, scale: int = 1) -> bytes:
    paras = "".join(
        f"<p>{_paragraph(rng, 1, 3)}" + ("" if j % 2 else "</p>")
        for j in range(rng.randint(2, 5) * scale)
    )
    page = (
        "<html><head><meta charset=\"latin-1\"></head><body>"
        "</div><div class=content>"
        f"<article>{paras}<p>caf\xe9 r&eacute;sum&eacute; &amp co"
        "</body>"
    )
    return page.encode("latin-1")


def _lzw_encode(data: bytes) -> bytes:
    """PDF/TIFF LZW encoder (EarlyChange=1): the fixture-side inverse
    of extractor/pdfx._lzw_decode — clear-table first, variable
    9->12-bit MSB-first codes, width bump one entry early, clear
    emitted instead of assigning code 4095. Verified against the PDF
    spec's '-----A---B' -> 800B6050220C0C8501 vector."""
    base = {bytes([i]): i for i in range(256)}
    table = dict(base)
    next_code, width = 258, 9
    codes: list[tuple[int, int]] = [(256, width)]
    prev = b""
    for b in data:
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        codes.append((table[prev], width))
        if next_code < 4095:
            table[cur] = next_code
            next_code += 1
            if next_code >= (1 << width) - 1 and width < 12:
                width += 1
        else:
            codes.append((256, width))
            table = dict(base)
            next_code, width = 258, 9
        prev = bytes([b])
    if prev:
        codes.append((table[prev], width))
    codes.append((257, width))
    buf = n = 0
    out = bytearray()
    for code, w in codes:
        buf = (buf << w) | code
        n += w
        while n >= 8:
            out.append((buf >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        out.append((buf << (8 - n)) & 0xFF)
    return bytes(out)


def _runlength_encode(data: bytes) -> bytes:
    """PDF 7.4.5 RunLength encoder (fixture-side inverse of
    extractor/pdfx._runlength_decode): runs of >= 3 identical bytes
    become (257-len, byte) repeats, everything else literal blocks of
    up to 128 bytes, terminated by the 128 EOD byte."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = 0
    def flush_literals(end: int) -> None:
        j = lit_start
        while j < end:
            k = min(end, j + 128)
            out.append(k - j - 1)
            out.extend(data[j:k])
            j = k
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    out.append(128)
    return bytes(out)


def _pdf_encode(stream: bytes, filters: list[str]) -> tuple[bytes, bytes]:
    """Apply a PDF filter chain IN DECODE ORDER (encode right-to-left)
    and return (encoded_bytes, /Filter dict fragment)."""
    import base64
    import binascii
    import zlib
    for name in reversed(filters):
        if name == "FlateDecode":
            stream = zlib.compress(stream, 6)
        elif name == "LZWDecode":
            stream = _lzw_encode(stream)
        elif name == "RunLengthDecode":
            stream = _runlength_encode(stream)
        elif name == "ASCIIHexDecode":
            stream = binascii.hexlify(stream) + b">"
        elif name == "ASCII85Decode":
            stream = base64.a85encode(stream, adobe=True)[2:]  # strip <~
        else:
            raise ValueError(name)
    if len(filters) == 1:
        frag = f" /Filter /{filters[0]}".encode()
    else:
        frag = (" /Filter [" + " ".join(f"/{n}" for n in filters)
                + "]").encode()
    return stream, frag


def _pdf_str(val: str) -> bytes:
    """PDF string token: UTF-16BE hex form for non-ASCII (the real-
    producer convention), escaped literal otherwise."""
    if not val.isascii():
        return (b"<FEFF"
                + val.encode("utf-16-be").hex().upper().encode() + b">")
    esc = (val.replace("\\", r"\\").replace("(", r"\(")
           .replace(")", r"\)"))
    return b"(" + esc.encode("latin-1") + b")"


def _make_pdf(pages: list[list[str]], compress: bool = False,
              filters: list[str] | None = None,
              info: dict | None = None,
              outline: list[tuple[int, str]] | None = None) -> bytes:
    """Minimal valid-enough PDF: catalog/pages/page objs + content
    streams — raw, ``compress`` (/FlateDecode, the near-universal
    real-world encoding), or an explicit ``filters`` chain in decode
    order (the controlled subset extractor/pdfx.py targets).
    ``info`` adds a document information dictionary (PDF 14.3.3) as
    the LAST object + a trailer /Info ref — appended after every
    content stream, so raw-stream span offsets (and the committed
    goldens that pin them) are untouched. Non-ASCII values emit the
    UTF-16BE hex-string form real producers use."""
    objs, info_num = _pdf_objects(pages, compress, filters, info,
                                  outline)
    info_ref = (f" /Info {info_num} 0 R".encode()
                if info_num is not None else b"")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for idx, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{idx} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R"
            .encode() + info_ref + b" >>\n"
            + f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def _make_pdf_modern(pages: list[list[str]],
                     info: dict | None = None,
                     outline: list[tuple[int, str]] | None = None
                     ) -> bytes:
    """The PDF 1.5+ form of ``_make_pdf``: the SAME objects (same
    numbering, so every cross-reference is identical), but every
    non-stream object (catalog, pages, page dicts, info, outline
    tree) is packed into a Flate-compressed /Type/ObjStm, and the
    classic trailer is replaced by a /Type/XRef cross-reference
    STREAM whose dict carries /Root and /Info — how every modern
    producer writes PDFs. Content streams stay top-level (the spec
    forbids streams inside object streams)."""
    import hashlib as _hashlib
    import zlib as _zlib
    objs, info_num = _pdf_objects(pages, False, None, info, outline)
    objstm_num = len(objs) + 1
    xref_num = len(objs) + 2
    embedded = [(i + 1, body) for i, body in enumerate(objs)
                if b"stream" not in body]
    toplevel = {i + 1: body for i, body in enumerate(objs)
                if b"stream" in body}
    # ObjStm: "num off num off ..." header, then the bodies
    segs, offs, pos = [], [], 0
    for _num, body in embedded:
        offs.append(pos)
        segs.append(body)
        pos += len(body) + 1
    header = " ".join(f"{num} {off}" for (num, _b), off
                      in zip(embedded, offs)).encode() + b"\n"
    data = header + b"\n".join(segs)
    first = len(header)
    packed = _zlib.compress(data)
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num, body in sorted(toplevel.items()):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm "
            f"/N {len(embedded)} /First {first} "
            f"/Filter /FlateDecode /Length {len(packed)} >>\n"
            .encode() + b"stream\n" + packed + b"\nendstream\nendobj\n")
    # XRef stream: /W [1 w 1] with the offset field sized to the
    # file (real producers widen past 64 KB); dict carries the /ID
    # hex pair and a /DecodeParms sub-dict like real xref streams —
    # the reader must tolerate full dict syntax here
    xref_at = len(out)
    wid = max(2, (xref_at.bit_length() + 7) // 8)
    entries = bytearray()
    emb_index = {num: i for i, (num, _b) in enumerate(embedded)}
    for num in range(xref_num + 1):
        if num == 0:
            t, a, b = 0, 0, 255
        elif num in emb_index:
            t, a, b = 2, objstm_num, emb_index[num]
        elif num in offsets:
            t, a, b = 1, offsets[num], 0
        elif num == xref_num:
            t, a, b = 1, xref_at, 0
        else:
            t, a, b = 0, 0, 255
        entries += bytes([t]) + a.to_bytes(wid, "big") + bytes([b])
    xdata = _zlib.compress(bytes(entries))
    info_ref = (f" /Info {info_num} 0 R" if info_num else "")
    fid = _hashlib.md5(out).hexdigest().upper().encode()
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
            f"/W [1 {wid} 1] /Root 1 0 R{info_ref} "
            f"/DecodeParms << /Columns {wid + 2} /Predictor 1 >> "
            .encode() + b"/ID [<" + fid + b"> <" + fid + b">] "
            + f"/Filter /FlateDecode /Length {len(xdata)} >>\n"
            .encode() + b"stream\n" + xdata + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


def _pdf_objects(pages, compress, filters, info, outline
                 ) -> tuple[list[bytes], int | None]:
    """Object bodies 1..N shared by the classic and modern writers
    (catalog, pages, page+content pairs, optional info, optional
    outline tree) + the info object NUMBER (None without info)."""
    if filters is None and compress:
        filters = ["FlateDecode"]
    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * k} 0 R" for k in range(n_pages))
    # outline objects land AFTER content + info; their numbers are
    # known up front so the catalog can reference the tree root.
    # outline=None leaves the catalog byte-identical to the pre-
    # outline form (the committed corpus goldens depend on that).
    outlines_num = (2 + 2 * n_pages + (1 if info else 0) + 1
                    if outline is not None else None)
    cat = b"<< /Type /Catalog /Pages 2 0 R"
    if outlines_num is not None:
        cat += f" /Outlines {outlines_num} 0 R".encode()
    objs.append(cat + b" >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    for k, lines in enumerate(pages):
        page_obj = (f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * k} 0 R "
                    f"/MediaBox [0 0 612 792] >>").encode()
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for line in lines:
            esc = line.replace("\\", r"\\").replace("(", r"\(") \
                      .replace(")", r"\)")
            ops.append(f"({esc}) Tj 0 -14 Td")
        ops.append("ET")
        stream = " ".join(ops).encode("latin-1")
        objs.append(page_obj)
        if filters:
            stream, frag = _pdf_encode(stream, filters)
            objs.append(b"<< /Length " + str(len(stream)).encode()
                        + frag + b" >>\nstream\n"
                        + stream + b"\nendstream")
        else:
            objs.append(b"<< /Length " + str(len(stream)).encode()
                        + b" >>\nstream\n" + stream + b"\nendstream")
    info_num = None
    if info:
        fields = []
        for key, val in info.items():
            if val is None:
                continue
            if not val.isascii():
                hx = b"FEFF" + val.encode("utf-16-be").hex().upper() \
                    .encode()
                fields.append(b"/" + key.encode() + b" <" + hx + b">")
            else:
                esc = (val.replace("\\", r"\\").replace("(", r"\(")
                       .replace(")", r"\)"))
                fields.append(b"/" + key.encode() + b" ("
                              + esc.encode("latin-1") + b")")
        objs.append(b"<< " + b" ".join(fields) + b" >>")
        info_num = len(objs)
    if outline is not None:
        root = len(objs) + 1        # == outlines_num
        item0 = root + 1
        children: dict[int, list[int]] = {-1: []}
        parents: dict[int, int] = {}
        stack: list[tuple[int, int]] = []
        for i, (depth, _title) in enumerate(outline):
            while stack and stack[-1][0] >= depth:
                stack.pop()
            parent = stack[-1][1] if stack else -1
            children.setdefault(parent, []).append(i)
            parents[i] = parent
            stack.append((depth, i))

        def num(i: int) -> int:
            return item0 + i
        top = children[-1]
        if top:
            objs.append(
                f"<< /Type /Outlines /First {num(top[0])} 0 R "
                f"/Last {num(top[-1])} 0 R /Count {len(outline)} >>"
                .encode())
        else:
            objs.append(b"<< /Type /Outlines /Count 0 >>")
        for i, (_depth, title) in enumerate(outline):
            parent = parents[i]
            sibs = children[parent if parent != -1 else -1]
            at = sibs.index(i)
            parts = [b"<< /Title " + _pdf_str(title),
                     f"/Parent {root if parent == -1 else num(parent)}"
                     f" 0 R".encode()]
            if at > 0:
                parts.append(f"/Prev {num(sibs[at - 1])} 0 R".encode())
            if at + 1 < len(sibs):
                parts.append(f"/Next {num(sibs[at + 1])} 0 R".encode())
            kids_i = children.get(i, [])
            if kids_i:
                parts.append(f"/First {num(kids_i[0])} 0 R "
                             f"/Last {num(kids_i[-1])} 0 R "
                             f"/Count {len(kids_i)}".encode())
            objs.append(b" ".join(parts) + b" >>")
    return objs, info_num


def _pdf_payload(rng: random.Random, i: int, scale: int = 1) -> bytes:
    n_pages = rng.randint(1, 3)
    pages = [[_sentence(rng, 4, 9)
              for _ in range(rng.randint(3, 7) * scale)]
             for _ in range(n_pages)]
    # half the pdf rows are filtered (round 4) — decided from the row
    # index, not the rng, so text content draws are unchanged. The
    # filtered half cycles through the real-world encodings the
    # extractor supports: Flate (dominant), legacy LZW, an
    # ASCII85+Flate transport chain, and a RunLength+Flate chain
    # (decoded stream identical to plain Flate, so goldens are
    # unchanged — filtered spans are page-local).
    mix = {1: ["FlateDecode"],
           3: ["LZWDecode"],
           5: ["ASCII85Decode", "FlateDecode"],
           7: ["RunLengthDecode", "FlateDecode"]}
    return _make_pdf(pages, filters=mix.get(i % 8),
                     info=_pdf_info_fields(i))


def _pdf_info_fields(i: int) -> dict | None:
    """Deterministic /Info dict per pdf row (round 4, late): drawn
    from a FRESH rng stream so every pre-existing content draw — and
    therefore every committed golden — is untouched; the info object
    itself appends after the content streams (see _make_pdf). Cycles
    cover: no-Info rows, partial dicts, UTF-16BE titles, tz-carrying
    and date-only D: timestamps."""
    if i % 4 == 3:
        return None
    rng = _rng(314159, i)
    info = {"Title": _sentence(rng, 3, 6),
            "Producer": f"sparkextract {1 + i % 3}.0"}
    if i % 4 == 0:
        info["Author"] = f"Author {i % 7}"
        info["CreationDate"] = (f"D:20{20 + i % 6:02d}0{1 + i % 9}"
                                f"15083000+0{1 + i % 3}'00'")
    if i % 8 == 1:
        info["Title"] = f"Résumé {_sentence(rng, 2, 4)}"
    if i % 8 == 5:
        info["ModDate"] = "D:20240229"
    return info


def pdf_modern_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic PDF 1.5+ files (object streams + xref streams —
    how every modern producer writes): (url, payload). Info cycles
    through _pdf_info_fields (incl. no-Info rows -> zero info rows),
    every third row carries an outline tree, and every seventh row is
    a garbage payload. The classic==modern extraction parity is
    pinned in tests/test_pdf_modern.py; these rows feed
    fixtures/golden_pdf_modern_seed42_n*.parquet."""
    out = []
    for i in range(n):
        rng = _rng(seed * 275604541, i)
        url = f"pdf://modern-{i}"
        if i % 7 == 6:
            out.append({"url": url,
                        "payload": b"%PDF-1.5 truncated junk " +
                        bytes(rng.randrange(256) for _ in range(60))})
            continue
        n_pages = rng.randint(1, 3)
        pages = [[_sentence(rng, 4, 9)
                  for _ in range(rng.randint(2, 5))]
                 for _ in range(n_pages)]
        outline = None
        if i % 3 == 0:
            outline = [(1, f"Part {c}: {rng.choice(_WORDS)}")
                       for c in range(1 + i % 4)]
            if i % 6 == 3:
                outline.insert(1, (2, f"Sub {rng.choice(_WORDS)}"))
        out.append({"url": url,
                    "payload": _make_pdf_modern(
                        pages, info=_pdf_info_fields(i),
                        outline=outline)})
    return out


def pdf_outline_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic PDFs with document outlines: (url, payload).
    Cycles flat bookmark lists, 3-deep nested trees, unicode titles
    (UTF-16BE hex strings), escape-heavy titles, filtered content
    streams (the outline walk must not care), and rows that yield
    zero items (no outline / empty outline / garbage payload)."""
    out = []
    for i in range(n):
        rng = _rng(seed * 217645177, i)
        kind = i % 6
        url = f"pdf://outline-{i}"
        pages = [[_sentence(rng, 4, 8) for _ in range(3)]]
        if kind == 0:           # flat top-level bookmarks
            ol = [(1, f"Chapter {c}: {rng.choice(_WORDS)}")
                  for c in range(2 + i % 3)]
            payload = _make_pdf(pages, outline=ol)
        elif kind == 1:         # nested 3 levels, siblings after pops
            ol = [(1, "Intro"), (2, f"Background {i}"),
                  (3, f"History {rng.choice(_WORDS)}"),
                  (2, "Scope"), (1, "Results"), (2, f"Table {i % 7}")]
            payload = _make_pdf(pages, outline=ol)
        elif kind == 2:         # unicode + escape-heavy titles
            ol = [(1, f"Résumé §{i} — ünï"),
                  (2, "Paren (x) \\ backslash"),
                  (1, "日本語の章")]
            payload = _make_pdf(pages, outline=ol)
        elif kind == 3:         # outline over FILTERED content streams
            ol = [(1, f"Compressed {rng.choice(_WORDS)}"),
                  (2, f"Inner {i}")]
            payload = _make_pdf(pages, filters=["FlateDecode"],
                                outline=ol, info=_pdf_info_fields(1))
        elif kind == 4:         # no outline at all -> zero rows
            payload = _make_pdf(pages)
        else:                   # empty outline tree / garbage
            payload = (_make_pdf(pages, outline=[])
                       if i % 2 else _garbage(rng, i))
        out.append({"url": url, "payload": payload})
    return out


def _garbage(rng: random.Random, i: int) -> bytes:
    mode = i % 10
    if mode < 3:
        return b""
    if mode < 6:
        return bytes(rng.getrandbits(8) for _ in range(rng.randint(5, 80)))
    if mode < 8:
        return _make_pdf([["truncated"]])[:20]  # truncated pdf header-less
    return b"plain text, no markup at all " + str(i).encode()


def row_class(i: int) -> str:
    m = i % 100
    if m < 55:
        return "html-simple"
    if m < 70:
        return "html-linky"
    if m < 80:
        return "html-malformed"
    if m < 90:
        return "pdf"
    return "garbage"


def make_row(i: int, seed: int = 42, scale: int = 1) -> dict:
    """One corpus row. ``scale`` multiplies page size (paragraph / menu /
    pdf-line counts): scale=1 ≈ 2 KB pages (test/golden default),
    scale=8-16 ≈ 15-40 KB — the realistic Common-Crawl page-size band
    used by the benchmark so per-document compute, not fixed overhead,
    dominates the measurement."""
    rng = _rng(seed, i)
    cls = row_class(i)
    if cls == "html-simple":
        payload = _html_simple(rng, i, scale)
    elif cls == "html-linky":
        payload = _html_linky(rng, i, scale)
    elif cls == "html-malformed":
        payload = _html_malformed(rng, i, scale)
    elif cls == "pdf":
        payload = _pdf_payload(rng, i, scale)
    else:
        payload = _garbage(rng, i)
    # Zipf-like hosts: ~30% hot host (FIXTURES.md skew requirement)
    host = _HOT_HOST if (i * 2654435761) % 10 < 3 else \
        _HOSTS[1 + (i * 40503) % (len(_HOSTS) - 1)]
    return {
        "url": f"https://{host}/{row_class(i)}/page-{i}",
        "warc_ts": _EPOCH + _dt.timedelta(seconds=37 * i + (i % 7) * 11),
        "html": payload,
        "text": f"fallback text for doc {i}: " + _paragraph(rng, 1, 2),
        "lang": _LANGS[i % len(_LANGS)],
    }


def generate_rows(n: int, seed: int = 42, scale: int = 1) -> list[dict]:
    return [make_row(i, seed, scale) for i in range(n)]


def pptx_deck_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic decks (S7 fixture): (url, payload).

    Mix per deck: 1-3 slides, alternating titles, 2-4 paragraphs per
    slide alternating bullet/plain; ~1/3 of paragraphs lead with an F4
    keyword so keyword-section routing has hits to assert on."""
    from .extractor.pptx import make_pptx
    kw = ["merge", "window", "stream"]
    out = []
    for i in range(n):
        rng = _rng(seed * 7919, i)
        slides = []
        for s in range(1 + i % 3):
            paras = []
            for p in range(2 + (i + s) % 3):
                txt = _sentence(rng, 4, 9)
                if (i + s + p) % 3 == 0:
                    txt = f"{kw[(i + p) % 3]} {txt}"
                paras.append((txt, (p % 2) == 0))
            slides.append({"title": f"Deck {i} slide {s + 1}"
                           if s % 2 == 0 else None,
                           "paras": paras})
        from .extractor.officemeta import build_core_properties
        props = _office_props(i, "pptx")
        extra = ({"docProps/core.xml": build_core_properties(props)}
                 if props else None)
        out.append({"url": f"pptx://deck-{i}",
                    "payload": make_pptx(slides, extra_parts=extra)})
    return out


def _office_props(i: int, fmt: str) -> dict | None:
    """Deterministic office-metadata fields per fixture row (fresh
    index-derived values, no rng draws disturbed): every 5th row has
    NO metadata part, keyword/date/entity coverage cycles."""
    if i % 5 == 4:
        return None
    props: dict = {"title": f"{fmt.upper()} Document {i}",
                   "creator": f"Author {i % 7}"}
    if i % 3 == 0:
        props["keywords"] = f"alpha, beta{i % 4}"
        props["created"] = f"202{i % 4}-0{1 + i % 9}-15T08:30:00Z"
    if i % 5 == 2:
        props["subject"] = f"Entities & <tests> {i}"
    return props


def docx_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic .docx files (S6 fixture): (url, payload).

    3-7 paragraphs per document cycling heading/list/plain; every
    paragraph stays under 10 words so the A4 chunk fold's oversize
    window-split path is provably unreachable (pinned separately by
    tests/test_property.py)."""
    from .extractor.docx import make_docx
    kinds = ["heading", "list_item", "text", "text", "list_item"]
    out = []
    for i in range(n):
        rng = _rng(seed * 104729, i)
        paras = []
        for p in range(3 + i % 5):
            txt = _sentence(rng, 4, 9)
            if (i + p) % 4 == 0:
                txt = f"{['merge', 'window', 'stream'][(i + p) % 3]} {txt}"
            paras.append((kinds[(i + p) % len(kinds)], txt))
        from .extractor.officemeta import build_core_properties
        props = _office_props(i, "docx")
        extra = ({"docProps/core.xml": build_core_properties(props)}
                 if props else None)
        out.append({"url": f"docx://file-{i}",
                    "payload": make_docx(paras, extra_parts=extra)})
    return out


def odt_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic .odt files (ODF fixture): (url, payload).

    Cycles heading / nested-list / plain paragraphs like the docx set,
    plus the ODF-specific encodings a real writer emits: space runs as
    ``text:s``, tabs, line-breaks, and nested ``text:span`` runs
    (every 3rd document carries one of each)."""
    from .extractor.odtx import make_odt
    kinds = ["heading", "list_item", "text", "text", "list_item"]
    out = []
    for i in range(n):
        rng = _rng(seed * 130363, i)
        paras = []
        for p in range(3 + i % 5):
            txt = _sentence(rng, 4, 9)
            if (i + p) % 4 == 0:
                txt = f"{['merge', 'window', 'stream'][(i + p) % 3]} {txt}"
            if i % 3 == 0 and p == 1:
                txt = f"span:{txt}\tcol  end"  # span + tab + space run
            paras.append((kinds[(i + p) % len(kinds)], txt))
        from .extractor.officemeta import build_odf_meta
        props = _office_props(i, "odt")
        if props and "keywords" in props:
            props["keywords"] = [k.strip() for k in
                                 props["keywords"].split(",")]
        extra = {"meta.xml": build_odf_meta(props)} if props else None
        out.append({"url": f"odt://file-{i}",
                    "payload": make_odt(paras, extra_parts=extra)})
    return out


_RTF_UNICODE_SAMPLES = ("café déjà-vu", "über größe", "русский текст",
                        "日本語の文書", "euro € dash —", "naïve façade")


def rtf_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic .rtf files: (url, payload). Cycles
    heading / list / plain paragraphs like the odt set, rotates the
    declared codepage (cp1252 / utf-8-page / cp932 / cp1251) with
    matching non-ASCII text (codepage \\'xx bytes AND \\uN escapes),
    and every 7th row is a NON-rtf payload (garbage bytes) that must
    yield zero element rows (F5)."""
    from .extractor.rtfx import make_rtf
    kinds = ["heading", "list_item", "text", "text", "list_item"]
    pages = [1252, 1252, 65001, 932, 1252, 1251]
    out = []
    for i in range(n):
        rng = _rng(seed * 190031, i)
        if i % 7 == 6:
            out.append({"url": f"rtf://file-{i}",
                        "payload": _garbage(rng, i)})
            continue
        paras = []
        for p in range(3 + i % 5):
            txt = _sentence(rng, 4, 9)
            if (i + p) % 4 == 0:
                txt = f"{_RTF_UNICODE_SAMPLES[(i + p) % 6]} {txt}"
            if i % 3 == 0 and p == 1:
                txt = f"tab\tcol {{br}}\nnext \\ done"
            kind = kinds[(i + p) % len(kinds)]
            level = 1 + (i + p) % 3 if kind != "text" else 0
            paras.append((kind, level, txt))
        out.append({"url": f"rtf://file-{i}",
                    "payload": make_rtf(paras,
                                        codepage=pages[i % len(pages)])})
    return out


def epub_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic .epub books: (url, payload). Books
    cycle chapter counts 1-4, include heading-less chapters (the
    <title> fallback), entity-bearing titles/paras, and every 6th row
    is a NON-epub payload (plain zip / garbage bytes) that must yield
    zero rows. Feeds fixtures/golden_epub_chapters_seed42_n*.parquet."""
    from .extractor.epubx import make_epub
    out = []
    for i in range(n):
        rng = _rng(seed * 15485863, i)
        url = f"epub://book-{i}"
        if i % 6 == 5:
            # degrade class: not an epub at all
            payload = (b"PK\x03\x04 not really a zip"
                       if i % 2 else bytes([i % 256] * 64))
            out.append({"url": url, "payload": payload})
            continue
        chapters = []
        for c in range(1 + i % 4):
            head = (None if (i + c) % 3 == 2
                    else f"Chapter {c + 1}: {_sentence(rng, 2, 5)}"
                    + (" & more" if c % 2 else ""))
            paras = [_sentence(rng, 5, 12) for _ in range(2 + (i + c) % 3)]
            if (i + c) % 4 == 0:
                paras[0] = "A <tag> & amp " + paras[0]
            chapters.append((head, paras))
        payload = make_epub(
            chapters, title=f"Book {i} & Co", creator=f"Author {i % 7}",
            lang=["en", "fr", "de"][i % 3], ident=f"urn:uuid:{i}")
        out.append({"url": url, "payload": payload})
    return out


def epub_rows_df(spark, n: int, seed: int = 42, num_partitions: int = 4):
    """Spark DataFrame of the epub fixture set (url, payload)."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("payload", BinaryType(), True),
    ])
    rows = [(r["url"], r["payload"]) for r in epub_file_rows(n, seed)]
    return spark.createDataFrame(rows, schema).repartition(num_partitions)


def corpus_schema():
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)
    return StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ])


def corpus_df_distributed(spark, n: int, seed: int = 42,
                          num_partitions: int = 32, scale: int = 1):
    """Corpus generated ON THE EXECUTORS (mapInPandas over spark.range).

    The generator is deterministic per row index, so distributed
    generation produces exactly the same rows as the driver-side
    generator — this is how the bench synthesizes 10^4-10^6 docs
    without a driver bottleneck (and how a real run would seed 10^12)."""
    import pandas as pd

    def gen(batches):
        for b in batches:
            rows = [make_row(int(i), seed, scale) for i in b["id"]]
            yield pd.DataFrame(rows)

    return (spark.range(0, n, 1, num_partitions)
            .mapInPandas(gen, corpus_schema()))


def corpus_df(spark, n: int, seed: int = 42, num_partitions: int | None = None):
    """Spark DataFrame of the synthetic corpus with the input_hint schema."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ])
    rows = [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
            for r in generate_rows(n, seed)]
    df = spark.createDataFrame(rows, schema)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


# --- page-metadata fixture pages ---------------------------------------------

def meta_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the page-metadata
    extractor (extractor/metax.py): full OpenGraph sets, case-mixed
    attribute values, relative canonicals, duplicate tags (first
    wins), meta leaked into <body>, entity-bearing values, headless
    pages and empty payloads. SEPARATE from make_row for the same
    reason as tests/synth_inputs.adversarial_html_pages: the golden
    extraction parquet pins generate_rows, and these pages feed their
    own golden (fixtures/golden_meta_seed42_n*.parquet)."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 104729, i)
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        url = f"https://{host}/meta/page-{i}"
        kind = i % 8
        title = _sentence(rng, 3, 7)
        desc = _sentence(rng, 8, 18)
        body = f"<body><p>{_paragraph(rng, 2, 4)}</p></body>"
        if kind == 0:       # the full, well-formed set
            page = (
                f'<!DOCTYPE html><html lang="en-US"><head>'
                f'<title>{title}</title>'
                f'<meta name="description" content="{desc}">'
                f'<meta name="keywords" content="{", ".join(rng.choice(_WORDS) for _ in range(4))}">'
                f'<meta name="robots" content="index, follow">'
                # absolute canonical on a SHARED host, colliding across
                # pages (i % 7): syndicated-copy groups for canonical
                # pre-dedup downstream
                f'<link rel="canonical" '
                f'href="https://{_HOSTS[0]}/meta/canon-{i % 7}">'
                f'<meta property="og:title" content="OG {title}">'
                f'<meta property="og:description" content="{desc}">'
                f'<meta property="og:url" content="https://{host}/og/page-{i}">'
                f'<meta property="og:image" content="/img/{i}.png">'
                f'<link rel="alternate" hreflang="EN-US" href="/meta/page-{i}">'
                f'<link rel="alternate" hreflang="fr" '
                f'href="https://fr.{host}/meta/page-{i}">'
                f'<link rel="alternate" hreflang="x-default" href="/">'
                f'</head>{body}</html>')
        elif kind == 1:     # case-mixed names, single quotes, no og
            page = (
                f"<html LANG='fr'><head><TITLE>{title}</TITLE>"
                f"<meta NAME='Description' content='{desc}'>"
                f"<META name='ROBOTS' content='NOINDEX'>"
                f"<link REL='Canonical Alternate' href='canon-{i}.html'>"
                f"<link rel='next' href='page-{i + 1}'>"
                f"<link rel='PREV' href='/meta/page-{i - 1}'>"
                f"</head>{body}</html>")
        elif kind == 2:     # og-only, uppercase property values
            page = (
                f'<html><head>'
                f'<meta property="OG:Title" content="OG {title}">'
                f'<meta property="OG:IMAGE" content="//cdn.{host}/i{i}.jpg">'
                f'<link rel="alternate" type="application/rss+xml" '
                f'href="/feed.xml">'
                f'<link rel="alternate" type="text/html" href="/mobile">'
                f'</head>{body}</html>')
        elif kind == 3:     # duplicates: FIRST occurrence wins
            page = (
                f'<html lang="de"><head><title>{title}</title>'
                f'<title>second {i} loses</title>'
                f'<meta name="description" content="first {i}">'
                f'<meta name="description" content="second {i}">'
                f'<link rel="canonical" href="https://{host}/a-{i}">'
                f'<link rel="canonical" href="https://{host}/b-{i}">'
                f'</head>{body}</html>')
        elif kind == 4:     # meta leaked into <body> (still honored)
            page = (
                f'<html><head></head><body><p>{_paragraph(rng, 1, 2)}</p>'
                f'<meta name="description" content="{desc}">'
                f'<title>{title}</title>'
                f'<meta property="og:url" content="page-{i}-rel">'
                f'</body></html>')
        elif kind == 5:     # entities + messy whitespace in values
            page = (
                f'<html><head>'
                f'<title>  {title} &amp; more\n\t(part {i}) </title>'
                f'<meta name="description" content="A&amp;B &lt;{i}&gt;   x">'
                f'<meta name="keywords" content="  ">'
                f'</head>{body}</html>')
        elif kind == 6:     # headless page: every field null
            page = f'<div><p>{_paragraph(rng, 1, 3)}</p></div>'
        else:               # kind == 7: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": page.encode("utf-8")})
    return pages


def _pages_df(spark, pages: list[dict], num_partitions: int):
    """(url, html) Spark frame shared by the satellite fixture sets."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("html", BinaryType(), True),
    ])
    rows = [(p["url"], p["html"]) for p in pages]
    return spark.createDataFrame(rows, schema).repartition(num_partitions)


def meta_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the meta_pages fixture set (url, html)."""
    return _pages_df(spark, meta_pages(n, seed), num_partitions)


def table_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the table extractor
    (extractor/tablex.py): thead/tbody with th headers, multiple
    tables per page, tables nested inside cells, tag-soup rows with
    unclosed td/tr, colspan/rowspan attributes (incl. garbage values),
    table-free pages and empty payloads. Feeds its own golden
    (fixtures/golden_tables_seed42_n*.parquet), same isolation
    rationale as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 122949823, i)
        host = _HOSTS[(i * 48271) % len(_HOSTS)]
        url = f"https://{host}/tables/page-{i}"
        kind = i % 8

        def _tbl(nrows: int, ncols: int, header: bool = True,
                 closed: bool = True) -> str:
            parts = ["<table>"]
            if header:
                parts.append("<thead><tr>" + "".join(
                    f"<th>{rng.choice(_WORDS)}</th>"
                    for _ in range(ncols)) + "</tr></thead><tbody>")
            for r in range(nrows):
                if closed:
                    parts.append("<tr>" + "".join(
                        f"<td>{rng.choice(_WORDS)} {r}-{c}</td>"
                        for c in range(ncols)) + "</tr>")
                else:       # tag soup: rely on tr/td auto-close
                    parts.append("<tr>" + "".join(
                        f"<td>{rng.choice(_WORDS)} {r}-{c}"
                        for c in range(ncols)))
            if header:
                parts.append("</tbody>")
            parts.append("</table>")
            return "".join(parts)

        body: str
        if kind == 0:       # one well-formed table
            body = f"<p>{_paragraph(rng, 1, 2)}</p>" + _tbl(4, 3)
        elif kind == 1:     # several tables interleaved with prose
            body = "<hr>".join(_tbl(rng.randint(1, 3), rng.randint(2, 4),
                                    header=bool(t % 2))
                               for t in range(3))
        elif kind == 2:     # nested table inside a cell
            inner = _tbl(1, 2, header=False)
            body = (f"<table><tr><th>outer</th></tr>"
                    f"<tr><td>host cell {inner} trailing</td>"
                    f"<td>plain {i}</td></tr></table>")
        elif kind == 3:     # tag soup, no closers
            body = _tbl(3, 3, header=False, closed=False)
        elif kind == 4:     # colspan/rowspan incl. garbage values
            body = (f'<table><tr><td colspan="2">span {i}</td>'
                    f'<td rowspan="3">tall</td></tr>'
                    f'<tr><td colspan="x">garbage span</td>'
                    f'<td rowspan="-1">neg</td></tr></table>')
        elif kind == 5:     # entities + markup inside cells
            body = (f"<table><tr><td>a &amp; b</td>"
                    f"<td><b>bold {i}</b> tail</td>"
                    f"<td><ul><li>x</li><li>y</li></ul></td></tr></table>")
        elif kind == 6:     # no tables at all
            body = f"<article><p>{_paragraph(rng, 2, 4)}</p></article>"
        else:               # kind == 7: empty payload -> no output rows
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url,
                      "html": f"<html><body>{body}</body></html>"
                      .encode("utf-8")})
    return pages


def table_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the table_pages fixture set (url, html)."""
    return _pages_df(spark, table_pages(n, seed), num_partitions)


def jsonld_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the JSON-LD extractor
    (extractor/jsonldx.py): article/product/FAQ blocks with @context,
    list-valued @type, invalid JSON, array roots, mime parameters and
    case variation, pages with only non-LD scripts, and empty
    payloads. Feeds fixtures/golden_jsonld_seed42_n*.parquet."""
    import json as _json
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 15485863, i)
        host = _HOSTS[(i * 69621) % len(_HOSTS)]
        url = f"https://{host}/ld/page-{i}"
        kind = i % 6
        body = f"<p>{_paragraph(rng, 1, 3)}</p>"
        blocks: list[str] = []
        if kind == 0:       # canonical article block
            blocks.append(_json.dumps({
                "@context": "https://schema.org", "@type": "Article",
                "headline": _sentence(rng, 3, 7),
                "wordCount": rng.randint(100, 2000)}))
        elif kind == 1:     # product (list @type) + FAQ, mime params
            blocks.append(_json.dumps({
                "@type": ["Product", "Thing"],
                "name": rng.choice(_WORDS),
                "offers": {"@type": "Offer",
                           "price": f"{rng.randint(1, 999)}.99"}}))
            blocks.append(_json.dumps({
                "@context": "https://schema.org", "@type": "FAQPage",
                "mainEntity": [{"@type": "Question",
                                "name": _sentence(rng, 4, 8)}]}))
        elif kind == 2:     # invalid JSON (truncated)
            blocks.append('{"@type": "Recipe", "name": "broken')
        elif kind == 3:     # array root + scalar root
            blocks.append(_json.dumps(
                [{"@type": "ItemList", "position": i}]))
            blocks.append('"just a string"')
        elif kind == 4:     # only non-LD scripts -> no rows
            body += "<script>var x = {\"@type\": \"nope\"};</script>"
        else:               # kind == 5: empty payload
            pages.append({"url": url, "html": None})
            continue
        mime = ("application/ld+json" if i % 2 == 0
                else "APPLICATION/LD+JSON; charset=utf-8")
        scripts = "".join(
            f'<script type="{mime}">{b}</script>' for b in blocks)
        pages.append({"url": url,
                      "html": (f"<html><head>{scripts}</head>"
                               f"<body>{body}</body></html>")
                      .encode("utf-8")})
    return pages


def jsonld_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the jsonld_pages fixture set (url, html)."""
    return _pages_df(spark, jsonld_pages(n, seed), num_partitions)


# --- charset / mojibake fixture pages -----------------------------------------

def charset_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html-bytes) pages exercising the charset
    diagnostics + mojibake repair family (extractor/charsetx.py):
    BOM'd UTF-8/UTF-16, correctly-declared windows-1252 and latin-1
    byte payloads, UTF-8-read-as-cp1252 mojibake (single and double
    mangling), mis-declared payloads with invalid bytes, plain
    ASCII-safe pages and empty payloads. Feeds its own golden
    (fixtures/golden_charset_seed42_n*.parquet), same isolation
    rationale as meta_pages. Accented chars avoid cp1252's five holes
    so the mangled forms stay losslessly representable (the realistic
    browser path; hole-crossing bytes are covered by unit tests)."""
    accents = ("café", "über", "niño", "árbol",
               "prêt", "—dash—", "…", "€99",
               "‘quote’", "“led”")
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 179424673, i)
        host = _HOSTS[(i * 2654435761) % len(_HOSTS)]
        url = f"https://{host}/charset/page-{i}"
        kind = i % 8
        deco = " ".join(rng.choice(accents) for _ in range(3))
        body_txt = f"{_paragraph(rng, 2, 4)} {deco} {_sentence(rng, 4, 9)}"
        if kind == 0:       # undeclared UTF-8 (the default path)
            page = (f"<html><head><title>{_sentence(rng, 3, 6)}</title>"
                    f"</head><body><p>{body_txt}</p></body></html>")
            payload = page.encode("utf-8")
        elif kind == 1:     # UTF-8 BOM + matching declaration
            page = (f'<html><head><meta charset="utf-8"></head>'
                    f"<body><p>{body_txt}</p></body></html>")
            payload = b"\xef\xbb\xbf" + page.encode("utf-8")
        elif kind == 2:     # UTF-16-LE BOM (declaration unreadable)
            page = (f"<html><head></head><body><p>{body_txt}</p>"
                    f"</body></html>")
            payload = b"\xff\xfe" + page.encode("utf-16-le")
        elif kind == 3:     # declared windows-1252, real cp1252 bytes
            page = (f'<html><head><meta charset="windows-1252"></head>'
                    f"<body><p>{body_txt}</p></body></html>")
            payload = page.encode("cp1252")
        elif kind == 4:     # http-equiv latin-1 declaration
            safe = body_txt.translate(
                {0x2014: "-", 0x2026: "...", 0x20ac: "EUR",
                 0x2018: "'", 0x2019: "'", 0x201c: '"', 0x201d: '"'})
            page = (f'<html><head><meta http-equiv="Content-Type" '
                    f'content="text/html; charset=ISO-8859-1"></head>'
                    f"<body><p>{safe}</p></body></html>")
            payload = page.encode("latin-1")
        elif kind == 5:     # mojibake: UTF-8 read as cp1252, re-served
            from .extractor.charsetx import sloppy_cp1252_decode
            mangles = 2 if i % 16 == 13 else 1
            cur = body_txt
            for _ in range(mangles):
                cur = sloppy_cp1252_decode(cur.encode("utf-8"))
            page = (f"<html><head></head><body><p>{cur}</p>"
                    f"</body></html>")
            payload = page.encode("utf-8")
        elif kind == 6:     # declared utf-8 but raw latin bytes inside
            page = (f'<html><head><meta charset="utf-8"></head>'
                    f"<body><p>{_paragraph(rng, 1, 3)} X|Y</p>"
                    f"</body></html>")
            payload = page.encode("utf-8").replace(b"X|Y", b"caf\xe9")
        else:               # kind == 7: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": payload})
    return pages


def charset_pages_df(spark, n: int, seed: int = 42,
                     num_partitions: int = 8):
    """Spark DataFrame of the charset_pages fixture set (url, html)."""
    return _pages_df(spark, charset_pages(n, seed), num_partitions)


def microdata_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the schema.org
    microdata extractor (extractor/microdatax.py): flat Product items
    with attribute- and text-valued props, nested Offer/Organization
    items three levels deep, multiple top-level items with itemid,
    multi-token itemprop attributes, time/data value rules, itemprop
    outside any itemscope (ignored), stray non-property itemscope
    inside an item, tag soup with case-mixed attributes, markup-free
    pages and empty payloads. Feeds its own golden
    (fixtures/golden_microdata_seed42_n*.parquet), same isolation
    rationale as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 32452843, i)
        host = _HOSTS[(i * 22695477) % len(_HOSTS)]
        url = f"https://{host}/md/page-{i}"
        kind = i % 8
        name = _sentence(rng, 2, 5)
        body = f"<p>{_paragraph(rng, 1, 3)}</p>"
        if kind == 0:       # flat Product: text, meta, img, a props
            page = (
                f'<html><body>'
                f'<div itemscope itemtype="https://schema.org/Product">'
                f'<span itemprop="name">{name}</span>'
                f'<meta itemprop="sku" content="SKU-{i:05d}">'
                f'<img itemprop="image" src="/img/{i}.png">'
                f'<a itemprop="url" href="item-{i}.html">details</a>'
                f'</div>{body}</body></html>')
        elif kind == 1:     # 3-level nesting: Product > Offer > seller
            page = (
                f'<html><body>'
                f'<div itemscope itemtype="https://schema.org/Product">'
                f'<span itemprop="name">{name}</span>'
                f'<div itemprop="offers" itemscope '
                f'itemtype="https://schema.org/Offer">'
                f'<meta itemprop="priceCurrency" content="USD">'
                f'<span itemprop="price">{rng.randint(1, 999)}.99</span>'
                f'<div itemprop="seller" itemscope '
                f'itemtype="https://schema.org/Organization">'
                f'<span itemprop="name">{rng.choice(_WORDS)} inc</span>'
                f'</div></div>'
                f'<span itemprop="category">{rng.choice(_WORDS)}</span>'
                f'</div></body></html>')
        elif kind == 2:     # two top-level Persons, second has itemid
            page = (
                f'<html><body>'
                f'<section itemscope itemtype="https://schema.org/Person">'
                f'<b itemprop="name">{name}</b>'
                f'<span itemprop="jobTitle">{rng.choice(_WORDS)}</span>'
                f'</section>{body}'
                f'<section itemscope itemtype="https://schema.org/Person" '
                f'itemid="/people/{i}">'
                f'<b itemprop="name">{_sentence(rng, 2, 4)}</b>'
                f'</section></body></html>')
        elif kind == 3:     # multi-token itemprop (dupes dropped),
            # time datetime vs time text, data value
            page = (
                f'<html><body>'
                f'<article itemscope '
                f'itemtype="https://schema.org/Article extra/Type">'
                f'<h1 itemprop="name headline name">{name}</h1>'
                f'<time itemprop="datePublished" '
                f'datetime="2024-0{1 + i % 9}-11">January {i}</time>'
                f'<time itemprop="dateModified">yesterday {i}</time>'
                f'<data itemprop="wordCount" '
                f'value="{rng.randint(100, 2000)}">long</data>'
                f'</article></body></html>')
        elif kind == 4:     # itemprop OUTSIDE any item (ignored) +
            # typeless itemscope + stray non-property itemscope inside
            page = (
                f'<html><body>'
                f'<span itemprop="orphan">{rng.choice(_WORDS)}</span>'
                f'<div itemscope>'
                f'<span itemprop="label">{name}</span>'
                f'<div itemscope itemtype="https://schema.org/Thing">'
                f'<span itemprop="name">stray {i}</span>'
                f'</div>'
                f'<span itemprop="note">{rng.choice(_WORDS)}</span>'
                f'</div></body></html>')
        elif kind == 5:     # tag soup: unclosed divs, case-mixed
            # attribute NAMES (html.parser lowercases), entities
            page = (
                f'<html><body>'
                f'<div ITEMSCOPE ItemType="https://schema.org/Event">'
                f'<span ITEMPROP="name">{name} &amp; co</span>'
                f'<p itemprop="description">{_sentence(rng, 4, 8)}'
                f'<meta itemprop="startDate">'
                f'</body></html>')
        elif kind == 6:     # no microdata at all -> zero rows
            page = f'<html><body>{body}<div class="x">{name}</div></body></html>'
        else:               # kind == 7: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": page.encode("utf-8")})
    return pages


def microdata_pages_df(spark, n: int, seed: int = 42,
                       num_partitions: int = 8):
    """Spark DataFrame of the microdata_pages fixture set (url, html)."""
    return _pages_df(spark, microdata_pages(n, seed), num_partitions)


def rdfa_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the RDFa Lite
    extractor (extractor/rdfax.py): vocab scoping and overrides,
    typeof items with about/resource ids, CURIE-prefixed types,
    nested item values, content-attribute override on arbitrary tags,
    multi-token properties, orphan properties, tag soup, RDFa-free
    pages and empty payloads. Feeds
    fixtures/golden_rdfa_seed42_n*.parquet, same isolation rationale
    as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 86028121, i)
        host = _HOSTS[(i * 30011) % len(_HOSTS)]
        url = f"https://{host}/rdfa/page-{i}"
        kind = i % 8
        name = _sentence(rng, 2, 5)
        body = f"<p>{_paragraph(rng, 1, 3)}</p>"
        if kind == 0:       # vocab on <html>, flat Article
            page = (
                f'<html vocab="https://schema.org/"><body>'
                f'<article typeof="Article">'
                f'<h1 property="headline">{name}</h1>'
                f'<time property="datePublished" '
                f'datetime="2023-0{1 + i % 9}-15">then</time>'
                f'<a property="url" href="story-{i}.html">read</a>'
                f'</article>{body}</body></html>')
        elif kind == 1:     # nested Offer + a vocab OVERRIDE subtree
            page = (
                f'<html vocab="https://schema.org/"><body>'
                f'<div typeof="Product" about="/products/{i}">'
                f'<span property="name">{name}</span>'
                f'<div property="offers" typeof="Offer">'
                f'<span property="price">{rng.randint(1, 999)}.00</span>'
                f'<meta property="priceCurrency" content="EUR">'
                f'</div>'
                f'<div vocab="https://example.org/custom#" '
                f'typeof="Widget"><span property="w">{rng.choice(_WORDS)}'
                f'</span></div>'
                f'</div></body></html>')
        elif kind == 2:     # two top-level items; CURIE typeof, no vocab
            page = (
                f'<html><body>'
                f'<section vocab="https://schema.org/" typeof="Person" '
                f'resource="#me-{i}">'
                f'<b property="name">{name}</b></section>{body}'
                f'<section typeof="schema:Person dc:Agent">'
                f'<b property="schema:name">{_sentence(rng, 2, 4)}</b>'
                f'</section></body></html>')
        elif kind == 3:     # content override + multi-token property
            page = (
                f'<html vocab="https://schema.org/"><body>'
                f'<div typeof="Article">'
                f'<span property="name headline" content="exact {i}">'
                f'visible text loses</span>'
                f'<img property="image" src="/img/{i}.png">'
                f'<data property="wordCount" '
                f'value="{rng.randint(100, 900)}">n</data>'
                f'</div></body></html>')
        elif kind == 4:     # orphan property + stray typeof in item
            page = (
                f'<html><body>'
                f'<span property="orphan">{rng.choice(_WORDS)}</span>'
                f'<div vocab="https://schema.org/" typeof="Thing">'
                f'<span property="label">{name}</span>'
                f'<div typeof="Brand"><span property="name">stray {i}'
                f'</span></div>'
                f'<span property="note">{rng.choice(_WORDS)}</span>'
                f'</div></body></html>')
        elif kind == 5:     # tag soup, case-mixed attrs, entities
            page = (
                f'<html><body>'
                f'<div VOCAB="https://schema.org/" TypeOf="Event">'
                f'<span PROPERTY="name">{name} &amp; co</span>'
                f'<p property="description">{_sentence(rng, 4, 8)}'
                f'<meta property="startDate">'
                f'</body></html>')
        elif kind == 6:     # no RDFa at all -> zero rows
            page = (f'<html><body>{body}'
                    f'<div class="x" data-vocab="nope">{name}</div>'
                    f'</body></html>')
        else:               # kind == 7: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": page.encode("utf-8")})
    return pages


def rdfa_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the rdfa_pages fixture set (url, html)."""
    return _pages_df(spark, rdfa_pages(n, seed), num_partitions)


def mf2_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the microformats2
    extractor (extractor/mf2x.py): h-entry/h-card roots, nested
    p-author h-card values, p/u/dt/e value rules (img alt, abbr
    title, data value, datetime fallbacks), property classes outside
    any root, case-sensitive root tokens, tag soup, mf2-free pages
    and empty payloads. Feeds fixtures/golden_mf2_seed42_n*.parquet,
    same isolation rationale as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 67867967, i)
        host = _HOSTS[(i * 20021) % len(_HOSTS)]
        url = f"https://{host}/mf2/page-{i}"
        kind = i % 8
        name = _sentence(rng, 2, 5)
        body = f"<p>{_paragraph(rng, 1, 3)}</p>"
        if kind == 0:       # canonical h-entry
            page = (
                f'<html><body><article class="h-entry">'
                f'<h1 class="p-name">{name}</h1>'
                f'<time class="dt-published" '
                f'datetime="2022-0{1 + i % 9}-03">a while ago</time>'
                f'<a class="u-url" href="/entries/{i}">permalink</a>'
                f'<div class="e-content">{_paragraph(rng, 1, 2)}</div>'
                f'</article>{body}</body></html>')
        elif kind == 1:     # nested p-author h-card
            page = (
                f'<html><body><article class="h-entry">'
                f'<span class="p-name">{name}</span>'
                f'<div class="p-author h-card">'
                f'<b class="p-name">{rng.choice(_WORDS)} author</b>'
                f'<img class="u-photo" src="/avatars/{i}.png">'
                f'</div>'
                f'<a class="u-in-reply-to" '
                f'href="https://{_HOSTS[0]}/entries/{i - 1}">reply</a>'
                f'</article></body></html>')
        elif kind == 2:     # standalone h-card with abbr/org
            page = (
                f'<html><body><div class="vcard h-card">'
                f'<span class="p-name">{name}</span>'
                f'<abbr class="p-nickname" title="nick-{i}">N</abbr>'
                f'<span class="p-org">{rng.choice(_WORDS)} corp</span>'
                f'<a class="u-url" href="about-{i}.html">me</a>'
                f'</div>{body}</body></html>')
        elif kind == 3:     # value-rule edge cases
            page = (
                f'<html><body><div class="h-review">'
                f'<img class="p-name" src="/x.png" alt="alt {i} wins">'
                f'<data class="p-rating" value="{1 + i % 5}">stars</data>'
                f'<time class="dt-updated">june {i}</time>'
                f'<del class="dt-removed" datetime="2021-02-0{1 + i % 9}">'
                f'gone</del>'
                f'</div></body></html>')
        elif kind == 4:     # orphan props + root-with-props at top
            page = (
                f'<html><body>'
                f'<span class="p-name">orphan {i}</span>'
                f'<div class="p-author h-card wide">'
                f'<span class="p-name">{name}</span></div>'
                f'</body></html>')
        elif kind == 5:     # tag soup, dupes, case-sensitive roots
            page = (
                f'<html><body><div class="h-entry h-entry">'
                f'<span class="p-name p-name">{name} &amp; co'
                f'<div class="H-Card">not a root {i}</div>'
                f'<span class="p-summary">{_sentence(rng, 4, 8)}'
                f'</body></html>')
        elif kind == 6:     # no mf2 -> zero rows
            page = (f'<html><body>{body}<div class="hero card-h">'
                    f'{name}</div></body></html>')
        else:               # kind == 7: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": page.encode("utf-8")})
    return pages


def mf2_pages_df(spark, n: int, seed: int = 42,
                 num_partitions: int = 8):
    """Spark DataFrame of the mf2_pages fixture set (url, html)."""
    return _pages_df(spark, mf2_pages(n, seed), num_partitions)


def date_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the publication-date
    extractor (extractor/datex.py): meta/JSON-LD/time/url/text sources
    in every precedence combination, invalid calendar dates, datetime
    tails, multi-candidate conflicts, dateless pages and empty
    payloads. Feeds fixtures/golden_dates_seed42_n*.parquet, same
    isolation rationale as meta_pages."""
    import json as _json
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 49979687, i)
        host = _HOSTS[(i * 40014) % len(_HOSTS)]
        kind = i % 8
        y, mo, d = 2015 + i % 9, 1 + i % 12, 1 + i % 28
        iso = f"{y:04d}-{mo:02d}-{d:02d}"
        url = f"https://{host}/dates/page-{i}"
        body = f"<p>{_paragraph(rng, 1, 3)}</p>"
        if kind == 0:       # meta beats a later conflicting <time>
            page = (
                f'<html><head><meta property="article:published_time" '
                f'content="{iso}T08:30:00+00:00"></head><body>{body}'
                f'<time datetime="{y + 1}-01-02">later</time>'
                f'</body></html>')
        elif kind == 1:     # JSON-LD datePublished only (list root too)
            blk = _json.dumps([{"@type": "Article",
                                "datePublished": iso,
                                "author": rng.choice(_WORDS)}])
            page = (f'<html><head><script type="application/ld+json">'
                    f'{blk}</script></head><body>{body}</body></html>')
        elif kind == 2:     # several <time> elements + a text date
            page = (
                f'<html><body>{body}'
                f'<time datetime="{iso} 12:00">noon</time>'
                f'<time datetime="{y}/{mo}/{d}">slashed</time>'
                f'<time>no attr</time>'
                f'<p>updated {y}-{mo:02d}-{min(d + 1, 28):02d}</p>'
                f'</body></html>')
        elif kind == 3:     # URL path date only
            url = f"https://{host}/blog/{y}/{mo}/{d}/post-{i}"
            page = f'<html><body>{body}</body></html>'
        elif kind == 4:     # text ISO date only (first match wins)
            page = (f'<html><body><p>posted {iso} and revised '
                    f'{y}-{mo:02d}-{min(d + 2, 28):02d}</p>{body}'
                    f'</body></html>')
        elif kind == 5:     # invalid candidates die; a valid one wins
            page = (
                f'<html><head>'
                f'<meta name="date" content="{y}-13-40">'
                f'<meta name="publish-date" content="not a date">'
                f'<meta itemprop="datePublished" content="{y}-02-30">'
                f'</head><body>{body}'
                f'<time datetime="{iso}">valid</time></body></html>')
        elif kind == 6:     # no date anywhere -> zero rows
            page = f'<html><body>{body}</body></html>'
        else:               # kind == 7: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": page.encode("utf-8")})
    return pages


def date_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the date_pages fixture set (url, html)."""
    return _pages_df(spark, date_pages(n, seed), num_partitions)


def md_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the markdown
    serializer (extractor/mdx.py): heading ladders, nested ordered/
    unordered lists, pipe tables (ragged rows, ``|`` in cells, nested
    tables), fenced code with backticks + entities, nested
    blockquotes, inline emphasis/links/images, markdown-structural
    characters needing escapes, hard breaks, tag soup, a beyond-cap
    deep nest (degrade pin), headless text and empty payloads. Feeds
    fixtures/golden_markdown_seed42_n*.parquet, same isolation
    rationale as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 87178291199, i)
        host = _HOSTS[(i * 40177) % len(_HOSTS)]
        url = f"https://{host}/md/page-{i}"
        kind = i % 10
        title = _sentence(rng, 3, 7)
        para = _paragraph(rng, 2, 4)
        if kind == 0:       # article: heading ladder + emphasized prose
            page = (
                f'<html><head><title>{title}</title>'
                f'<style>p {{color: red}}</style></head><body>'
                f'<h1>{title}</h1><p>{para}</p>'
                f'<h2>Part {i}</h2><p>Read <b>bold {i}</b>, '
                f'<i>italic</i> and <a href="/deep/page-{i}">a link</a> '
                f'then <a href="https://{host}/x?a={i}&amp;b=2">another'
                f'</a>.</p><h3>Sub</h3><p>{_sentence(rng)}</p>'
                f'<h6>fine print {i}</h6></body></html>')
        elif kind == 1:     # nested lists + a stray non-li child
            page = (
                f'<html><body><ol><li>first {i}</li>'
                f'<li>second with <ul><li>inner a</li>'
                f'<li>inner <b>b</b></li></ul></li>'
                f'<p>stray paragraph in list</p>'
                f'<li>third</li></ol>'
                f'<ul><li><p>para item</p><p>second para</p></li>'
                f'<li>plain</li></ul></body></html>')
        elif kind == 2:     # tables: headers, ragged, pipes, nesting
            page = (
                f'<html><body><table><thead><tr><th>Name</th>'
                f'<th>A|B</th><th>N</th></tr></thead><tbody>'
                f'<tr><td>{rng.choice(_WORDS)}</td><td><i>v{i}</i></td>'
                f'<td>{i * 7}</td></tr>'
                f'<tr><td>short row</td></tr>'
                f'<tr><td>outer<table><tr><td>nested {i}</td></tr>'
                f'</table></td><td>tail</td><td>{i}</td></tr>'
                f'</tbody></table><p>{_sentence(rng)}</p></body></html>')
        elif kind == 3:     # fenced code: language, backticks, entities
            page = (
                f'<html><body><p>before</p>'
                f'<pre><code class="language-python">def f_{i}():\n'
                f'    return "`tick`" &lt;= {i}  # ```\n\n'
                f'    # blank line above kept</code></pre>'
                f'<p>inline <code>a``b</code> and <kbd>Ctrl-C</kbd>.</p>'
                f'</body></html>')
        elif kind == 4:     # blockquotes: nested + multi-paragraph; hr
            page = (
                f'<html><body><blockquote><p>level one {i}</p>'
                f'<blockquote><p>level two</p></blockquote>'
                f'<p>back to one</p></blockquote><hr>'
                f'<p>after the rule</p></body></html>')
        elif kind == 5:     # escape torture + hard breaks + images
            page = (
                f'<html><body><p>stars *{i}* under_score [brack]et '
                f'back\\slash `tick`<br>line two after break</p>'
                f'<p><img src="/img/{i} (v2).png" alt="alt [{i}]"> and '
                f'<a href="/go?x={i} (y)">spaced link</a></p>'
                f'<p><del>gone</del> <strike>old</strike></p>'
                f'</body></html>')
        elif kind == 6:     # tag soup: unclosed/stray tags, bare &
            page = (
                f'<html><body><p>open <b>bold never closes'
                f'<p>second para & raw amp <i>ital</p>'
                f'</div></span><h2>heading after soup {i}'
                f'<p>trailing{"" if i % 3 else "<br>"}text'
                f'<ul><li>one<li>two</body>')
        elif kind == 7:     # beyond-cap nesting: flatten degrade pin
            depth = 140
            page = ('<html><body>' + '<div>' * depth
                    + f'deep *text* {i}' + '</div>' * depth
                    + '</body></html>')
        elif kind == 8:     # headless text + definition list
            page = (f'plain leading text {i} '
                    f'<dl><dt>term {i}</dt><dd>definition '
                    f'{_sentence(rng, 4, 8)}</dd></dl> trailing tail')
        else:               # kind == 9: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url, "html": page.encode("utf-8")})
    return pages


def md_pages_df(spark, n: int, seed: int = 42,
                num_partitions: int = 8):
    """Spark DataFrame of the md_pages fixture set (url, html)."""
    return _pages_df(spark, md_pages(n, seed), num_partitions)


_CODE_ALIAS_HINTS = ("js", "py", "c++", "sh", "golang", "yml",
                     "plaintext", "cs", "tsx", "console", "cxx", "zsh")


def code_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the code-block
    extractor (extractor/codex.py): hinted and unhinted <pre> blocks
    across the heuristic's language table, alias hints, entities and
    nested markup inside pre, whitespace-only and prose blocks,
    nested pre-in-pre, inline-code-only pages and empty payloads.
    Feeds fixtures/golden_code_seed42_n*.parquet, same isolation
    rationale as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 15485863, i)
        host = _HOSTS[(i * 40087) % len(_HOSTS)]
        kind = i % 10
        url = f"https://{host}/code/page-{i}"
        prose = f"<p>{_paragraph(rng, 1, 2)}</p>"
        a, b = rng.randrange(100), rng.randrange(100)
        name = rng.choice(_WORDS)
        if kind == 0:       # python, hinted on the <code> child
            page = (
                f'{prose}<pre><code class="language-python">'
                f'import os\n\ndef {name}(x):\n'
                f'    return x + {a}</code></pre>')
        elif kind == 1:     # javascript, unhinted -> heuristic
            page = (
                f'{prose}<pre>const {name} = (x) =&gt; x * {a};\n'
                f'console.log({name}({b}));</pre>')
        elif kind == 2:     # c, hinted on the <pre>, entity-heavy
            page = (
                f'<pre class="lang-c">#include &lt;stdio.h&gt;\n'
                f'int main(void) {{\n  printf("%d", {a});\n'
                f'  return 0;\n}}</pre>{prose}')
        elif kind == 3:     # sql, unhinted
            page = (
                f'{prose}<pre>SELECT {name}, count(*)\n'
                f'FROM events\nWHERE ts &gt; {a}\n'
                f'GROUP BY {name} ORDER BY 2 DESC</pre>')
        elif kind == 4:     # two blocks: rust hinted, go unhinted
            page = (
                f'<pre><code class="language-rust">fn {name}() {{\n'
                f'    let mut v = {a};\n    println!("{{}}", v);\n'
                f'}}</code></pre>{prose}'
                f'<pre>package main\n\nfunc {name}(n int) int {{\n'
                f'\tm := n + {b}\n\tfmt.Println(m)\n\treturn m\n}}</pre>')
        elif kind == 5:     # inline code only -> zero blocks
            page = (f'{prose}<p>Set <code>x = {a}</code> and '
                    f'<kbd>ctrl-c</kbd> to stop.</p>')
        elif kind == 6:     # css + html blocks, unhinted
            page = (
                f'<pre>.{name} {{ color: #00{a:02x}00; '
                f'margin: {b}px; }}</pre>{prose}'
                f'<pre>&lt;div class="{name}"&gt;\n'
                f'  &lt;p&gt;hello {a}&lt;/p&gt;\n&lt;/div&gt;</pre>')
        elif kind == 7:     # whitespace-only (dropped), prose block,
            # nested pre-in-pre (ONE block), json block
            page = (
                f'<pre>   \n\t</pre>'
                f'<pre>just {name} prose without signals {a}</pre>'
                f'<pre>outer {a}\n<pre>inner {b}</pre>\ntail</pre>'
                f'<pre>{{"{name}": [{a}, {b}], "ok": true}}</pre>'
                f'{prose}')
        elif kind == 8:     # alias hint cycle; <br> and markup inside
            hint = _CODE_ALIAS_HINTS[(i // 10) % len(_CODE_ALIAS_HINTS)]
            page = (
                f'{prose}<pre class="language-{hint}">'
                f'<span>line one {a}</span><br>'
                f'<b>line two {b}</b></pre>')
        else:               # kind == 9: empty payload -> no output row
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url,
                      "html": f"<html><body>{page}</body></html>"
                              .encode("utf-8")})
    return pages


def code_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the code_pages fixture set (url, html)."""
    return _pages_df(spark, code_pages(n, seed), num_partitions)


def image_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the image/figure
    extractor (extractor/figx.py): figure+figcaption pairs, bare imgs
    with/without alt (absent vs empty-decorative), lazy-load
    data-src, linked thumbnails, dimension attributes (valid, px
    suffix, zero, garbage), relative/protocol-relative URL
    resolution, nested figures, entity-bearing captions and alts,
    srcless imgs, imageless pages and empty payloads. Feeds
    fixtures/golden_images_seed42_n*.parquet, same isolation
    rationale as meta_pages."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 32452843, i)
        host = _HOSTS[(i * 48611) % len(_HOSTS)]
        kind = i % 12
        url = f"https://{host}/gallery/page-{i}"
        prose = f"<p>{_paragraph(rng, 1, 2)}</p>"
        a, b = rng.randrange(100), rng.randrange(2000)
        w1, w2 = rng.choice(_WORDS), rng.choice(_WORDS)
        if kind == 0:       # canonical figure + figcaption pair
            page = (
                f'{prose}<figure><img src="/img/{w1}-{a}.jpg" '
                f'alt="A {w1} near the {w2}">'
                f'<figcaption>Figure {a}: the {w1} &amp; the {w2}.'
                f'</figcaption></figure>')
        elif kind == 1:     # bare img, alt only, absolute URL
            page = (
                f'{prose}<img src="https://cdn.{host}/full/{a}.png" '
                f'alt="{w1} {w2} photo" width="{640 + b}" '
                f'height="{480 + a}">')
        elif kind == 2:     # lazy-load: empty src, data-src fallback
            page = (
                f'<img src="" data-src="//images.{host}/lazy/{a}.webp" '
                f'alt="lazy {w1}">{prose}')
        elif kind == 3:     # linked thumbnail (in_link), tiny dims
            page = (
                f'{prose}<a href="/post/{a}">'
                f'<img src="/thumb/{a}.jpg" alt="{w1}" width="48" '
                f'height="48"></a>')
        elif kind == 4:     # decorative alt="" vs absent alt
            page = (
                f'<img src="/decor/{a}.svg" alt="">'
                f'{prose}<img src="/plain/{b}.gif">')
        elif kind == 5:     # figure whose caption wraps markup +
            # a second img in the SAME figure shares the caption
            page = (
                f'<figure><img src="/pair/{a}-1.jpg">'
                f'<img src="/pair/{a}-2.jpg">'
                f'<figcaption><b>{w1}</b> meets <i>{w2}</i> '
                f'({a})</figcaption></figure>{prose}')
        elif kind == 6:     # nested figure: captions stay local
            page = (
                f'<figure><img src="/outer/{a}.jpg">'
                f'<figure><img src="/inner/{b}.jpg">'
                f'<figcaption>inner {w1}</figcaption></figure>'
                f'<figcaption>outer {w2}</figcaption></figure>')
        elif kind == 7:     # dimension-attr parsing rules
            page = (
                f'{prose}<img src="r-{a}.jpg" width="100px" '
                f'height="abc">'
                f'<img src="r-{b}.jpg" width="0" height=" 75 ">')
        elif kind == 8:     # title attr + entity-bearing alt
            page = (
                f'<img src="/t/{a}.jpeg" title="The &quot;{w1}&quot;" '
                f'alt="{w1} &amp; {w2}">{prose}')
        elif kind == 9:     # srcless img + img inside a table cell
            page = (
                f'{prose}<img alt="no source {a}">'
                f'<table><tr><td><img src="/cell/{b}.png" '
                f'alt="{w2} in cell"></td></tr></table>')
        elif kind == 10:    # no images at all
            page = prose
        else:               # kind == 11: empty payload -> no rows
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url,
                      "html": f"<html><body>{page}</body></html>"
                              .encode("utf-8")})
    return pages


def image_pages_df(spark, n: int, seed: int = 42,
                   num_partitions: int = 8):
    """Spark DataFrame of the image_pages fixture set (url, html)."""
    return _pages_df(spark, image_pages(n, seed), num_partitions)


def av_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the audio/video/
    embed extractor (extractor/avx.py): figured videos with captions,
    source-list fallbacks with MIME types, subtitle/caption tracks
    (kind defaulting, non-text kinds skipped), posters, YouTube/
    Vimeo/Dailymotion/self-hosted iframes with accessibility titles,
    nested figures, linked thumbnails, dimension edge cases, srcless
    elements, av-free pages and empty payloads. Feeds
    fixtures/golden_av_seed42_n*.parquet."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 49979687, i)
        host = _HOSTS[(i * 37199) % len(_HOSTS)]
        kind = i % 12
        url = f"https://{host}/watch/page-{i}"
        prose = f"<p>{_paragraph(rng, 1, 2)}</p>"
        a, b = rng.randrange(100), rng.randrange(2000)
        w1, w2 = rng.choice(_WORDS), rng.choice(_WORDS)
        vid = f"{w1[:3]}{a:02d}{w2[:3]}{b:03d}"
        if kind == 0:       # figured video + caption + track
            page = (
                f'{prose}<figure><video src="/media/{w1}-{a}.mp4" '
                f'poster="/thumbs/{a}.jpg">'
                f'<track kind="subtitles" src="/subs/{a}.vtt" '
                f'srclang="EN"></video>'
                f'<figcaption>Clip {a}: the {w1} &amp; the {w2}.'
                f'</figcaption></figure>')
        elif kind == 1:     # bare video, absolute URL, dims
            page = (
                f'{prose}<video src="https://cdn.{host}/v/{a}.webm" '
                f'poster="https://cdn.{host}/p/{a}.png" '
                f'width="{640 + b}" height="{360 + a}" '
                f'title="{w1} {w2} recording"></video>')
        elif kind == 2:     # srcless video, source-list fallback
            page = (
                f'<video><source src="/v/{a}.webm" '
                f'type="video/WebM"><source src="/v/{a}.mp4" '
                f'type="video/mp4"></video>{prose}')
        elif kind == 3:     # audio with own src
            page = (
                f'{prose}<audio src="//media.{host}/pod/{a}.mp3" '
                f'title="Episode {a}: {w1}"></audio>')
        elif kind == 4:     # audio via sources, empty title
            page = (
                f'<audio title=""><source src="/a/{a}.ogg" '
                f'type="audio/ogg"><source src="/a/{a}.m4a">'
                f'</audio>{prose}')
        elif kind == 5:     # youtube embed, titled, dims
            page = (
                f'{prose}<iframe '
                f'src="https://www.youtube.com/embed/{vid}?start={b}" '
                f'title="How the {w1} met the {w2}" width="560" '
                f'height="315"></iframe>')
        elif kind == 6:     # vimeo + dailymotion + self-hosted
            page = (
                f'<iframe src="https://player.vimeo.com/video/{a}{b}">'
                f'</iframe>{prose}'
                f'<iframe src="https://www.dailymotion.com/embed/'
                f'video/x{vid}" title="{w2} live"></iframe>'
                f'<iframe src="/widgets/map-{a}.html"></iframe>')
        elif kind == 7:     # nested figure: captions stay local
            page = (
                f'<figure><video src="/outer/{a}.mp4"></video>'
                f'<figure><video src="/inner/{b}.mp4"></video>'
                f'<figcaption>inner {w1}</figcaption></figure>'
                f'<figcaption>outer {w2}</figcaption></figure>')
        elif kind == 8:     # track selection rules
            page = (
                f'{prose}<video src="/t/{a}.mp4">'
                f'<track kind="chapters" src="/ch/{a}.vtt" '
                f'srclang="en">'
                f'<track kind="captions" srclang="de">'
                f'<track src="/subs/{a}-default.vtt">'
                f'<track kind="subtitles" src="/subs/{a}-fr.vtt" '
                f'srclang="fr"></video>')
        elif kind == 9:     # linked thumbnail + srcless video
            page = (
                f'{prose}<a href="/post/{a}"><video '
                f'src="/clip/{a}.mp4" width="120px" height="0">'
                f'</video></a><video title="coming soon"></video>')
        elif kind == 10:    # no av at all
            page = prose
        else:               # kind == 11: empty payload -> no rows
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url,
                      "html": f"<html><body>{page}</body></html>"
                              .encode("utf-8")})
    return pages


def av_pages_df(spark, n: int, seed: int = 42,
                num_partitions: int = 8):
    """Spark DataFrame of the av_pages fixture set (url, html)."""
    return _pages_df(spark, av_pages(n, seed), num_partitions)


def form_pages(n: int, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising the form extractor
    (extractor/formx.py): login/signup/search/contact/upload forms,
    method and type normalization, spec defaults (absent type ->
    text, typeless button -> submit), nested-form isolation,
    name-convention search boxes, checkbox/radio census, action URL
    resolution, formless pages and empty payloads. Feeds
    fixtures/golden_forms_seed42_n*.parquet."""
    pages: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 57885161, i)
        host = _HOSTS[(i * 28657) % len(_HOSTS)]
        kind = i % 12
        url = f"https://{host}/app/page-{i}"
        prose = f"<p>{_paragraph(rng, 1, 2)}</p>"
        a = rng.randrange(1000)
        w1 = rng.choice(_WORDS)
        if kind == 0:       # classic login
            page = (
                f'{prose}<form action="/login" method="post">'
                f'<input type="text" name="user{a}">'
                f'<input type="password" name="pw">'
                f'<button>Sign in</button></form>')
        elif kind == 1:     # signup: two passwords + email
            page = (
                f'<form action="/signup" method="POST">'
                f'<input type="email" name="mail">'
                f'<input type="password" name="pw1">'
                f'<input type="password" name="pw2">'
                f'<input type="submit" value="Join"></form>{prose}')
        elif kind == 2:     # search + newsletter
            page = (
                f'{prose}<form action="/find">'
                f'<input type="search" name="terms{a}"></form>'
                f'<form action="https://news.{host}/sub" '
                f'method="post"><input type="email" name="nl">'
                f'<button type="submit">Go</button></form>')
        elif kind == 3:     # contact: textarea + hidden + select
            page = (
                f'<form action="/contact" method="post">'
                f'<input type="hidden" name="csrf" value="{a}">'
                f'<input name="subject"><textarea name="msg">'
                f'{w1}</textarea><select name="dept"><option>x'
                f'</option></select><button type="submit">Send'
                f'</button></form>{prose}')
        elif kind == 4:     # upload, shouting attribute values
            page = (
                f'{prose}<form action="/upload" method="POST" '
                f'enctype="multipart/form-data">'
                f'<input type="FILE" name="doc">'
                f'<input type="submit"></form>')
        elif kind == 5:     # nested soup: inner controls stay inner
            page = (
                f'<form action="/outer"><input type="text" name="o">'
                f'<form action="/inner" method="post">'
                f'<input type="password" name="p"></form>'
                f'<input type="hidden" name="h{a}"></form>{prose}')
        elif kind == 6:     # name-convention search, absolute action
            page = (
                f'{prose}<form action="//cdn.{host}/s">'
                f'<input name="q"><button type="button">UI</button>'
                f'</form>')
        elif kind == 7:     # formless prose
            page = prose * 2
        elif kind == 8:     # button/method defaulting rules
            page = (
                f'<form method="WEIRD" action="/b-{a}">'
                f'<button type="BUTTON">nope</button>'
                f'<button type="submit">yes</button><button>also'
                f'</button></form>{prose}')
        elif kind == 9:     # checkbox/radio census, typeless input
            page = (
                f'{prose}<form action="/poll" method="dialog">'
                f'<input type="checkbox" name="c1">'
                f'<input type="radio" name="r">'
                f'<input type="radio" name="r">'
                f'<input name="other{a}"></form>')
        elif kind == 10:    # relative + empty action
            page = (
                f'<form action="submit.php" method="post">'
                f'<input type="text" name="t"></form>'
                f'<form action=""><input type="search" name="x">'
                f'</form>{prose}')
        else:               # kind == 11: empty payload -> no rows
            pages.append({"url": url, "html": None})
            continue
        pages.append({"url": url,
                      "html": f"<html><body>{page}</body></html>"
                              .encode("utf-8")})
    return pages


def form_pages_df(spark, n: int, seed: int = 42,
                  num_partitions: int = 8):
    """Spark DataFrame of the form_pages fixture set (url, html)."""
    return _pages_df(spark, form_pages(n, seed), num_partitions)


def idn_hosts(n: int, seed: int = 42) -> list[str]:
    """Deterministic host list exercising the IDN profile
    (extractor/idnx.py): plain ASCII, single- and multi-label
    punycode (Cyrillic/Greek/Han/Arabic/Hebrew words built with the
    encode half), mixed-script homographs (Latin brands with
    confusable Cyrillic letters), uppercase XN-- forms, invalid
    punycode, digit-only labels. Feeds
    fixtures/golden_idn_seed42_n*.parquet."""
    from .extractor.idnx import punycode_encode
    confus = {"a": "а", "e": "е", "o": "о",
              "p": "р", "c": "с"}
    pools = ((0x430, 0x44F), (0x3B1, 0x3C9), (0x4E00, 0x4E40),
             (0x627, 0x64A), (0x5D0, 0x5EA))
    hosts: list[str] = []
    for i in range(n):
        rng = _rng(seed * 86028121, i)
        w = rng.choice(_WORDS)
        kind = i % 8
        if kind == 0:           # plain ascii
            hosts.append(f"www.{w}{i}.example.com")
        elif kind == 1:         # single foreign-script label
            lo, hi = pools[i % len(pools)]
            label = "".join(chr(rng.randrange(lo, hi))
                            for _ in range(3 + rng.randrange(6)))
            hosts.append(f"xn--{punycode_encode(label)}.example")
        elif kind == 2:         # homograph: brand with confusables
            label = "".join(confus.get(c, c) if rng.random() < 0.6
                            else c for c in w)
            if label == w:      # force at least one substitution
                label = "а" + w[1:]
            hosts.append(f"xn--{punycode_encode(label)}.com")
        elif kind == 3:         # multi-label IDN
            lo, hi = pools[(i + 1) % len(pools)]
            a = "".join(chr(rng.randrange(lo, hi)) for _ in range(4))
            b = "".join(chr(rng.randrange(lo, hi)) for _ in range(3))
            hosts.append(f"xn--{punycode_encode(a)}."
                         f"xn--{punycode_encode(b)}.org")
        elif kind == 4:         # uppercase form (case-insensitivity)
            lo, hi = pools[i % len(pools)]
            label = "".join(chr(rng.randrange(lo, hi))
                            for _ in range(4))
            hosts.append(f"XN--{punycode_encode(label).upper()}"
                         f".{w}.NET")
        elif kind == 5:         # invalid punycode
            hosts.append(f"xn--{w}!!{i}.example")
        elif kind == 6:         # digit-only + hyphenated ascii
            hosts.append(f"{i}00.{w}-{w}.example.org")
        else:                   # ascii label that merely LOOKS idn-ish
            hosts.append(f"xn{w}.example")
    return hosts


def idn_hosts_df(spark, n: int, seed: int = 42,
                 num_partitions: int = 4):
    """Spark DataFrame (host string) of the idn_hosts fixture set."""
    return spark.createDataFrame(
        [(h,) for h in idn_hosts(n, seed)],
        "host string").repartition(num_partitions)


def _dhash_pattern(kind: int, w: int, h: int, seed: int) -> bytes:
    """Grayscale test pattern with a DISTINCT adjacent-difference sign
    structure per kind (dHash only sees those signs: any monotone ramp
    hashes identically, so distinctness needs direction/frequency
    variety, not slope variety) + mild seeded noise."""
    rng = _rng(seed, kind)
    out = bytearray()
    for y in range(h):
        for x in range(w):
            if kind == 0:                               # ramp right
                v = x * 255 // (w - 1)
            elif kind == 1:                             # ramp left
                v = 255 - x * 255 // (w - 1)
            elif kind == 2:                             # fine checker
                v = 255 * ((x * 6 // w + y * 4 // h) % 2)
            elif kind == 3:                             # coarse checker
                v = 255 * ((x * 2 // w + y * 2 // h) % 2)
            elif kind == 4:                             # sawtooth x3
                v = (x * 765 // w) % 256
            else:                                       # triangle wave y
                v = abs(((y * 510 // h) % 510) - 255)
            out.append(max(0, min(255, v + rng.randint(-6, 6))))
    return bytes(out)


def _dhash_patch(px: bytes, w: int, h: int, seed: int,
                 size: int = 6, delta: int = 60) -> bytes:
    """Brighten one small block — the watermark/logo-swap class of
    visual near-dup (flips only the hash bits whose 9x8 cells the
    patch touches)."""
    rng = _rng(seed, 7)
    b = bytearray(px)
    x0, y0 = rng.randrange(w - size), rng.randrange(h - size)
    for y in range(y0, y0 + size):
        for x in range(x0, x0 + size):
            i = y * w + x
            b[i] = max(0, min(255, b[i] + delta))
    return bytes(b)


def metadata_media_rows(seed: int = 42) -> list[tuple[str, bytes]]:
    """Deterministic media payloads with PLANTED embedded metadata for
    the exifx family: JPEGs with little- and big-endian EXIF
    (Exif/GPS sub-IFDs, rationals, unknown and UNDEFINED tags), PNGs
    with 0-2 tEXt chunks, GIFs with short and multi-block comments,
    and metadata-free / undecodable payloads (zero rows)."""
    from .extractor import exifx, imagex, jpegx
    rng = _rng(seed, 777)

    def jpeg_base(w: int, h: int) -> bytes:
        px = bytes((5 * x + 3 * y + c) % 256 for y in range(h)
                   for x in range(w) for c in range(3))
        return jpegx.encode_jpeg(px, w, h, 3)

    rows: list[tuple[str, bytes]] = []
    tiff_le = exifx.build_exif(
        [(0x010F, 2, "ACME"), (0x0110, 2, f"Cam {seed}"),
         (0x0112, 3, 6), (0x011A, 5, (72, 1)),
         (0x0132, 2, "2023:05:12 08:30:00")], "<",
        gps=[(0x0001, 2, "N"),
             (0x0002, 5, [(48, 1), (51, 1), (2922, 100)]),
             (0x0003, 2, "E"),
             (0x0004, 5, [(2, 1), (21, 1), (75, 10)])],
        exif_sub=[(0x9003, 2, "2023:05:11 23:59:59"),
                  (0xA002, 4, 4000), (0xA003, 4, 3000),
                  (0x9286, 7, bytes([1, 2, 255, 0, 7]))])
    rows.append(("m-jpg-le", exifx.splice_jpeg_exif(jpeg_base(24, 16),
                                                    tiff_le)))
    tiff_be = exifx.build_exif(
        [(0x010F, 2, "Bigendian Works"), (0x0112, 3, 1),
         (0x0128, 3, 2), (0x013B, 2, "bob"),
         (0x4747, 4, [7, 8, 9])], ">")
    rows.append(("m-jpg-be", exifx.splice_jpeg_exif(jpeg_base(16, 24),
                                                    tiff_be)))
    rows.append(("m-jpg-none", jpeg_base(8, 8)))

    png = imagex.make_test_png(12, 10, 3, seed=seed % 251)
    p2 = exifx.splice_png_text(png, "Author", "alice example")
    p2 = exifx.splice_png_text(p2, "Title", f"sunset {seed}")
    rows.append(("m-png-2", p2))
    rows.append(("m-png-1", exifx.splice_png_text(
        png, "Software", "hddps-spark")))
    rows.append(("m-png-none", png))

    gif = imagex.encode_gif(bytes((x + y) % 4 for y in range(9)
                                  for x in range(11)), 11, 9,
                            [(0, 0, 0), (80, 80, 80),
                             (160, 160, 160), (255, 255, 255)])
    rows.append(("m-gif-short", exifx.splice_gif_comment(
        gif, f"frame {seed} of the crawl")))
    long_comment = " ".join(rng.choice(_WORDS) for _ in range(90))
    rows.append(("m-gif-long", exifx.splice_gif_comment(
        gif, long_comment)))
    rows.append(("m-gif-none", gif))
    wav = imagex.make_wav(400, sample_rate=8000)
    rows.append(("m-wav-info", exifx.splice_wav_info(
        wav, [("IART", "alice example"), ("INAM", f"take {seed}"),
              ("ICMT", "field recording")])))
    rows.append(("m-wav-none", wav))
    rows.append(("m-mp4", exifx.build_mp4(
        "mp42", timescale=90000, duration=90000 * (30 + seed % 60),
        n_tracks=2)))
    from .extractor import soundx
    rows.append(("m-mp3-tagged", soundx.make_mp3(
        [("TIT2", f"Take {seed}"), ("TPE1", "Ana Béla"),
         ("TALB", "Field Recordings"), ("TYER", "2023")],
        n_frames=38, bitrate_kbps=128, sample_rate=44100)))
    rows.append(("m-mp3-bare", soundx.make_mp3(
        [], n_frames=11, bitrate_kbps=64, sample_rate=22050,
        mode=3, v2=True)))
    rows.append(("m-flac", soundx.make_flac(
        48000, 2, 24, 48000 * (7 + seed % 5),
        [("TITLE", f"song {seed}"), ("Artist", "bob example")])))
    rows.append(("m-ogg-vorbis", soundx.make_ogg_vorbis(2, 44100)))
    rows.append(("m-ogg-opus", soundx.make_ogg_opus(1, 312, 16000)))
    rows.append(("m-bad", b"not a media payload"))
    return rows


def metadata_media_df(spark, seed: int = 42, num_partitions: int = 4):
    """Spark DataFrame of metadata_media_rows (media_id, payload)."""
    return (spark.createDataFrame(metadata_media_rows(seed),
                                  "media_id string, payload binary")
            .repartition(num_partitions))


def dhash_media_rows(seed: int = 42) -> list[tuple[str, bytes]]:
    """Deterministic image set with PLANTED visual near-dups for the
    dHash family: six structurally-distinct patterns (pairwise >= 16
    bits apart), each with a patched near-twin (<= 2 bits), the k2
    checker re-encoded as a palette GIF (cross-format near-dup), a
    real baseline JPEG, and an undecodable payload (null hash)."""
    from .extractor import imagex, jpegx
    dims = [(36, 28, 1), (40, 24, 1), (36, 28, 1),
            (30, 30, 3), (48, 20, 3), (33, 27, 3)]
    rows: list[tuple[str, bytes]] = []
    for k, (w, h, ch) in enumerate(dims):
        gray = _dhash_pattern(k, w, h, seed)
        if ch == 1:
            base, patched = gray, _dhash_patch(gray, w, h, seed + k)
        else:
            pg = _dhash_patch(gray, w, h, seed + k)
            base = bytes(min(255, v + off)
                         for v in gray for off in (0, 5, 10))
            patched = bytes(min(255, v + off)
                            for v in pg for off in (0, 5, 10))
        rows.append((f"img{k}a", imagex.encode_png(base, w, h, ch)))
        rows.append((f"img{k}b", imagex.encode_png(patched, w, h, ch)))
    # cross-format: the k2 checker as a 8-level palette GIF
    w, h = 36, 28
    gray = _dhash_pattern(2, w, h, seed)
    rows.append(("gif2", imagex.encode_gif(
        bytes(v // 32 for v in gray), w, h,
        [(i * 32 + 16, i * 32 + 16, i * 32 + 16) for i in range(8)])))
    rgb = bytes(min(255, v + off)
                for v in _dhash_pattern(4, 48, 20, seed)
                for off in (0, 5, 10))
    rows.append(("jpg4", jpegx.encode_jpeg(rgb, 48, 20, 3)))
    rows.append(("bad0", b"not an image"))
    return rows


def dhash_media_df(spark, seed: int = 42, num_partitions: int = 4):
    """Spark DataFrame of the dhash_media_rows set (media_id, payload)."""
    return (spark.createDataFrame(dhash_media_rows(seed),
                                  "media_id string, payload binary")
            .repartition(num_partitions))


def svg_media_rows(n: int = 16, seed: int = 42) -> list[dict]:
    """Deterministic SVG payloads: (media_id, payload). Rotates px
    and unit-suffixed dims, viewBox-only sizing, percentage (relative)
    dims, title/desc accessibility text, nested tspan text, paths,
    an un-namespaced root, and junk/None rows (F5)."""
    from .extractor.svgx import make_svg
    out = []
    for i in range(n):
        rng = _rng(seed * 318611987, i)
        mid = f"svg{i}"
        k = i % 5
        if k == 0:
            payload = make_svg(width=str(100 + i * 10),
                               height=f"{60 + i * 5}px",
                               title=_sentence(rng, 2, 4),
                               texts=[_sentence(rng, 3, 5)],
                               n_paths=i % 4)
        elif k == 1:
            payload = make_svg(view_box=f"0 0 {320 + i}.5 {200 + i}",
                               desc=_sentence(rng, 4, 7),
                               texts=[_sentence(rng, 2, 4),
                                      _sentence(rng, 2, 4)],
                               n_paths=2)
        elif k == 2:
            payload = make_svg(width="100%", height="4em",
                               title=f"relative {i}",
                               namespaced=False)
        elif k == 3:
            payload = make_svg(width=str(24 + i), height=str(24 + i),
                               n_paths=5 + i % 3)
        else:
            payload = (None if i % 2 else b"<html><body>nope</body></html>")
        out.append({"media_id": mid, "payload": payload})
    return out


def wacz_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic synthetic WACZ containers: (url, payload).
    Cycles shard counts 1-3, manifests with/without title/mainPage,
    the three tamper modes the audit must flag (declared-bytes
    mismatch, sha256 mismatch, missing member), a zip WITHOUT
    indexes (zero captures, empty manifest view) and raw garbage
    (F5). Byte-deterministic builds (fixed DOS timestamps)."""
    import datetime as _dt
    import io
    import zipfile

    from .extractor.waczx import make_wacz
    out = []
    for i in range(n):
        rng = _rng(seed * 275604541, i)
        url = f"wacz://crawl-{i}"
        k = i % 6
        if k == 5:
            if i % 2:
                payload = _garbage(rng, i)
            else:
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    info = zipfile.ZipInfo("readme.txt",
                                           date_time=(1980, 1, 1,
                                                      0, 0, 0))
                    zf.writestr(info, "no indexes here")
                payload = buf.getvalue()
            out.append({"url": url, "payload": payload})
            continue
        recs = []
        for j in range(3 + i % 5):
            ts = _dt.datetime(2024, 1 + (i + j) % 12, 1 + j,
                              8 + j % 12, i % 60, j % 60,
                              tzinfo=_dt.timezone.utc)
            body = (f"<html><body><p>{_sentence(rng, 4, 9)}</p>"
                    f"<p>capture {i}-{j}</p></body></html>").encode()
            recs.append({"url": f"https://w{i}.example.com/p{j}",
                         "warc_ts": ts, "body": body,
                         "status": 200 if j % 4 else 301})
        tamper = {2: "bytes", 3: "hash", 4: "missing"}.get(k)
        payload = make_wacz(
            recs,
            title=None if k == 1 else f"Crawl {i}",
            main_url=(f"https://w{i}.example.com/p0"
                      if k == 0 else None),
            created=f"2024-0{1 + i % 9}-01T00:00:00Z",
            shards=1 + i % 3,
            tamper=tamper)
        out.append({"url": url, "payload": payload})
    return out


_STEM_WORDS = [
    # step 1 plurals / participles
    "caresses", "ponies", "ties", "cats", "feed", "agreed",
    "plastered", "bled", "motoring", "sing", "conflated",
    "troubled", "sized", "hopping", "tanned", "falling", "hissing",
    "fizzed", "failing", "filing", "happy", "sky", "crying",
    "flies", "dies", "abilities",
    # step 2 derivational
    "relational", "conditional", "rational", "valenci",
    "hesitanci", "digitizer", "conformabli", "radicalli",
    "differentli", "vileli", "analogousli", "vietnamization",
    "predication", "operator", "feudalism", "decisiveness",
    "hopefulness", "callousness", "formaliti", "sensitiviti",
    "sensibiliti", "organization", "generalization",
    # step 3
    "triplicate", "formative", "formalize", "electriciti",
    "electrical", "hopeful", "goodness", "duplicate",
    # step 4
    "revival", "allowance", "inference", "airliner", "gyroscopic",
    "adjustable", "defensible", "irritant", "replacement",
    "adjustment", "dependent", "adoption", "homologou",
    "communism", "activate", "angulariti", "effective",
    "bowdlerize", "probate", "rate", "cease", "controll", "roll",
    # longer pipelines
    "characterization", "traditionally", "computational",
    "responsibilities", "internationalization", "misunderstanding",
    "troubleshooting", "redistributed", "preprocessing",
    "tokenization", "deduplication", "normalizing", "extracted",
    "extraction", "crawling", "crawled", "parsers", "parsing",
]


def stem_texts(n: int = 40, seed: int = 42) -> list[dict]:
    """Deterministic paragraphs over a morphologically rich word
    list (each Porter step exercised several times), mixed with
    punctuation/case/digit noise the tokenizer must strip. Golden:
    fixtures/golden_stems_seed42.parquet (distinct word -> stem)."""
    import random

    rng = random.Random(seed)
    rows: list[dict] = []
    for i in range(n):
        k = 6 + i % 7
        words = [_STEM_WORDS[(i * 13 + j * 7) % len(_STEM_WORDS)]
                 for j in range(k)]
        deco = []
        for j, w in enumerate(words):
            if j % 5 == 1:
                w = w.capitalize()
            if j % 4 == 3:
                w = w + ","
            if j % 6 == 2:
                w = f"{w}-{rng.randrange(100)}"
            deco.append(w)
        rows.append({"url": f"https://text{i}.example.org/p{i}",
                     "text": " ".join(deco) + "."})
    return rows


def build_cfb(entries: list[tuple[str, bytes]]) -> bytes:
    """Minimal CFB (OLE2) container — the ENCODE half of
    extractor/cfbx.py. ``entries``: (path, data) streams in
    directory order; a path with one "/" nests the stream under a
    storage (created on first use). Version 3, 512-byte sectors,
    4096 mini cutoff: streams under the cutoff land in the
    ministream (64-byte mini sectors + miniFAT), larger ones in
    FAT sectors — both read paths exercised. Deterministic (all
    FILETIMEs zero)."""
    import struct

    SSZ, MSZ, CUTOFF = 512, 64, 4096
    FREE, EOC, FATS = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD

    # --- directory tree (flat sibling chains; color constant) ----
    # dir_entries: [name, kind, left, right, child, start, size]
    dir_entries: list[list] = [["Root Entry", 5, FREE, FREE, FREE,
                               EOC, 0]]
    storages: dict[str, int] = {}
    last_child_of: dict[int, int] = {}

    def attach(parent_idx: int, idx: int) -> None:
        if parent_idx in last_child_of:
            dir_entries[last_child_of[parent_idx]][3] = idx
        else:
            dir_entries[parent_idx][4] = idx
        last_child_of[parent_idx] = idx

    stream_idx: list[tuple[int, bytes]] = []
    for path, data in entries:
        parent = 0
        name = path
        if "/" in path:
            sname, name = path.split("/", 1)
            if sname not in storages:
                sidx = len(dir_entries)
                dir_entries.append([sname, 1, FREE, FREE, FREE,
                                    EOC, 0])
                attach(0, sidx)
                storages[sname] = sidx
            parent = storages[sname]
        idx = len(dir_entries)
        dir_entries.append([name, 2, FREE, FREE, FREE, EOC,
                            len(data)])
        attach(parent, idx)
        stream_idx.append((idx, data))

    # --- mini stream + miniFAT ------------------------------------
    mini_parts: list[bytes] = []
    minifat: list[int] = []
    for idx, data in stream_idx:
        if not data or len(data) >= CUTOFF:
            continue
        n = (len(data) + MSZ - 1) // MSZ
        start = len(minifat)
        for i in range(n):
            mini_parts.append(data[i * MSZ:(i + 1) * MSZ]
                              .ljust(MSZ, b"\x00"))
            minifat.append(start + i + 1 if i < n - 1 else EOC)
        dir_entries[idx][5] = start
    ministream = b"".join(mini_parts)
    dir_entries[0][6] = len(ministream)

    # --- sector layout: FAT | directory | miniFAT | ministream |
    # big streams --------------------------------------------------
    def nsec(nbytes: int) -> int:
        return (nbytes + SSZ - 1) // SSZ

    dirdata = b""  # built later; count entries now
    n_dir = nsec(len(dir_entries) * 128)
    mfat_bytes = b"".join(struct.pack("<I", x) for x in minifat)
    n_mfat = nsec(len(mfat_bytes)) if minifat else 0
    n_mini = nsec(len(ministream))
    bigs = [(idx, data) for idx, data in stream_idx
            if data and len(data) >= CUTOFF]
    n_big = sum(nsec(len(d)) for _, d in bigs)
    rest = n_dir + n_mfat + n_mini + n_big
    n_fat = 1
    while 128 * n_fat < n_fat + rest:
        n_fat += 1
    assert n_fat <= 109, "fixture container too large"

    fat: list[int] = [FATS] * n_fat
    pos = n_fat

    def chain(n: int) -> int:
        nonlocal pos
        start = pos
        for i in range(n):
            fat.append(start + i + 1 if i < n - 1 else EOC)
        pos += n
        return start

    first_dir = chain(n_dir)
    first_mfat = chain(n_mfat) if n_mfat else EOC
    mini_start = chain(n_mini) if n_mini else EOC
    if n_mini:
        dir_entries[0][5] = mini_start
    for idx, data in bigs:
        dir_entries[idx][5] = chain(nsec(len(data)))
    fat += [FREE] * (128 * n_fat - len(fat))

    # --- serialize ------------------------------------------------
    def dirent(e) -> bytes:
        name, kind, left, right, child, start, size = e
        raw = name.encode("utf-16-le")[:62]
        out = bytearray(128)
        out[0:len(raw)] = raw
        struct.pack_into("<H", out, 64, len(raw) + 2)
        out[66] = kind
        out[67] = 1  # black
        struct.pack_into("<III", out, 68, left, right, child)
        struct.pack_into("<I", out, 116,
                         start if start != EOC else EOC)
        struct.pack_into("<Q", out, 120, size)
        return bytes(out)

    dirdata = b"".join(dirent(e) for e in dir_entries)
    body = (b"".join(struct.pack("<I", x) for x in fat)
            + dirdata.ljust(n_dir * SSZ, b"\x00")
            + mfat_bytes.ljust(n_mfat * SSZ, b"\x00")
            + ministream.ljust(n_mini * SSZ, b"\x00")
            + b"".join(d.ljust(nsec(len(d)) * SSZ, b"\x00")
                       for _, d in bigs))
    hdr = bytearray(512)
    hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", hdr, 24, 0x003E)   # minor
    struct.pack_into("<H", hdr, 26, 3)        # major
    struct.pack_into("<H", hdr, 28, 0xFFFE)   # byte order
    struct.pack_into("<H", hdr, 30, 9)        # sector shift
    struct.pack_into("<H", hdr, 32, 6)        # mini shift
    struct.pack_into("<I", hdr, 44, n_fat)
    struct.pack_into("<I", hdr, 48, first_dir)
    struct.pack_into("<I", hdr, 56, CUTOFF)
    struct.pack_into("<I", hdr, 60, first_mfat)
    struct.pack_into("<I", hdr, 64, n_mfat)
    struct.pack_into("<I", hdr, 68, EOC)      # no DIFAT sectors
    struct.pack_into("<I", hdr, 72, 0)
    for i in range(109):
        struct.pack_into("<I", hdr, 76 + 4 * i,
                         i if i < n_fat else FREE)
    return bytes(hdr) + body


def _ppt_rec(rtype: int, payload: bytes, ver: int = 0,
             inst: int = 0) -> bytes:
    import struct
    return struct.pack("<HHI", (inst << 4) | ver, rtype,
                       len(payload)) + payload


def _ppt_container(rtype: int, children: list[bytes],
                   inst: int = 0) -> bytes:
    return _ppt_rec(rtype, b"".join(children), ver=0xF, inst=inst)


def cfb_file_rows(seed: int = 42) -> list[dict]:
    """Deterministic legacy-office CFB files (url, payload) — the
    ENCODE half of extractor/cfbx.py. Shapes: a .ppt (nested record
    containers, TextCharsAtom UTF-16 + TextBytesAtom latin-1 +
    CString, a >=4 KB padding stream exercising the FAT read path
    and a nested storage), a .doc (FIB + piece table: cp1252 piece
    + UTF-16 piece + a Prc to skip, 1Table), a 0Table .doc, a
    truncated container, junk. Golden:
    fixtures/golden_cfb_seed42_n6.parquet."""
    import struct

    rows: list[dict] = []

    def add(name, blob):
        rows.append({
            "url": f"https://archive{len(rows)}.example.org/{name}",
            "payload": blob})

    # --- .ppt ------------------------------------------------------
    slide1 = _ppt_container(0x03EE, [   # SlideContainer-ish
        _ppt_rec(0x0FA0, "Quarterly crawl report"
                 .encode("utf-16-le")),
        _ppt_rec(0x0FA8, b"Bullet one: coverage is up"),
    ])
    slide2 = _ppt_container(0x03EE, [
        _ppt_rec(0x0FA8, b"Second slide text"),
        _ppt_rec(0x0FBA, "https://example.org/link"
                 .encode("utf-16-le")),
        _ppt_rec(0x0FA0, "Résumé — unicode"
                 .encode("utf-16-le")),
    ])
    doc_cont = _ppt_container(0x03E8, [slide1, slide2])
    from .extractor.olepsx import build_property_set
    ppt_summary = build_property_set([
        (2, "lpstr", "Quarterly crawl report"),
        (4, "lpwstr", "Ana Gómez"),
        (12, "filetime", "2003-05-17T09:30:00Z"),
        (7, "lpstr", "blank.pot"),
        (18, "lpstr", "Microsoft PowerPoint"),
    ])
    ppt_docsummary = build_property_set([
        (7, "i4", 2),                 # n_slides
        (15, "lpstr", "Example Org"),
    ], fmtid=b"\x02\xd5\xcd\xd5\x9c\x2e\x1b\x10"
             b"\x93\x97\x08\x00\x2b\x2c\xf9\xae")
    ppt = build_cfb([
        ("PowerPoint Document", doc_cont),
        ("Current User", b"\x00" * 24),
        ("Pictures", b"\x89PNG" + b"\x00" * 5000),  # FAT-path stream
        ("Macros/VBA_code", b"Sub Noop()\nEnd Sub\n"),
        ("\x05SummaryInformation", ppt_summary),
        ("\x05DocumentSummaryInformation", ppt_docsummary),
    ])
    add("deck.ppt", ppt)

    # --- .doc (1Table, cp1252 + utf16 pieces, one Prc) -------------
    text_a = "Legacy Word text, part one. "     # cp1252 piece
    text_b = "Part two — unicode é."  # utf-16 piece
    ccp = len(text_a) + len(text_b)
    word = bytearray(0x600)
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 2, 0x00C1)     # nFib Word97
    struct.pack_into("<H", word, 0x0A, 0x0200)  # fWhichTblStm -> 1Table
    struct.pack_into("<i", word, 0x4C, ccp)
    a_off = 0x300
    word[a_off:a_off + len(text_a)] = text_a.encode("cp1252")
    b_off = 0x400
    enc_b = text_b.encode("utf-16-le")
    word[b_off:b_off + len(enc_b)] = enc_b
    cps = [0, len(text_a), ccp]
    pcd_a = struct.pack("<HIH", 0, (a_off * 2) | 0x40000000, 0)
    pcd_b = struct.pack("<HIH", 0, b_off, 0)
    plc = b"".join(struct.pack("<I", c) for c in cps) + pcd_a + pcd_b
    clx = (b"\x01" + struct.pack("<h", 2) + b"\x00\x00"   # Prc skip
           + b"\x02" + struct.pack("<I", len(plc)) + plc)
    fc_clx = 0x80
    struct.pack_into("<I", word, 0x01A2, fc_clx)
    struct.pack_into("<I", word, 0x01A6, len(clx))
    table = b"\x00" * fc_clx + clx
    doc_summary = build_property_set([
        (2, "lpstr", "Internal memo"),
        (4, "lpstr", "J. Archivist"),
        (12, "filetime", "1999-11-03T14:05:09Z"),
        (13, "filetime", "2001-02-28T23:59:58Z"),
        (14, "i4", 1),
        (15, "i4", 9),                # n_words
        (18, "lpstr", "Microsoft Word 8.0"),
    ])
    doc = build_cfb([
        ("WordDocument", bytes(word)),
        ("1Table", table),
        ("\x05SummaryInformation", doc_summary),
    ])
    add("memo.doc", doc)

    # --- .doc variant: 0Table (flag clear), single cp1252 piece ----
    t0 = "Zero-table document body.\rSecond paragraph."
    word0 = bytearray(0x600)
    struct.pack_into("<H", word0, 0, 0xA5EC)
    struct.pack_into("<H", word0, 2, 0x00C1)
    struct.pack_into("<i", word0, 0x4C, len(t0))
    off0 = 0x280
    word0[off0:off0 + len(t0)] = t0.encode("cp1252")
    plc0 = (struct.pack("<II", 0, len(t0))
            + struct.pack("<HIH", 0, (off0 * 2) | 0x40000000, 0))
    clx0 = b"\x02" + struct.pack("<I", len(plc0)) + plc0
    table0 = b"\x00" * 0x40 + clx0
    struct.pack_into("<I", word0, 0x01A2, 0x40)
    struct.pack_into("<I", word0, 0x01A6, len(clx0))
    doc0 = build_cfb([
        ("WordDocument", bytes(word0)),
        ("0Table", table0),
    ])
    add("note.doc", doc0)

    # plain container, neither ppt nor doc (directory-only rows)
    plain = build_cfb([
        ("Contents", b"generic ole payload"),
        ("\x05SummaryInformation", b"\xfe\xff" + b"\x00" * 40),
    ])
    add("thing.ole", plain)

    add("cut.ppt", ppt[:700])           # truncated mid-directory
    add("junk.bin", b"not a compound file at all")
    return rows
