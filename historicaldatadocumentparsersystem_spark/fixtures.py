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


def adversarial_html_pages(n: int, seed: int = 42) -> list[bytes]:
    """Test-only adversarial page generator (FIXTURES class-3 stress):
    deeply-nested, entity-heavy, rawtext-with-markup, quote-abused and
    truncated pages for the fast-scanner vs html.parser A/B harness.

    Deliberately SEPARATE from make_row: the golden parquet pins
    generate_rows at scale=1, and these pages exist to hunt parser
    divergences, not to move the pinned corpus.
    """
    pages: list[bytes] = []
    for i in range(n):
        rng = _rng(seed * 7919, i)
        kind = i % 8
        body: str
        if kind == 0:                       # deep nesting, half unclosed
            depth = rng.randint(30, 120)
            tags = [rng.choice(["div", "span", "section", "b", "ul", "li"])
                    for _ in range(depth)]
            open_ = "".join(f"<{t} class=c{j % 5}>"
                            for j, t in enumerate(tags))
            close = "".join(f"</{t}>" for t in reversed(tags[depth // 2:]))
            body = open_ + _paragraph(rng, 1, 2) + close
        elif kind == 1:                     # entity storm + charrefs
            # NOTE no bogus ("&#;") or ';'-less ("&#65") charrefs here:
            # on those, stdlib html.parser breaks out of its goahead
            # loop and close() flushes the REST OF THE DOCUMENT as raw
            # data (closing tags swallowed) — the fast scanner's
            # keep-parsing behavior is the HTML5-correct one, so the
            # strict A/B only covers inputs where html.parser is itself
            # well-behaved; test_bogus_charref_fast_scanner_keeps_parsing
            # pins ours. ';'-less ENTITY refs ("&amp") are fine.
            ents = ["&amp;", "&lt;", "&gt;", "&quot;", "&eacute;",
                    "&#65;", "&#x2603;", "&amp", "&unknown;", "&#x41;"]
            body = "<p>" + " ".join(rng.choice(ents) for _ in range(80)) \
                + _sentence(rng) + "</p>"
        elif kind == 2:                     # rawtext containing markup
            body = ("<script>var a = '<div><p>not real</p>' && 1 < 2;"
                    "</script><style>p>a{color:red}</style>"
                    f"<textarea><b>{_sentence(rng)}</b></textarea>"
                    f"<p>{_paragraph(rng, 2, 3)}</p>")
        elif kind == 3:                     # attribute quote abuse
            # quoted values containing '>' are in the A/B contract;
            # garbage AFTER a closed quote (title='it''s > x') is not:
            # HTML5/html.parser re-enter before-attribute-name and end
            # the tag at the next '>', the one-regex scanner cannot
            body = ("<div class=\"a > b\" id='x > y'>"
                    f"<p title='its > fine'>{_paragraph(rng, 1, 3)}</p>"
                    "<a href=http://e.com/x?a=1&b=2 class=link>t</a></div>")
        elif kind == 4:                     # stray closers + autoclose
            body = ("</p></div></li>"
                    + "".join(f"<li>{_sentence(rng)}"
                              for _ in range(rng.randint(3, 9)))
                    + f"<p>{_sentence(rng)}<p>{_sentence(rng)}</ul>")
        elif kind == 5:                     # comments / CDATA / doctype
            # terminated forms only: an UNTERMINATED comment runs to
            # EOF per HTML5 (the scanner's reading) but html.parser
            # flushes it as text data on close() — pinned separately in
            # test_unterminated_comment_runs_to_eof
            body = ("<!-- normal --><![CDATA[<p>raw</p>]]>"
                    f"<em>{_sentence(rng)}</em><!-- x -->"
                    if rng.random() < 0.5 else
                    "<!DOCTYPE html><!--x--><?php echo 1 ?>"
                    f"<p>{_paragraph(rng, 1, 3)}</p>")
        elif kind == 6:                     # mixed-case + void tags
            body = (f"<DIV CLASS=Content><P>{_sentence(rng)}<BR/>"
                    f"<IMG src=x.png><Hr>{_sentence(rng)}</P></DIV>")
        else:                               # truncated mid-tag / mid-ent
            full = (f"<div class=content><p>{_paragraph(rng, 2, 4)}</p>"
                    f"<a href='/x'>{_sentence(rng)}</a></div>")
            cut = rng.randint(len(full) // 2, len(full) - 1)
            body = full[:cut]
        pages.append((f"<html><head><title>adv {i}</title></head>"
                      f"<body>{body}</body></html>").encode("utf-8"))
    return pages


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


def opml_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic OPML subscription lists: (url, payload).
    Cycles flat lists, nested category folders (entities in titles),
    single-quoted attributes, feeds-with-children, gzip-compressed
    files, and every 5th row is a feed-less payload (folders only or
    garbage) that must yield zero rows (F5)."""
    from .extractor.feedx import build_opml
    out = []
    for i in range(n):
        rng = _rng(seed * 179424673, i)
        kind = i % 5
        url = f"opml://list-{i}"

        def feed(tag: str) -> dict:
            host = _HOSTS[rng.randrange(len(_HOSTS))]
            return {"title": f"{tag} {rng.choice(_WORDS)}",
                    "xml_url": f"https://{host}/{tag}/feed-{i}.xml",
                    "html_url": (f"https://{host}/{tag}/"
                                 if rng.random() < 0.5 else None)}
        if kind == 0:           # flat list
            payload = build_opml([feed("flat") for _ in range(3 + i % 3)])
        elif kind == 1:         # nested folders + entity titles
            payload = build_opml([
                ("News & <Politics>", [feed("news"), feed("politics")]),
                ("Tech", [("Data \"Eng\"", [feed("data")]),
                          feed("tech")]),
                feed("root")])
        elif kind == 2:         # single-quoted attrs, hand-built
            raw = ("<opml version='1.0'><body>"
                   f"<outline text='Hand &amp; Made'>"
                   f"<outline title='only-title' type='rss' "
                   f"xmlUrl='https://h{i}.example.org/a.rss'/>"
                   "</outline>"
                   f"<outline text='' xmlUrl='https://h{i}.example.org/"
                   "b.rss'></outline></body></opml>")
            payload = raw.encode("utf-8")
        elif kind == 3:         # gzip whole file
            payload = build_opml(
                [("Podcasts", [feed("pod") for _ in range(2 + i % 2)])],
                gzip_file=True)
        else:                   # kind == 4: zero feed rows
            payload = (build_opml([("Empty Folder", [])])
                       if i % 2 else _garbage(rng, i))
        out.append({"url": url, "payload": payload})
    return out


def subtitle_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic subtitle files: (url, payload). Cycles
    SRT and WebVTT shapes — tags/entities, index-less and dot-milli
    SRT blocks, VTT header metadata + NOTE/STYLE blocks + cue
    settings + hour-less stamps — across utf-8, cp1252 and utf-16le
    encodings; every 6th row is a cue-less payload that must yield
    zero rows (F5)."""
    out = []
    for i in range(n):
        rng = _rng(seed * 122949823, i)
        kind = i % 6
        url = f"sub://file-{i}"

        def stamp(ms: int, sep: str = ",") -> str:
            h, rem = divmod(ms, 3600000)
            m, rem = divmod(rem, 60000)
            s, mmm = divmod(rem, 1000)
            return f"{h:02d}:{m:02d}:{s:02d}{sep}{mmm:03d}"

        t0 = 500 + (i % 7) * 950
        cues = []
        for c in range(2 + i % 4):
            dur = 1200 + ((i + c) % 5) * 700
            cues.append((t0, t0 + dur, _sentence(rng, 3, 8)))
            t0 += dur + 300
        if kind == 0:           # SRT with tags + entities, cp1252 half
            blocks = [f"{c + 1}\n{stamp(a)} --> {stamp(b)}\n"
                      f"<i>{t}</i> &amp; fin"
                      for c, (a, b, t) in enumerate(cues)]
            enc = "cp1252" if i % 2 else "utf-8"
            payload = ("\n\n".join(blocks) + "\n").encode(enc)
        elif kind == 1:         # VTT: metadata header, NOTE, settings
            blocks = ["WEBVTT - fixture\nKind: captions",
                      "NOTE synthetic\ncomment lines"]
            blocks += [f"cue-{c}\n{stamp(a, '.')} --> {stamp(b, '.')} "
                       f"align:start\n<v Spk>{t}</v>"
                       for c, (a, b, t) in enumerate(cues)]
            payload = ("\n\n".join(blocks) + "\n").encode("utf-8")
        elif kind == 2:         # SRT index-less, dot millis, overlaps
            blocks = [f"{stamp(a, '.')} --> {stamp(max(b - 800, a), '.')}"
                      f"\n{t}\nsecond line"
                      for (a, b, t) in cues]
            payload = ("\n\n".join(blocks) + "\n").encode("utf-8")
        elif kind == 3:         # VTT hour-less + STYLE, utf-16le half
            def short(ms: int) -> str:
                m, rem = divmod(ms, 60000)
                s, mmm = divmod(rem, 1000)
                return f"{m:02d}:{s:02d}.{mmm:03d}"
            blocks = ["WEBVTT", "STYLE\n::cue { color: red }"]
            blocks += [f"{short(a)} --> {short(b)}\n<c.y>{t}</c>"
                       for (a, b, t) in cues]
            raw = "\n\n".join(blocks) + "\n"
            payload = (b"\xff\xfe" + raw.encode("utf-16-le")
                       if i % 2 else raw.encode("utf-8"))
        elif kind == 4:         # SRT + garbage blocks + empty cues
            blocks = []
            for c, (a, b, t) in enumerate(cues):
                blocks.append(f"{c + 1}\n{stamp(a)} --> {stamp(b)}\n{t}")
                blocks.append("not a cue\nstill not one")
                blocks.append(f"{c + 90}\n{stamp(b)} --> "
                              f"{stamp(b + 100)}\n<i></i>")
            payload = ("\n\n".join(blocks) + "\n").encode("utf-8")
        else:                   # kind == 5: no cues -> zero rows
            payload = _garbage(rng, i)
        out.append({"url": url, "payload": payload})
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
    reason as adversarial_html_pages: the golden extraction parquet
    pins generate_rows, and these pages feed their own golden
    (fixtures/golden_meta_seed42_n*.parquet)."""
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


def paging_pages(n_articles: int = 24, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising pagination-chain
    stitching (rel=next/prev link chains -> multi-page articles):
    articles of 1-4 parts with absolute next/prev links, every 9th
    article's chain BROKEN (next points to a never-emitted url — the
    walk must stop, not fail), plus a head feeding into a 2-cycle
    (the stitcher's depth cap + first-visit dedup path) and a pure
    2-cycle with no head (unreachable, dropped entirely). Feeds its
    own golden (fixtures/golden_paging_seed42_*.parquet), same
    rationale as meta_pages."""
    pages: list[dict] = []

    def page(url: str, title: str, body: str, nxt: str | None,
             prv: str | None) -> dict:
        links = ""
        if nxt:
            links += f'<link rel="next" href="{nxt}">'
        if prv:
            links += f'<link rel="prev" href="{prv}">'
        html = (f"<html><head><title>{title}</title>{links}</head>"
                f"<body>{body}</body></html>")
        return {"url": url, "html": html.encode("utf-8")}

    for a in range(n_articles):
        rng = _rng(seed * 75403, a)
        host = _HOSTS[(a * 40503) % len(_HOSTS)]
        k = 1 + a % 4
        urls = [f"https://{host}/paging/a{a}/part-{p}" for p in range(k)]
        broken = a % 9 == 4
        for p in range(k):
            nxt = urls[p + 1] if p + 1 < k else None
            if broken and p == 0 and k > 1:
                nxt = f"https://{host}/paging/a{a}/gone"
            prv = urls[p - 1] if p > 0 else None
            body = "".join(f"<p>{_paragraph(rng, 1, 3)}</p>"
                           for _ in range(2))
            pages.append(page(urls[p], f"Article {a} part {p}", body,
                              nxt, prv))
    rng = _rng(seed * 75403, n_articles)
    host = _HOSTS[0]
    c = [f"https://{host}/paging/cycle/{x}" for x in ("head", "c1", "c2",
                                                     "d1", "d2")]
    body = f"<p>{_paragraph(rng, 1, 2)}</p>"
    pages.append(page(c[0], "cycle head", body, c[1], None))
    pages.append(page(c[1], "cycle one", body, c[2], c[0]))
    pages.append(page(c[2], "cycle two", body, c[1], c[1]))
    pages.append(page(c[3], "orphan cycle a", body, c[4], c[4]))
    pages.append(page(c[4], "orphan cycle b", body, c[3], c[3]))
    return pages


def paging_pages_df(spark, n_articles: int = 24, seed: int = 42,
                    num_partitions: int = 8):
    """Spark DataFrame of the paging_pages fixture set (url, html)."""
    return _pages_df(spark, paging_pages(n_articles, seed),
                     num_partitions)


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


def _afp_envelope(kind: int) -> list[int]:
    """65-window amplitude envelope with a DISTINCT adjacent-delta
    sign structure per kind (afp64 only sees loudness-ordering, so
    distinctness needs direction/frequency variety — the
    _dhash_pattern rationale in the time domain)."""
    env = []
    for k in range(65):
        if kind == 0:                               # ramp up
            v = 200 + k * 180
        elif kind == 1:                             # ramp down
            v = 200 + (64 - k) * 180
        elif kind == 2:                             # strict alternation
            v = 3000 if k % 2 == 0 else 800
        elif kind == 3:                             # period-4 checker
            v = 2600 if (k // 2) % 2 == 0 else 700
        elif kind == 4:                             # mod-13 sawtooth
            v = 300 + (k * 5 % 13) * 900
        else:                                       # triangle
            v = 300 + abs(32 - k) * 250
        env.append(v)
    return env


def _afp_wave(env: list[int], m: int = 96,
              sample_rate: int = 8000) -> bytes:
    """Window-ALIGNED 16-bit mono WAV: 65 windows x m samples, every
    sample alternating +-env[k] (period 2), so window k's energy is
    exactly m*env[k]^2 — afp64 bit signs equal the envelope's
    adjacent-delta signs, and re-rendering at (2m, 2*rate) yields the
    IDENTICAL fingerprint (boundaries are relative)."""
    import io
    import struct
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = bytearray()
        for k, amp in enumerate(env):
            for i in range(m):
                v = amp if i % 2 == 0 else -amp
                frames += struct.pack("<h", v)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def audio_fp_rows(seed: int = 42) -> list[tuple[str, bytes]]:
    """Deterministic WAV set with PLANTED acoustic near-dups for the
    audio-fingerprint family: six envelope kinds (pairwise well
    separated), each with an adjacent-window-swap near-twin (<= 4
    bits), the kind-2 checker re-rendered at double rate AND double
    window length (cross-rate EXACT dup — afp64 is rate-relative),
    and an undecodable payload (null fingerprint)."""
    rows: list[tuple[str, bytes]] = []
    for k in range(6):
        env = _afp_envelope(k)
        twin = list(env)
        j = next(j for j in range(32, 64) if env[j] != env[j + 1])
        twin[j], twin[j + 1] = twin[j + 1], twin[j]
        rows.append((f"au{k}a", _afp_wave(env)))
        rows.append((f"au{k}b", _afp_wave(twin)))
    rows.append(("au2x", _afp_wave(_afp_envelope(2), m=192,
                                   sample_rate=16000)))
    rows.append(("aubad", b"RIFFnot-really-a-wav" + bytes(seed % 7)))
    return rows


def audio_fp_df(spark, seed: int = 42, num_partitions: int = 4):
    """Spark DataFrame (media_id, payload) of the audio_fp fixture."""
    return spark.createDataFrame(
        audio_fp_rows(seed), "media_id string, payload binary"
    ).repartition(num_partitions)


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


# --- PII fixture texts --------------------------------------------------------

def _luhn_complete(prefix: str) -> str:
    """Append the Luhn check digit to a digits-only prefix."""
    total = 0
    n = len(prefix) + 1
    for i, ch in enumerate(prefix):
        d = ord(ch) - 48
        if (n - i - 1) % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return prefix + str((10 - total % 10) % 10)


def pii_texts(n: int = 160, seed: int = 42) -> list[dict]:
    """Deterministic (url, text) rows exercising the PII family
    (extractor/piix.py + operators/pii.py): valid and Luhn-failing
    cards (formatted and bare), in-range and out-of-range IPv4,
    international and US phones, tagged/uppercase emails, plus the
    negatives every engine must agree on (version strings, dates,
    obfuscated emails, over-long digit runs, clean and empty docs).

    ASCII-adjacency invariant: no non-ASCII character ever touches a
    digit run — Python's \\b is Unicode-aware while Java's and RE2's
    are ASCII, so fixtures stay inside the common subset (non-ASCII
    words appear only space-separated from PII).  Committed as
    fixtures/pii_texts_seed42_n160.parquet so the DuckDB oracle reads
    the same input table."""
    rows: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 2000003, i)
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        url = f"https://{host}/pii/doc-{i}"
        parts = [_sentence(rng, 4, 9)]
        k = i % 10
        if k == 0:
            user = f"{rng.choice(_WORDS)}.{rng.choice(_WORDS)}{i}"
            parts.append(f"Contact {user}@{host} or café staff "
                         f"by phone +44 20 7946 {1000 + i % 9000} today.")
        elif k == 1:
            g = _luhn_complete(f"411111{i % 10}{(i * 7) % 10}"
                               f"{(i * 3) % 10}000000")
            card = f"{g[:4]}-{g[4:8]}-{g[8:12]}-{g[12:16]}"
            parts.append(f"Invoice paid with card {card} on file.")
        elif k == 2:
            good = _luhn_complete(f"540000{i % 10}00000000{(i * 7) % 10}"[:15])
            bad16 = good[:-1] + str((int(good[-1]) + 1) % 10)
            parts.append(f"Primary {good} listed; typo copy "
                         f"{bad16[:4]} {bad16[4:8]} {bad16[8:12]} "
                         f"{bad16[12:16]} rejected.")
        elif k == 3:
            parts.append(f"Origin server 10.{i % 200}.{(i * 3) % 256}."
                         f"{(i * 7) % 256} replaced the bogus probe "
                         f"10.0.{300 + i % 600}.1 in the log.")
        elif k == 4:
            parts.append(f"Support line {200 + i % 700}-"
                         f"{100 + i % 800}-{1000 + i % 9000}; short code "
                         f"+12 34 ignored; release v1.2.3.4 shipped.")
        elif k == 5:
            parts.append(f"Mail {rng.choice(_WORDS)}+tag{i}@"
                         f"{host.upper()} or reach admin at "
                         f"{rng.choice(_WORDS)} dot example dot com.")
        elif k == 6:
            addr = f"{rng.choice(_WORDS)}{i}@{host}"
            c13 = _luhn_complete(f"4{i % 10}0000000000"[:12])
            parts.append(f"Both {addr} and {addr} route to billing; "
                         f"legacy card {c13} retired.")
        elif k == 7:
            parts.append(f"Batch id {10 ** 19 + i} ran on 2026-08-"
                         f"{10 + i % 19} under build 1.2.{i % 9}.")
        elif k == 8:
            parts.append(_paragraph(rng, 2, 4))
        else:
            rows.append({"url": url, "text": ""})
            continue
        parts.append(_sentence(rng, 3, 8))
        rows.append({"url": url, "text": " ".join(parts)})
    return rows


def pii_texts_df(spark, n: int = 160, seed: int = 42,
                 num_partitions: int = 8):
    """Spark DataFrame of the pii_texts fixture set (url, text)."""
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("text", StringType(), False),
    ])
    return (spark.createDataFrame(
        [(r["url"], r["text"]) for r in pii_texts(n, seed)], schema)
        .repartition(num_partitions))


# --- Jupyter notebook fixture files -------------------------------------------

def ipynb_file_rows(n: int = 30, seed: int = 42) -> list[dict]:
    """Deterministic synthetic .ipynb files: (url, payload). Rotates
    the serializations a crawl meets: v4 python with list sources and
    stream/execute_result outputs, v4 julia with string sources, a raw
    cell and an error output, v4 r declared via language_info only,
    v3 worksheets with prompt_number and per-cell language, a JSON
    payload that is NOT a notebook, an empty-cells notebook (parses,
    zero rows), and garbage/None payloads (F5)."""
    from .extractor.ipynbx import make_ipynb
    out = []
    for i in range(n):
        rng = _rng(seed * 141650963, i)
        url = f"nb://notebook-{i}.ipynb"
        k = i % 6
        if k == 0:
            cells = [
                {"cell_type": "markdown",
                 "source": [f"# {_sentence(rng, 3, 6)}\n",
                            _sentence(rng, 5, 9)]},
                {"cell_type": "code",
                 "source": [f"x = {i}\n", "print(x * 2)\n"],
                 "execution_count": 1 + i % 5,
                 "outputs": [
                     {"output_type": "stream", "name": "stdout",
                      "text": [f"{i * 2}\n"]},
                     {"output_type": "execute_result",
                      "execution_count": 1 + i % 5,
                      "data": {"text/plain": [f"{i * 2}"]},
                      "metadata": {}}]},
                {"cell_type": "code", "source": "y = x + 1"},
            ]
            payload = make_ipynb(cells, lang="python")
        elif k == 1:
            cells = [
                {"cell_type": "raw", "source": f"raw block {i}"},
                {"cell_type": "code",
                 "source": f"f(x) = x^{2 + i % 3}",
                 "execution_count": 2,
                 "outputs": [
                     {"output_type": "error", "ename": "DomainError",
                      "evalue": f"bad input {i}", "traceback": ["..."]},
                     {"output_type": "display_data",
                      "data": {"image/png": "aWdub3JlZA=="},
                      "metadata": {}}]},
                {"cell_type": "markdown", "source": _sentence(rng, 6, 10)},
            ]
            payload = make_ipynb(cells, lang="julia")
        elif k == 2:
            cells = [
                {"cell_type": "markdown",
                 "source": [f"## {_sentence(rng, 2, 5)}\n",
                            _paragraph(rng, 1, 2)]},
                {"cell_type": "markdown", "source": ""},
            ]
            payload = make_ipynb(cells, lang="r", kernelspec=False)
        elif k == 3:
            cells = [
                {"cell_type": "markdown", "source": [f"v3 doc {i}\n"]},
                {"cell_type": "code", "source": [f"a = {i}\n", "a"],
                 "execution_count": 3 + i % 4, "language": "python",
                 "outputs": [{"output_type": "pyout",
                              "text": [f"{i}"], "prompt_number": 3}]},
            ]
            payload = make_ipynb(cells, nbformat=3)
        elif k == 4:
            payload = (b'{"nbformat": 4, "note": "no cell list here"}'
                       if i % 2 else
                       b'{"cells": [], "metadata": {}, "nbformat": 4}')
        else:
            payload = b"\x00\x01 not json at all" if i % 2 else None
        out.append({"url": url, "payload": payload})
    return out


# --- mbox / email fixture files ------------------------------------------------

def mbox_file_rows(n: int = 24, seed: int = 42) -> list[dict]:
    """Deterministic synthetic mbox files: (url, payload). Rotates the
    serializations mailing-list archives carry: 7bit utf-8 plain,
    quoted-printable with body ``From `` lines (mboxrd escaping must
    round-trip), base64 cp1252 inside multipart/alternative with an
    html twin, html-only messages (body falls back through the htmlx
    DOM pipeline) with a binary attachment, declared-latin-1 and
    unknown-charset fallbacks, folded To headers, duplicate Subject
    (first wins), encoded-word subjects (B and Q), a bare RFC 5322
    message with no envelope, and garbage/None payloads (F5)."""
    import base64
    from .extractor.mailx import make_mbox, make_message
    out = []
    for i in range(n):
        rng = _rng(seed * 179424673, i)
        url = f"mbox://archive-{i}.mbox"
        k = i % 8
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        date = (f"Mon, {4 + i % 20:02d} Aug 2025 "
                f"{8 + i % 12:02d}:{i % 60:02d}:00 +0{i % 3}00")
        subj_text = _sentence(rng, 3, 6).rstrip(".,!")
        if k == 0:
            msgs = []
            for j in range(2 + i % 3):
                if j == 0:
                    body = _paragraph(rng, 1, 2)
                else:
                    # reply shape: attribution line + quoted block +
                    # fresh text + RFC 3676 signature (the
                    # strip_quoted_reply fixture surface)
                    body = (f"On Mon, Dev 0 <dev0@{host}> wrote:\n"
                            f"> {_sentence(rng, 4, 7)}\n"
                            f"> {_sentence(rng, 3, 6)}\n"
                            f"{_paragraph(rng, 1, 2)}\n"
                            f"-- \nDev {j} of {host}")
                msgs.append(make_message(
                    [("From", f"Dev {j} <dev{j}@{host}>"),
                     ("To", f"list@{host}"),
                     ("Subject", f"{subj_text} part {j}"),
                     ("Date", date),
                     ("Message-ID", f"<t{i}.m{j}@{host}>")]
                    + ([("In-Reply-To", f"<t{i}.m0@{host}>")]
                       if j else []),
                    [{"content_type": "text/plain", "charset": "utf-8",
                      "text": body}]))
            payload = make_mbox(msgs)
        elif k == 1:
            body = (f"{_sentence(rng, 4, 8)}\n"
                    f"From the café — naïve test.\n"
                    f">From an already-quoted line.\n"
                    f"{_sentence(rng, 3, 6)}")
            b64subj = base64.b64encode(
                f"café {subj_text}".encode()).decode()
            payload = make_mbox([make_message(
                [("From", f"alice@{host}"), ("To", f"list@{host}"),
                 ("Subject", f"=?utf-8?B?{b64subj}?="),
                 ("Date", date), ("Message-ID", f"<qp{i}@{host}>")],
                [{"content_type": "text/plain", "charset": "utf-8",
                  "cte": "quoted-printable", "text": body}])])
        elif k == 2:
            text = f"Sounds good — {_sentence(rng, 3, 6)}"
            payload = make_mbox([make_message(
                [("From", f"Bob <bob@{host}>"), ("To", f"list@{host}"),
                 ("Subject", "=?utf-8?Q?caf=C3=A9_q=2Dword?="),
                 ("Date", date), ("Message-ID", f"<alt{i}@{host}>")],
                [{"content_type": "text/plain", "charset": "cp1252",
                  "cte": "base64", "text": text, "alternative": True},
                 {"content_type": "text/html", "charset": "utf-8",
                  "text": f"<html><body><p>{text}</p></body></html>"}])])
        elif k == 3:
            payload = make_mbox([make_message(
                [("From", f"Carol <carol@{host}>"),
                 ("To", f"a@{host},\n\tB Team <b@{host}>"),
                 ("Subject", f"report {i}"),
                 ("Subject", "second subject loses"),
                 ("Date", date), ("Message-ID", f"<html{i}@{host}>")],
                [{"content_type": "text/html", "charset": "utf-8",
                  "text": (f"<html><body><h1>Report {i}</h1>"
                           f"<p>{_paragraph(rng, 1, 2)}</p>"
                           f"</body></html>")},
                 {"content_type": "application/octet-stream",
                  "cte": "base64", "data": bytes(range(i % 7, 40)),
                  "filename": f"data{i}.bin", "attachment": True}])])
        elif k == 4:
            payload = make_mbox([make_message(
                [("From", f"dora@{host}"), ("Subject", f"latin {i}"),
                 ("Date", date), ("Message-ID", f"<l1{i}@{host}>")],
                [{"content_type": "text/plain", "charset": "iso-8859-1",
                  "text": f"déjà vu {_sentence(rng, 3, 5)}"}]),
                make_message(
                [("From", f"erik@{host}"), ("Subject", f"odd {i}"),
                 ("Date", "not a date"),
                 ("Message-ID", f"<l2{i}@{host}>")],
                [{"content_type": "text/plain", "charset": "utf-8",
                  "declared": "x-weird-charset",
                  "text": _sentence(rng, 4, 7)}])])
        elif k == 5:
            # bare RFC 5322 message, no mbox envelope
            payload = make_message(
                [("From", f"Frank <frank@{host}>"),
                 ("To", f"list@{host}"), ("Subject", f"bare {i}"),
                 ("Date", date)],
                [{"content_type": "text/plain", "charset": "utf-8",
                  "text": _paragraph(rng, 1, 2)}])
        elif k == 6:
            # nested multipart: mixed( alternative(plain, html), bin )
            inner = make_message(
                [],
                [{"content_type": "text/plain", "charset": "utf-8",
                  "text": f"nested {_sentence(rng, 3, 6)}",
                  "alternative": True},
                 {"content_type": "text/html", "charset": "utf-8",
                  "text": "<p>nested html</p>"}])
            # strip the empty header block ("\n" prefix) to reuse the
            # serialized multipart entity as a sub-part
            entity = inner.split(b"\n", 1)[1]
            payload = make_mbox([
                b"From: gina@" + host.encode() + b"\n"
                b"Subject: nested " + str(i).encode() + b"\n"
                b"Date: " + date.encode() + b"\n"
                b"Message-ID: <nest" + str(i).encode() + b"@x>\n"
                b"Content-Type: multipart/mixed; boundary=\"outer-b\"\n"
                b"\n--outer-b\n" + entity +
                b"\n--outer-b\nContent-Type: text/plain; charset=\"utf-8\""
                b"\n\ntrailing plain part\n--outer-b--\n"])
        else:
            payload = (None if i % 2 else
                       b"\x00\x01 binary junk, not mail at all")
        out.append({"url": url, "payload": payload})
    return out


# --- wikitext fixture pages ----------------------------------------------------

def wikitext_rows(n: int = 40, seed: int = 42) -> list[dict]:
    """Deterministic (url, wikitext) pages exercising the wikix
    subset: infobox templates (nested), heading hierarchies with the
    lenient unbalanced-equals rule, pipe/pipe-trick links, File links
    with caption links, external links (labeled and numbered), nested
    lists of every marker, tables with links that must NOT register,
    refs (paired, self-closing, unterminated), nowiki protection,
    magic words, emphasis runs, multi-line templates, and junk/empty
    rows (F5)."""
    out = []
    for i in range(n):
        rng = _rng(seed * 198491317, i)
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        url = f"wiki://{host}/wiki/Article_{i}"
        k = i % 8
        title = _sentence(rng, 2, 4).rstrip(".,!")
        if k == 0:
            src = (
                f"{{{{Infobox topic\n| name = {title}\n"
                f"| site = [https://{host}/ home]\n"
                f"| uses = {{{{nested|{i}}}}}\n}}}}\n"
                f"'''{title}''' is a [[{_sentence(rng, 1, 2).rstrip('.,!')}"
                f"|topic]] covering [[Article {(i + 3) % n}]].\n"
                f"It spans two source lines.\n\n"
                f"== Overview ==\n{_paragraph(rng, 1, 2)}\n\n"
                f"=== Details ===\n"
                f"* point about [[Article {(i + 5) % n}]]\n"
                f"* second point\n** nested [[Deep link {i}]]\n"
                f"# ordered one\n"
                f"== See also ==\n"
                f"* [[Article {(i + 1) % n}|next article]]\n")
        elif k == 1:
            src = (
                f"{title} began<ref name=\"r{i}\">{{{{cite web"
                f"|url=https://{host}/cite}}}}</ref> early.<ref "
                f"name=\"r{i}\" />\n"
                f"A [[File:Pic {i}.png|thumb|Caption with a "
                f"[[Caption target {i}|caption link]] inside]] image.\n"
                f"[[Category:Fixtures]]\n\n"
                f"==Lenient {i}====\n"
                f"Some ''italic'' and '''bold''' plus "
                f"[https://{host}/x ext label] and bare "
                f"[https://{host}/y].\n__NOTOC__\n")
        elif k == 2:
            src = (
                f"Before the table.\n"
                f"{{| class=\"wikitable\"\n|-\n! H1 !! H2\n|-\n"
                f"| [[TableLink {i}]] || cell\n"
                f"{{| nested inner\n| x\n|}}\n"
                f"| more\n|}}\n"
                f"After the table with [[Kept link {i}]].\n")
        elif k == 3:
            src = (
                f"<nowiki>[[not a link {i}]] and {{{{not a "
                f"template}}}}</nowiki> stays literal, then "
                f"[[Real {i}|]] pipe-trick.\n\n"
                f"= Top =\n; term\n: definition body {i}\n")
        elif k == 4:
            src = (
                f"{{{{unterminated template {i}\nswallows the rest\n"
                if i % 2 else
                f"plain only {_paragraph(rng, 1, 2)}\n"
                f"<!-- comment\nspanning -->tail {i}.\n")
        elif k == 5:
            src = (
                f"== {title} ==\n"
                + "\n".join(f"* [[Article {(i + j) % n}]] row {j}"
                            for j in range(3))
                + f"\n\nClosing paragraph {_sentence(rng, 4, 8)}\n")
        elif k == 6:
            # deep heading ladder for the section composition
            src = "\n\n".join(
                f"{'=' * lv} L{lv} head {i} {'=' * lv}\n"
                f"body at level {lv}: {_sentence(rng, 3, 6)}"
                for lv in range(1, 5))
        else:
            src = "" if i % 2 else f"<ref>unterminated ref {i}\ngone"
        out.append({"url": url, "wikitext": src})
    return out


# --- mp4 fixture files ----------------------------------------------------------

def mp4_media_rows(n: int = 20, seed: int = 42) -> list[dict]:
    """Deterministic synthetic MP4 containers: (media_id, payload).
    Rotates v0/v1 box layouts, largesize mdat, video+audio and
    audio-only tracks, a text track, 4K/SD resolutions, language
    rotation, a track-less moov, and garbage/None payloads (F5)."""
    from .extractor.mp4x import make_mp4
    langs = ["eng", "fra", "deu", "jpn", "und", "spa"]
    codecs = [("avc1", "mp4a"), ("hvc1", "mp4a"), ("vp09", "opus")]
    out = []
    for i in range(n):
        k = i % 6
        mid = f"vid{i}"
        ts = 600 + (i % 3) * 400
        if k == 0:
            vcodec, acodec = codecs[i % 3]
            payload = make_mp4(
                brand="mp42", timescale=ts, duration=ts * (10 + i),
                tracks=[
                    {"track_id": 1, "handler": "vide", "codec": vcodec,
                     "width": 640 + (i % 4) * 320,
                     "height": 360 + (i % 4) * 180,
                     "duration": ts * (10 + i), "timescale": ts,
                     "lang": langs[i % 6]},
                    {"track_id": 2, "handler": "soun", "codec": acodec,
                     "duration": 44100 * (10 + i), "timescale": 44100,
                     "lang": langs[(i + 1) % 6]}])
        elif k == 1:
            payload = make_mp4(
                brand="isom", version=1, timescale=1000,
                duration=90000 + i, large_mdat=True,
                tracks=[{"track_id": 1, "handler": "vide",
                         "codec": "av01", "width": 3840, "height": 2160,
                         "duration": 90000 + i, "lang": "jpn"}])
        elif k == 2:
            payload = make_mp4(
                brand="M4A ", timescale=44100, duration=44100 * 30,
                tracks=[{"track_id": 1, "handler": "soun",
                         "codec": "mp4a", "duration": 44100 * 30,
                         "timescale": 44100, "lang": langs[i % 6]}])
        elif k == 3:
            payload = make_mp4(
                brand="mp41", timescale=600, duration=600 * 5,
                tracks=[
                    {"track_id": 1, "handler": "vide", "codec": "avc1",
                     "width": 1920, "height": 1080,
                     "duration": 600 * 5, "lang": "eng"},
                    {"track_id": 3, "handler": "text", "codec": "tx3g",
                     "duration": 600 * 5, "lang": langs[i % 6]}])
        elif k == 4:
            # track-less but valid container
            payload = make_mp4(brand="isom", timescale=90000,
                               duration=90000 * 2, tracks=[])
        else:
            payload = (None if i % 2 else
                       b"\x00\x00\x00\x08free not a real mp4")
        out.append({"media_id": mid, "payload": payload})
    return out


# --- LaTeX fixture sources ------------------------------------------------------

def latex_rows(n: int = 32, seed: int = 42) -> list[dict]:
    """Deterministic (url, tex) sources exercising the texx subset:
    full documents with preamble/title carry-over, sectioning ladders,
    nested lists, math removal (inline, display, environments),
    figure/table wrappers whose captions survive, verbatim protection,
    accent macros vs letter-named commands, href/url unwrapping,
    comments, bare fragments without a document env, and junk/empty
    rows (F5)."""
    out = []
    for i in range(n):
        rng = _rng(seed * 217645199, i)
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        url = f"tex://{host}/papers/{i}.tex"
        k = i % 6
        title = _sentence(rng, 3, 6).rstrip(".,!")
        if k == 0:
            tex = (
                f"\\documentclass{{article}}\n"
                f"\\usepackage{{amsmath}}\n"
                f"\\title{{{title} \\textbf{{Results}}}}\n"
                f"\\author{{Fixture Author {i}}}\n"
                f"\\begin{{document}}\n\\maketitle\n"
                f"\\begin{{abstract}}\nWe prove $x_{i} > 0$ and "
                f"cite~\\cite{{ref{i}}}.\n\\end{{abstract}}\n\n"
                f"\\section{{Introduction}}\n"
                f"Caf\\'e fa\\c{{c}}ade --- the \\emph{{key}} "
                f"{i}0\\% case.\nSecond source line.\n\n"
                f"\\subsection{{Method}}\n{_sentence(rng, 6, 10)}\n"
                f"\\begin{{equation}}\ne=mc^2_{i}\n\\end{{equation}}\n"
                f"After the equation.\n\\end{{document}}\n")
        elif k == 1:
            tex = (
                f"\\begin{{document}}\n"
                f"\\section{{Lists {i}}}\n"
                f"\\begin{{itemize}}\n"
                f"\\item first \\texttt{{tok{i}}}\n"
                f"\\item see \\href{{https://{host}/x}}{{site {i}}}"
                f" and \\url{{https://{host}/y}}\n"
                f"\\begin{{enumerate}}\n\\item[*] nested {i}\n"
                f"\\end{{enumerate}}\n"
                f"\\end{{itemize}}\nTail paragraph {i}.\n"
                f"\\end{{document}}")
        elif k == 2:
            tex = (
                f"\\section{{Floats {i}}}\n"
                f"\\begin{{figure}}\n"
                f"\\includegraphics[width=2in]{{fig{i}.pdf}}\n"
                f"\\caption{{Figure caption {i} survives.}}\n"
                f"\\label{{fig:{i}}}\n\\end{{figure}}\n\n"
                f"\\begin{{table}}\n\\caption{{Table caption {i}.}}\n"
                f"\\begin{{tikzpicture}}\ndrawn {i}\\end{{tikzpicture}}\n"
                f"\\end{{table}}\nBody after floats.\n")
        elif k == 3:
            tex = (
                f"Plain fragment {_sentence(rng, 4, 8)}\n\n"
                f"\\begin{{verbatim}}\nkept $m{i}$ \\cmd {{b}}\n"
                f"\\end{{verbatim}}\n\n"
                f"Inline \\verb|$v{i}$| and \\(a+b\\) gone, "
                f"$$d{i}$$ too. % comment {i}\n"
                f"A 50\\% escape \\& more~here.\n")
        elif k == 4:
            tex = (
                f"\\chapter{{Book {i}}}\n\\section{{S1}}\n"
                + "\n\n".join(
                    f"\\subsection{{Sub {j}}}\npara {j}: "
                    f"{_sentence(rng, 3, 6)}" for j in range(3))
                + f"\n\\paragraph{{Deep {i}}}\ndeep body {i}.\n")
        else:
            tex = "" if i % 2 else f"% only a comment {i}\n$only math$\n"
        out.append({"url": url, "tex": tex})
    return out


# --- MediaWiki dump + tar fixture files ------------------------------------------

def _xml_esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def wiki_dump_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic MediaWiki export XML dumps: (url, payload).
    Pages reuse the wikitext_rows sources (the dump is the CONTAINER;
    wikix parses the content) plus redirects, a talk-namespace page,
    a title with XML entities, and junk/None payloads (F5)."""
    pages = wikitext_rows(40, seed)
    out = []
    for i in range(n):
        url = f"dump://export-{i}.xml"
        k = i % 4
        if k == 3:
            out.append({"url": url,
                        "payload": (None if i % 2 else
                                    b"<html>not a dump</html>")})
            continue
        body = []
        for j in range(2 + i % 3):
            src = pages[(i * 3 + j) % len(pages)]["wikitext"]
            body.append(
                f"  <page>\n    <title>Article {i}-{j} &amp; more"
                f"</title>\n    <ns>0</ns>\n    <id>{100 + i * 10 + j}"
                f"</id>\n    <revision>\n      <id>{900 + j}</id>\n"
                f"      <text xml:space=\"preserve\">{_xml_esc(src)}"
                f"</text>\n    </revision>\n  </page>\n")
        if k == 1:
            body.append(
                f"  <page>\n    <title>Old {i}</title>\n    <ns>0</ns>"
                f"\n    <id>{990 + i}</id>\n"
                f"    <redirect title=\"Article {i}-0 &amp; more\"/>\n"
                f"    <revision><text>#REDIRECT [[Article {i}-0]]"
                f"</text></revision>\n  </page>\n")
        if k == 2:
            body.append(
                f"  <page>\n    <title>Talk:Article {i}-0</title>\n"
                f"    <ns>1</ns>\n    <id>{980 + i}</id>\n"
                f"    <revision><text>first chatter</text></revision>\n"
                f"    <revision><text>second rev ignored</text>"
                f"</revision>\n  </page>\n")
        xml = ("<mediawiki xmlns=\"http://www.mediawiki.org/xml/"
               "export-0.10/\" version=\"0.10\">\n"
               "  <siteinfo><sitename>Fixture</sitename></siteinfo>\n"
               + "".join(body) + "</mediawiki>\n")
        out.append({"url": url, "payload": xml.encode("utf-8")})
    return out


def tar_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic ustar archives: (url, payload). Members mix .tex
    sources (latex_rows content), html pages, plain text, directories,
    GNU long names, and every 4th row is junk/None (F5)."""
    from .extractor.tarx import make_tar
    texes = latex_rows(32, seed)
    out = []
    for i in range(n):
        rng = _rng(seed * 275604541, i)
        url = f"tar://bundle-{i}.tar"
        if i % 4 == 3:
            out.append({"url": url,
                        "payload": (None if i % 2 else
                                    b"not a tar archive at all" * 30)})
            continue
        members = [{"name": f"bundle{i}/", "typeflag": "5"}]
        for j in range(2 + i % 2):
            tex = texes[(i * 2 + j) % len(texes)]["tex"]
            if tex:
                members.append({
                    "name": f"bundle{i}/papers/p{j}.tex",
                    "data": tex.encode("utf-8"),
                    "mtime": 1700000000 + i * 1000 + j})
        members.append({
            "name": f"bundle{i}/pages/deep-" + "d" * 110 + ".html",
            "data": (f"<html><body><p>{_paragraph(rng, 2, 3)}</p>"
                     f"</body></html>").encode("utf-8"),
            "mtime": 1700000000 + i,
            "gnu_longname": True})
        members.append({"name": f"bundle{i}/notes.txt",
                        "data": f"plain note {i}".encode(),
                        "mtime": 1700000500 + i})
        out.append({"url": url, "payload": make_tar(members)})
    return out


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


def ics_file_rows(n: int, seed: int = 42) -> list[dict]:
    """Deterministic synthetic iCalendar files: (url, payload). Cycles
    the RFC 5545 shapes the parser must survive — folded long lines,
    escaped TEXT (\\n \\, \;), quoted TZID params, all-day DATE
    values, DURATION instead of DTEND, nested VALARM blocks whose
    properties must NOT bleed into the event, RRULEs with COUNT /
    INTERVAL / UNTIL, CRLF endings and BOM — and every 6th row is a
    payload with no parseable VEVENT (F5). Feeds
    fixtures/golden_ics_seed42_n*.parquet."""
    out = []
    for i in range(n):
        rng = _rng(seed * 198491317, i)
        url = f"ics://cal-{i}"
        kind = i % 6
        day = 1 + (i * 7) % 27
        base = f"202{i % 4}0{1 + i % 9}{day:02d}"
        lines = ["BEGIN:VCALENDAR", "VERSION:2.0",
                 f"PRODID:-//fixture//cal {i}//EN"]
        if kind == 0:
            # folded summary + escaped text + UTC stamps
            summary = _sentence(rng, 8, 14) + r"\, part two\; end"
            fold_at = 30 + i % 20
            lines += [
                "BEGIN:VEVENT", f"UID:ev-{i}-0@fixture",
                "SUMMARY:" + summary[:fold_at],
                " " + summary[fold_at:],
                f"DTSTART:{base}T0{i % 9}3000Z",
                f"DTEND:{base}T1{i % 9}0000Z",
                f"LOCATION:Room {i}\\nFloor {i % 5}",
                "END:VEVENT"]
        elif kind == 1:
            # all-day DATE + daily RRULE with COUNT
            lines += [
                "BEGIN:VEVENT", f"UID:ev-{i}-allday@fixture",
                f"SUMMARY:All day {_sentence(rng, 2, 4)}",
                f"DTSTART;VALUE=DATE:{base}",
                f"RRULE:FREQ=DAILY;COUNT={2 + i % 6}",
                "STATUS:CONFIRMED", "END:VEVENT"]
        elif kind == 2:
            # quoted TZID param + DURATION + biweekly RRULE
            lines += [
                "BEGIN:VEVENT", f"UID:ev-{i}-tz@fixture",
                f"SUMMARY:{_sentence(rng, 3, 6)}",
                f'DTSTART;TZID="America/New_York":{base}T09{i % 6}000',
                f"DURATION:PT{1 + i % 3}H30M",
                f"RRULE:FREQ=WEEKLY;INTERVAL=2;COUNT={2 + i % 4}",
                "END:VEVENT"]
        elif kind == 3:
            # two events; first carries a VALARM that must not bleed
            lines += [
                "BEGIN:VEVENT", f"UID:ev-{i}-a@fixture",
                f"SUMMARY:{_sentence(rng, 3, 6)}",
                f"DTSTART:{base}T120000Z",
                "BEGIN:VALARM", "ACTION:DISPLAY",
                "SUMMARY:ALARM MUST NOT BLEED",
                "TRIGGER:-PT15M", "END:VALARM",
                f"LOCATION:{_sentence(rng, 1, 2)}",
                "END:VEVENT",
                "BEGIN:VEVENT", f"UID:ev-{i}-b@fixture",
                f"SUMMARY:{_sentence(rng, 2, 4)}",
                f"DTSTART:{base}T160000Z",
                f"DTEND:{base}T169900Z",      # invalid -> end=start
                "STATUS:tentative", "END:VEVENT"]
        elif kind == 4:
            # RRULE UNTIL + an event with an unparseable DTSTART
            lines += [
                "BEGIN:VEVENT", f"UID:ev-{i}-until@fixture",
                f"SUMMARY:{_sentence(rng, 2, 5)}",
                f"DTSTART:{base}T08{i % 6}500Z",
                f"RRULE:FREQ=DAILY;INTERVAL={1 + i % 3};"
                f"UNTIL:{base}",  # '=' typo form -> UNTIL unharvested
                "END:VEVENT",
                "BEGIN:VEVENT", f"UID:ev-{i}-bad@fixture",
                "SUMMARY:dropped event", "DTSTART:20FEB2024",
                "END:VEVENT",
                "BEGIN:VEVENT", f"UID:ev-{i}-u2@fixture",
                f"SUMMARY:{_sentence(rng, 2, 4)}",
                f"DTSTART;VALUE=DATE:{base}",
                f"RRULE:FREQ=WEEKLY;UNTIL={base}T235959Z",
                "END:VEVENT"]
        else:
            # no parseable VEVENT at all
            payload = _garbage(rng, i) if i % 2 else (
                b"BEGIN:VCALENDAR\r\nVERSION:2.0\r\nEND:VCALENDAR\r\n")
            out.append({"url": url, "payload": payload})
            continue
        lines.append("END:VCALENDAR")
        sep = "\r\n" if i % 2 else "\n"
        raw = sep.join(lines) + sep
        payload = (b"\xef\xbb\xbf" if i % 4 == 3 else b"") \
            + raw.encode("utf-8")
        out.append({"url": url, "payload": payload})
    return out


def _isbn10_complete(d9: str) -> str:
    """9 digits -> full ISBN-10 (check digit may be X)."""
    total = sum((10 - i) * int(ch) for i, ch in enumerate(d9))
    check = (11 - total % 11) % 11
    return d9 + ("X" if check == 10 else str(check))


def _isbn13_complete(d12: str) -> str:
    """12 digits -> full EAN-13 ISBN."""
    total = sum(int(ch) * (3 if i % 2 else 1) for i, ch in enumerate(d12))
    return d12 + str((10 - total % 10) % 10)


def ids_texts(n: int = 120, seed: int = 42) -> list[dict]:
    """Deterministic (url, text) rows exercising the scholarly-
    identifier family (extractor/idsx.py + operators/idents.py):
    DOIs with trailing sentence punctuation and parens, arXiv new
    style (prefix case variants, optional space, vN suffixes, bad
    months), arXiv old style (archive classes, bad months), ISBN-10
    (incl. X check digits) and ISBN-13 in every prefix form, checksum
    -failing copies, plus the negatives all three engines must agree
    on (naked YYMM.NNNNN digits, plain paths, clean/empty docs).

    Same ASCII-adjacency invariant as pii_texts (\\b stays in the
    Java/RE2 common subset). Committed as
    fixtures/ids_texts_seed42_n120.parquet so the DuckDB oracle
    reads the same input table."""
    archives = ["hep-th", "math", "cond-mat", "astro-ph", "cs"]
    classes = ["GT", "CO", "AG", "NT"]
    rows: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 7368787, i)
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        url = f"https://{host}/ids/doc-{i}"
        parts = [_sentence(rng, 4, 9)]
        k = i % 10
        if k == 0:
            parts.append(f"See doi:10.{1000 + i}/nature{10000 + i}. "
                         f"and (10.1145/{3292500 + i}.{333000 + i}), "
                         f"both cited.")
        elif k == 1:
            v = f"v{1 + i % 4}" if i % 2 else ""
            parts.append(f"Preprint arXiv:{1700 + i % 30:04d}."
                         f"{3762 + i:05d}{v} updated; naked "
                         f"{1700 + i % 30:04d}.{3762 + i:05d} ignored.")
        elif k == 2:
            pre = ["arXiv: ", "ARXIV:", "arxiv:"][i % 3]
            mm = 13 + i % 80     # bad month -> invalid
            parts.append(f"Bad month {pre}{17:02d}{mm:02d}."
                         f"{10000 + i} dropped; good {pre}"
                         f"{2300 + 1 + i % 12:04d}.{10000 + i} kept.")
        elif k == 3:
            arch = archives[i % len(archives)]
            cls = f".{classes[i % len(classes)]}" if i % 2 else ""
            yymm = f"{i % 100:02d}{1 + i % 12:02d}"
            parts.append(f"Old id {arch}{cls}/{yymm}{100 + i % 900:03d} "
                         f"cited; bogus {arch}/{i % 100:02d}"
                         f"{13 + i % 86:02d}{100 + i % 900:03d} not.")
        elif k == 4:
            d9 = f"{200000000 + i * 9973}"[:9]
            good = _isbn10_complete(d9)
            hy = f"{good[0]}-{good[1:4]}-{good[4:9]}-{good[9]}"
            parts.append(f"ISBN {hy} in print; ISBN "
                         f"{good[:9]}{'X' if good[9] != 'X' else '0'} "
                         f"is a typo.")
        elif k == 5:
            d12 = "978" + f"{100000000 + i * 7919}"[:9]
            good = _isbn13_complete(d12)
            hy = (f"{good[:3]}-{good[3]}-{good[4:7]}-"
                  f"{good[7:12]}-{good[12]}")
            pre = ["ISBN-13: ", "ISBN:", "ISBN "][i % 3]
            parts.append(f"Listed as {pre}{hy} everywhere.")
        elif k == 6:
            # an ISBN-10 whose check digit is exactly X
            base = 957 + i
            d9 = None
            for probe in range(base, base + 5000):
                cand = f"{probe:09d}"
                if _isbn10_complete(cand)[9] == "X":
                    d9 = cand
                    break
            full = _isbn10_complete(d9)
            parts.append(f"Rare copy ISBN-10: {full[:1]}-{full[1:5]}-"
                         f"{full[5:9]}-{full[9]} archived; "
                         f"979 prefix fake ISBN 971"
                         f"{d9[:9]}0 rejected.")
        elif k == 7:
            parts.append(f"Mixed bag: doi 10.5281/zenodo.{400000 + i}; "
                         f"arXiv:{2000 + 1 + i % 12:04d}.{20000 + i}v2 "
                         f"and hep-th/{92 + i % 8:02d}"
                         f"{1 + i % 12:02d}{100 + i:03d} together.")
        elif k == 8:
            parts.append(f"No ids: path src/utils/{i:07d} and build "
                         f"{1000 + i}.{2000 + i} plus 10.{i % 1000}/x "
                         f"short-registrant ignored.")
        else:
            rows.append({"url": url, "text": "" if i % 2 else
                         _paragraph(rng, 2, 4)})
            continue
        parts.append(_sentence(rng, 3, 8))
        rows.append({"url": url, "text": " ".join(parts)})
    return rows


def ids_texts_df(spark, n: int = 120, seed: int = 42,
                 num_partitions: int = 8):
    """Spark DataFrame of the ids_texts fixture set (url, text)."""
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("text", StringType(), False),
    ])
    return (spark.createDataFrame(
        [(r["url"], r["text"]) for r in ids_texts(n, seed)], schema)
        .repartition(num_partitions))


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


def ads_texts(n: int = 60, seed: int = 42) -> list[dict]:
    """Deterministic (url, text) ads.txt bodies exercising the IAB
    grammar subset (extractor/adsx.py + operators/adstxt.py):
    DIRECT/RESELLER rows with and without cert ids, inline comments,
    tab/space padding, CRLF endings, variable records (CONTACT,
    SUBDOMAIN, mixed-case names), and the malformed lines every
    engine must drop identically (two fields, unknown relationship,
    empty domain/publisher, bare '=' lines). Committed as
    fixtures/ads_texts_seed42_n60.parquet so the DuckDB oracle reads
    the same input table."""
    systems = ["google.com", "appnexus.com", "rubiconproject.com",
               "openx.com", "pubmatic.com", "indexexchange.com"]
    rows: list[dict] = []
    for i in range(n):
        host = _HOSTS[(i * 31) % len(_HOSTS)]
        url = f"https://{host}/ads-{i}.txt"
        k = i % 6
        lines: list[str] = [f"# ads.txt for {host}"]
        if k == 0:
            for j in range(2 + i % 4):
                sysd = systems[(i + j) % len(systems)]
                lines.append(f"{sysd}, pub-{i:04d}{j}, DIRECT, "
                             f"f{(i * 7 + j) % 100:02d}abc")
            lines.append(f"CONTACT=ads@{host}")
        elif k == 1:
            for j in range(3 + i % 3):
                sysd = systems[(i * 3 + j) % len(systems)]
                rel = "RESELLER" if j % 2 else "direct"
                lines.append(f"  {sysd.upper()} ,\tpub{i}-{j} , {rel}")
            lines.append(f"subdomain=shop.{host}")
        elif k == 2:
            lines += [
                f"{systems[i % 6]}, pub-a{i}, DIRECT # inline note",
                "tooshort.com, only2fields",
                f"{systems[(i + 1) % 6]}, pub-b{i}, SPONSOR",
                f", pub-c{i}, DIRECT",
                f"{systems[(i + 2) % 6]}, , RESELLER",
                f"{systems[(i + 3) % 6]}, pub-d{i}, RESELLER, "
                f"cert{i % 50}"]
        elif k == 3:
            lines += [
                f"OwnerDomain = {host}",
                "=",
                "name=",
                f"{systems[i % 6]},pub{i},reseller,",
                f"inventorypartnerdomain={host}.partner.example"]
        elif k == 4:
            for j in range(2):
                lines.append(f"{systems[(i + j) % 6]}, pub-{i}-{j}, "
                             + ("DIRECT" if j else "RESELLER"))
            lines.append("# trailing comment only")
        else:
            rows.append({"url": url, "text": "" if i % 2 else
                         "# comments only\n\n   \n"})
            continue
        sep = "\r\n" if i % 2 else "\n"
        rows.append({"url": url, "text": sep.join(lines) + sep})
    return rows


def security_texts(n: int = 48, seed: int = 42) -> list[dict]:
    """Deterministic (url, text) security.txt bodies exercising the
    RFC 9116 subset (extractor/sectxtx.py + operators/sectxt.py):
    canonical well-formed files, OpenPGP clearsigned files whose
    signature block hides field-looking trap lines, case-variant
    names with unknown-field noise, contact-only files (not
    well-formed), non-Z-form expiries (trust gate -> NULL), and
    empty/comment-only bodies. Committed as
    fixtures/sectxt_texts_seed42_n48.parquet so the DuckDB oracle
    reads the same input table."""
    rows: list[dict] = []
    for i in range(n):
        host = _HOSTS[(i * 29) % len(_HOSTS)]
        url = f"https://{host}/.well-known/security-{i}.txt"
        k = i % 6
        if k == 0:
            lines = [
                f"# security.txt for {host}",
                f"Contact: mailto:security@{host}",
                f"Expires: 2027-0{1 + i % 9}-01T00:00:00Z",
                f"Encryption: https://{host}/pgp-key.asc",
                "Preferred-Languages: en, fr",
                f"Canonical: https://{host}/.well-known/security.txt",
            ]
        elif k == 1:
            lines = [
                "-----BEGIN PGP SIGNED MESSAGE-----",
                "Hash: SHA256",
                "",
                f"Contact: https://{host}/report",
                f"Expires: 2025-0{1 + i % 9}-15T12:00:00Z",
                "-----BEGIN PGP SIGNATURE-----",
                "Version: GnuPG v2",
                "",
                "iQEzBAEBCAAdFiEE" + "A" * (20 + i % 7),
                "Contact: mailto:trap@evil.example",
                "Expires: 2099-01-01T00:00:00Z",
                "-----END PGP SIGNATURE-----",
            ]
        elif k == 2:
            lines = [
                f"CONTACT:  tel:+1-201-555-0{i % 10}23",
                f"expires:2026-12-31T23:59:5{i % 10}Z",
                "X-Unknown: ignored",
                f"Acknowledgments: https://{host}/hall-of-fame",
                f"HIRING: https://{host}/jobs  ",
                "# comment line",
                "not a field line at all",
            ]
        elif k == 3:
            lines = [
                f"Contact: mailto:sec@{host}",
                f"Contact: https://{host}/contact-form",
                "Policy:",
                "Policy:   ",
                "bad-name!: value",
            ]
        elif k == 4:
            lines = [
                f"Contact: mailto:cert@{host}",
                f"Expires: 2026-06-30T12:00:00+0{1 + i % 3}:00",
                f"Expires: 2025-01-01T00:00:00Z",
                f"Policy: https://{host}/disclosure-policy",
            ]
        else:
            rows.append({"url": url, "text": "" if i % 2 else
                         "# placeholder\n\n   \n"})
            continue
        sep = "\r\n" if i % 2 else "\n"
        rows.append({"url": url, "text": sep.join(lines) + sep})
    return rows


_IMF_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_IMF_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def _imf_date(dt: _dt.datetime) -> str:
    """Hand-formatted IMF-fixdate (locale-free — strftime %a/%b
    would silently track the host locale)."""
    return (f"{_IMF_DAYS[dt.weekday()]}, {dt.day:02d} "
            f"{_IMF_MONTHS[dt.month - 1]} {dt.year} "
            f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d} GMT")


def cache_header_rows(n: int = 64, seed: int = 42) -> list[dict]:
    """Deterministic response-header rows (url, cache_control,
    hdr_age, hdr_date, hdr_expires, hdr_last_modified, hdr_etag)
    exercising the RFC 9111 subset in extractor/cachex.py: CDN-style
    max-age/s-maxage stacks, no-store/no-cache, Expires deltas (past,
    future, and the invalid-means-stale '0'), heuristic
    Date/Last-Modified pairs, grammar torture (quoted args holding
    commas, unterminated quotes, bad delta tokens, first-wins
    duplicates, case-variant names), rfc850 dates the strict parser
    rejects, and header-free rows. Committed as
    fixtures/cache_headers_seed42_n64.parquet."""
    base = _dt.datetime(2025, 3, 1, 12, 0, 0)
    rows: list[dict] = []
    for i in range(n):
        host = _HOSTS[(i * 37) % len(_HOSTS)]
        r = {"url": f"https://{host}/res-{i}", "cache_control": None,
             "hdr_age": None, "hdr_date": None, "hdr_expires": None,
             "hdr_last_modified": None, "hdr_etag": None}
        k = i % 8
        d = base + _dt.timedelta(hours=i * 7, seconds=i * 11)
        r["fetched_epoch"] = int(
            (d - _dt.datetime(1970, 1, 1)).total_seconds())
        if k == 0:
            r["cache_control"] = (f"public, max-age={300 * (1 + i % 5)}, "
                                  f"s-maxage={600 * (1 + i % 5)}, "
                                  "stale-while-revalidate=60")
            r["hdr_date"] = _imf_date(d)
            r["hdr_age"] = str(i % 120)
            r["hdr_etag"] = f'"v{i}"'
        elif k == 1:
            r["cache_control"] = ("no-store, no-cache, must-revalidate"
                                  if i % 2 else "No-Cache, PRIVATE")
            r["hdr_date"] = _imf_date(d)
            r["hdr_etag"] = f'W/"weak{i}"' if i % 4 == 1 else None
        elif k == 2:
            r["hdr_date"] = _imf_date(d)
            r["hdr_expires"] = _imf_date(
                d + _dt.timedelta(days=1 + i % 9, minutes=i))
            r["hdr_last_modified"] = _imf_date(
                d - _dt.timedelta(days=30 + i))
            r["hdr_etag"] = f'W/"rev-{i}"'
        elif k == 3:
            r["hdr_date"] = _imf_date(d)
            r["hdr_expires"] = ("0" if i % 2 else
                                _imf_date(d - _dt.timedelta(hours=i + 1)))
            r["hdr_age"] = "abc" if i % 4 == 3 else None
        elif k == 4:
            r["hdr_date"] = _imf_date(d)
            r["hdr_last_modified"] = _imf_date(
                d - _dt.timedelta(days=(i % 9) * 3 + 1, hours=i))
            r["hdr_age"] = str(3600 * (i % 3))
        elif k == 5:
            r["cache_control"] = [
                'private="set-cookie, x-y", MAX-AGE=300, '
                'community="uci", max-age=100',
                f'max-age={60 * (i % 7)}, private="a',
                "max-age=abc, , =, immutable",
                "max-age=99999999999999999999, public",
            ][i % 4]
            r["hdr_date"] = _imf_date(d)
        elif k == 6:
            r["cache_control"] = ('s-maxage="120", proxy-revalidate, '
                                  "private")
            r["hdr_expires"] = _imf_date(d + _dt.timedelta(days=2))
        else:
            if i % 2:
                r["hdr_date"] = "yesterday"
                r["hdr_last_modified"] = \
                    "Sunday, 06-Nov-94 08:49:37 GMT"
            else:
                # Expires without a Date: no freshness basis
                r["hdr_expires"] = _imf_date(d + _dt.timedelta(days=1))
            r["hdr_etag"] = '""' if i % 4 == 3 else None
        rows.append(r)
    return rows


def fetch_history_rows(n_urls: int = 24, seed: int = 42) -> list[dict]:
    """Deterministic multi-fetch histories (url, seq, fetched_epoch,
    etag, content_md5) for the revisit-economics ops: static pages
    (every revalidation saved), fast-changing, periodic (every 3rd
    fetch), etag-less, weak-validator (W/ prefixes — If-None-Match
    uses WEAK comparison per RFC 9110), and A/B flapping content.
    Committed as fixtures/fetch_history_seed42.parquet."""
    rows: list[dict] = []
    base = 1740000000
    for i in range(n_urls):
        host = _HOSTS[(i * 41) % len(_HOSTS)]
        url = f"https://{host}/hist-{i}"
        k = i % 6
        n_fetches = 2 + (i * 5) % 7
        gap = 3600 * (1 + i % 5) + 60 * i
        ver = 0
        for seq in range(n_fetches):
            if k == 0:
                pass                       # static: ver stays 0
            elif k == 1:
                ver = seq                  # changes every fetch
            elif k == 2:
                ver = seq // 3             # changes every 3rd
            elif k == 3:
                ver = seq // 2             # etag-less, some change
            elif k == 4:
                ver = seq // 2             # weak etags
            else:
                ver = seq % 2              # A/B flapping
            etag = None if k == 3 else (
                f'W/"h{i}-{ver}"' if k == 4 else f'"h{i}-{ver}"')
            rows.append({"url": url, "seq": seq,
                         "fetched_epoch": base + i * 997
                         + seq * gap,
                         "etag": etag,
                         "content_md5": f"md5-{i}-{ver}"})
    return rows


def set_cookie_rows(n: int = 72, seed: int = 42) -> list[dict]:
    """Deterministic Set-Cookie headers (url, seq, fetched_epoch,
    set_cookie) for the cookie privacy family: session cookies,
    Max-Age / Expires persistence (and Max-Age-wins conflicts),
    deletions (negative Max-Age), untrusted Max-Age shapes, ignored
    headers (no '=' / empty name), duplicate attributes (last wins),
    OWS-heavy segments, rejected rfc850 Expires, Domain/Path
    normalization, SameSite variants, and the tracker shape
    (persistent SameSite=None >= 30 days). ~3 headers per url.
    Committed as fixtures/set_cookie_seed42_n72.parquet."""
    base = _dt.datetime(2025, 3, 1, 12, 0, 0)
    rows: list[dict] = []
    for i in range(n):
        host = _HOSTS[((i // 3) * 43) % len(_HOSTS)]
        d = base + _dt.timedelta(hours=(i // 3) * 13, minutes=i)
        k = i % 12
        if k == 0:
            sc = f"sid=abc{i}; Path=/; HttpOnly"
        elif k == 1:
            sc = (f"pref=p{i}; Max-Age={3600 * (1 + i % 50)}; "
                  "Secure; SameSite=Lax")
        elif k == 2:
            # persistent via Expires, NO SameSite (NULL must read
            # "not a tracker" in the host rollup)
            sc = (f'uid="u-{i}"; Expires='
                  f"{_imf_date(d + _dt.timedelta(days=200 + i))}; "
                  f"Domain=.{host}; Path=/app")
        elif k == 3:
            # Max-Age wins over the (stale) Expires; tracker shape
            sc = (f"tk=t{i}; Max-Age={86400 * 400}; Expires="
                  f"{_imf_date(d - _dt.timedelta(days=1))}; "
                  "SameSite=None; Secure")
        elif k == 4:
            sc = "old=; Max-Age=-1; Path=/"
        elif k == 5:
            sc = (f"x=v{i}; Max-Age=abc; Secure" if (i // 12) % 2 else
                  f"x=v{i}; Max-Age=9999999999999999")
        elif k == 6:
            sc = "=oops; Path=/" if (i // 12) % 2 else "bareword"
        elif k == 7:
            sc = (f" a{i} = 1 ;  Path=/one ; path=/two ; "
                  "SAMESITE=STRICT ;;")
        elif k == 8:
            sc = f"s=1; Expires=Sunday, 06-Nov-94 08:49:37 GMT"
        elif k == 9:
            sc = (f"d=1; Domain=.WWW.{host}; path=nope" if (i // 12) % 2
                  else "d=2; Domain; Path=/")
        elif k == 10:
            sc = ("v=1; SameSite=NoNe; Max-Age=100" if (i // 12) % 2 else
                  "v=2; SameSite=Weird; HttpOnly")
        else:
            # 30-day SameSite=None boundary: exactly TRACKER_MIN_S
            sc = ('q="quoted value"; Secure; HttpOnly; '
                  "Max-Age=2592000; SameSite=none")
        rows.append({
            "url": f"https://{host}/page-{i // 3}",
            "seq": i % 3,
            "fetched_epoch": int(
                (d - _dt.datetime(1970, 1, 1)).total_seconds()),
            "set_cookie": sc})
    return rows


def sec_header_rows(n: int = 60, seed: int = 42) -> list[dict]:
    """Deterministic security-header captures (url, hsts, csp,
    referrer_policy, x_frame_options) for the posture family:
    full-strict hosts, invalid HSTS (duplicate directive / missing
    or 16-digit max-age / empty name), quoted max-age, CSP with
    unsafe-inline/eval, duplicate CSP directives (first wins), empty
    segments, bare directives, case/OWS variants, obsolete
    ALLOW-FROM, invalid tokens, and all-absent rows. Committed as
    fixtures/sec_headers_seed42_n60.parquet."""
    rows: list[dict] = []
    for i in range(n):
        # dedicated two-capture hosts: the posture grade of each
        # shape pair stays isolated (no cross-shape pollution)
        host = f"sec{i // 2}.example.net"
        r = {"url": f"https://{host}/cap-{i}", "hsts": None,
             "csp": None, "referrer_policy": None,
             "x_frame_options": None}
        k = i % 10
        if k == 0:
            r["hsts"] = ("max-age=63072000; includeSubDomains; "
                         "preload")
            r["csp"] = ("default-src 'self'; script-src 'self' "
                        "cdn.example.com; frame-ancestors 'none'")
            r["referrer_policy"] = "strict-origin-when-cross-origin"
            r["x_frame_options"] = "DENY"
        elif k == 1:
            r["hsts"] = "max-age=300; max-age=600"      # dup: invalid
            r["x_frame_options"] = "SAMEORIGIN"
        elif k == 2:
            r["hsts"] = 'max-age="86400"'
            r["csp"] = ("default-src *; script-src 'unsafe-inline' "
                        "'unsafe-eval'")
            r["referrer_policy"] = "origin"
            r["x_frame_options"] = "sameorigin"
        elif k == 3:
            r["hsts"] = "includeSubDomains"             # no max-age
            r["csp"] = ("default-src 'self'; default-src *; "
                        "img-src data:")
            r["referrer_policy"] = "no-referrer, unsafe-url"
            r["x_frame_options"] = "ALLOW-FROM https://x.example"
        elif k == 4:
            pass                                        # all absent
        elif k == 5:
            # paired with the all-absent k=4 capture on the same
            # host: the three variants max the host at score 0 / 2 /
            # 3 — grades F, D and C all reachable
            v = (i // 10) % 3
            if v == 0:
                r["hsts"] = "max-age=" + "9" * 16
            elif v == 1:
                r["hsts"] = "=x; max-age=60"
                r["csp"] = "; ; script-src 'unsafe-inline' ;"
            else:
                r["csp"] = "; ; default-src 'self' ;"
            r["referrer_policy"] = "not-a-policy"
            r["x_frame_options"] = "weird"
        elif k == 6:
            r["hsts"] = "max-age=0"                     # kill switch
            r["csp"] = "upgrade-insecure-requests"
            r["referrer_policy"] = ",same-origin,"
        elif k == 7:
            r["hsts"] = " max-age = 60 ; preload "
            r["csp"] = "default-src\t'self'"
            r["referrer_policy"] = "ORIGIN"
            r["x_frame_options"] = " deny "
        elif k == 8:
            r["hsts"] = "preload; max-age=31536000"
            r["csp"] = "script-src 'UNSAFE-INLINE'"
            r["referrer_policy"] = "no-referrer-when-downgrade"
            r["x_frame_options"] = "DENY"
        else:
            r["csp"] = "frame-ancestors 'self'"
            r["referrer_policy"] = "same-origin"
        rows.append(r)
    return rows


def bib_file_rows(n: int = 24, seed: int = 42) -> list[dict]:
    """Deterministic synthetic BibTeX files: (url, payload). Cycles
    macro definitions + # concatenation, paren-delimited entries,
    trailing commas, quoted values with protective braces, @comment
    blocks with nested braces (and a decoy entry inside), duplicate/
    case-variant fields, @preamble, undefined macros, an
    unterminated final entry after good ones, UTF-8 vs cp1252
    accents (decode fallback), fieldless keys, and '@'-free junk.
    Golden: fixtures/golden_bibtex_seed42_n24.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://bib{i % 7}.example.edu/ref-{i}.bib"
        k = i % 8
        if k == 0:
            body = (
                f'@string{{venue{i} = "Conf.~on Data"}}\n'
                f'@string{{pp = "pages " # {1 + i}}}\n'
                f"@article{{art{i},\n"
                f"  title = {{Study {i} of {{DNA}} Motifs\n"
                f"      across lines}},\n"
                f'  author = "Doe, A. and Roe, B.",\n'
                f"  year = {1990 + i},\n"
                f"  journal = venue{i},\n"
                f"  note = pp\n"
                f"}}\n"
                f"@book{{bk{i}, title = {{Vol {i}}}, year = 2001}}\n")
        elif k == 1:
            # crossref target key matches case-INsensitively
            body = (
                f"@inproceedings(conf{i},\n"
                f"  title = {{Paren Entry {i}}},\n"
                f"  booktitle = {{Proc {i}}},\n"
                f"  pages = {10 * i},\n"
                f"  crossref = {{PROC{i}}},\n"
                f")\n"
                f"@proceedings{{proc{i},\n"
                f"  booktitle = {{Shared Proc {i}}},\n"
                f"  year = {2015 + i % 5},\n"
                f"  publisher = {{Pub {i}}}\n"
                f"}}\n")
        elif k == 2:
            body = (
                f"@article{{q{i},\n"
                f'  title = "A {{"}}quoted{{"}} brace trick {i}",\n'
                f'  month = "jan" # "--" # "feb",\n'
                f"}}\n")
        elif k == 3:
            body = (
                "leading junk, not entries: a@b.c\n"
                f"@comment{{ skip {{nested {{deep}}}} "
                f"@article{{decoy{i}, x=1}} }}\n"
                f"@misc{{only{i}}}\n"
                f"@techreport{{tr{i}, institution = {{Lab {i}}}}}\n")
        elif k == 4:
            body = (
                f"@PREAMBLE{{ \"\\\\def\\\\x{{{i}}}\" }}\n"
                f"@Article{{dup{i},\n"
                f"  Year = {2000 + i},\n"
                f"  YEAR = 1111,\n"
                f"  title = {{First Wins {i}}}\n"
                f"}}\n")
        elif k == 5:
            body = (
                f"@misc{{ok{i}, note = undefined{i} # \" tail\"}}\n"
                f"@article{{bad{i}, title = {{never closed {i}\n")
        elif k == 6:
            txt = (f"@article{{u{i},\n"
                   f"  author = {{Émile Müller {i}}},\n"
                   f"  title = {{Café {i}}}\n}}\n")
            rows.append({"url": url,
                         "payload": txt.encode(
                             "utf-8" if (i // 8) % 2 else "cp1252")})
            continue
        else:
            body = ("no at-signs here at all\n" if (i // 8) % 2
                    else "")
        rows.append({"url": url, "payload": body.encode("utf-8")})
    return rows


def md_doc_rows(n: int = 20, seed: int = 42) -> list[dict]:
    """Deterministic markdown documents (url, payload) for the
    front-matter family: full Jekyll-style blocks (scalars, quoted
    values, block + inline lists, comments, duplicate keys),
    BOM/CRLF variants, '...' terminators, empty blocks, nested maps
    (ignored per subset), documents without front matter, and
    unterminated blocks. Golden:
    fixtures/golden_frontmatter_seed42_n20.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://md{i % 5}.example.dev/post-{i}.md"
        k = i % 8
        if k == 0:
            body = (f"---\n"
                    f'title: "Post {i}: a study"\n'
                    f"date: 2024-0{1 + i % 9}-15\n"
                    f"tags:\n  - nlp\n  - 'web {i}'\n"
                    f"draft: {'true' if i % 3 else 'false'}\n"
                    f"---\n# Heading\nBody {i}.\n")
        elif k == 1:
            body = (f"---\r\n"
                    f"title: CRLF Doc {i}\r\n"
                    f"categories: [a, b , \"c {i}\"]\r\n"
                    f"...\r\n"
                    f"Body.\r\n")
        elif k == 2:
            body = (f"---\n"
                    f"# build metadata\n"
                    f"title: First {i}\n"
                    f"title: Last Wins {i}\n"
                    f"weight_2: -3\n"
                    f"empty-list: []\n"
                    f"nullish:\n"
                    f"nested:\n  sub: ignored\n"
                    f"---\nBody\n")
        elif k == 3:
            body = f"# No Front Matter {i}\n\nJust prose.\n"
        elif k == 4:
            body = f"---\ntitle: Unterminated {i}\nNo end marker.\n"
        elif k == 5:
            body = ("\ufeff---\n"
                    f"author: 'O''Brien {i}'\n"
                    f"summary: \"quotes \\\" stay\"\n"
                    "---\nBody after BOM.\n")
        elif k == 6:
            body = "---\n---\nEmpty block body.\n"
        else:
            body = (f"---\n"
                    f"series:\n- one\n- two {i}\n"
                    f"rating: 4.5\n"
                    f"---\nBody.\n")
        rows.append({"url": url, "payload": body.encode("utf-8")})
    return rows


def llms_txt_rows(n: int = 16, seed: int = 42) -> list[dict]:
    """Deterministic llms.txt files (url, payload): canonical
    title+summary+sections shape, an Optional section, preamble
    links before any H2, * bullets, desc-less links, malformed
    items (ignored), multi-line blockquotes, prose noise, missing
    H1, CRLF, and empty files. Golden:
    fixtures/golden_llms_seed42_n16.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://llms{i}.example.org/llms.txt"
        k = i % 6
        if k == 0:
            body = (f"# Site {i} Docs\n\n"
                    f"> Curated docs for site {i},\n"
                    f"> ranked by usefulness.\n\n"
                    f"Some prose the parser ignores.\n\n"
                    f"## Docs\n"
                    f"- [Intro](https://s{i}.example.org/intro.md):"
                    f" Start here\n"
                    f"- [API](https://s{i}.example.org/api.md): "
                    f"Reference\n\n"
                    f"## Optional\n"
                    f"- [Changelog](https://s{i}.example.org/"
                    f"log.md)\n")
        elif k == 1:
            body = (f"# Minimal {i}\n"
                    f"- [Pre](https://p{i}.example.org/a): before "
                    f"any section\n"
                    f"## Guides\n"
                    f"* [Star bullet](https://p{i}.example.org/b)\n"
                    f"-[no space](https://bad.example.org)\n"
                    f"- [unclosed](https://bad.example.org\n")
        elif k == 2:
            body = (f"## Sectionless Title {i}\r\n"
                    f"- [CRLF](https://c{i}.example.org/x): desc "
                    f"with: colon\r\n")
        elif k == 3:
            body = (f"> Quote without title {i}\n\n"
                    f"# Late Title {i}\n"
                    f"# Second H1 ignored\n"
                    f"## S\n"
                    f"- [L](https://l{i}.example.org/)\n")
        elif k == 4:
            body = f"Just prose {i}, no structure at all.\n"
        else:
            body = ""
        rows.append({"url": url, "payload": body.encode("utf-8")})
    return rows


def license_page_rows(n: int = 40, seed: int = 42) -> list[dict]:
    """Deterministic license-signal rows (url, href, text) — href
    rows are outgoing links (text NULL), text rows are page bodies
    (href NULL). Cycles CC license/CC0 links (with deed suffixes and
    query strings), SPDX tags, phrase boilerplate, channel conflicts
    (link must win), multi-phrase pages, and signal-free pages.
    Committed as fixtures/license_pages_seed42_n40.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://lic{i}.example.org/page"
        k = i % 10
        if k == 0:
            rows.append({"url": url, "href":
                         "https://creativecommons.org/licenses/"
                         "by/4.0/", "text": None})
            rows.append({"url": url, "href": None, "text":
                         f"Footer {i}. All Rights Reserved."})
        elif k == 1:
            rows.append({"url": url, "href":
                         "http://creativecommons.org/licenses/"
                         "by-sa/3.0/deed.en", "text": None})
        elif k == 2:
            rows.append({"url": url, "href":
                         "https://creativecommons.org/publicdomain/"
                         "zero/1.0/?ref=chooser", "text": None})
        elif k == 3:
            rows.append({"url": url, "href": None, "text":
                         f"// SPDX-License-Identifier: MIT\n"
                         f"code body {i}"})
        elif k == 4:
            rows.append({"url": url, "href": None, "text":
                         f"Para {i}. Licensed under the Apache "
                         'License, Version 2.0 (the "License").'})
        elif k == 5:
            rows.append({"url": url, "href": None, "text":
                         f"Dual {i}: the MIT License or the GNU "
                         "General Public License."})
        elif k == 6:
            rows.append({"url": url, "href":
                         f"https://other{i}.example.com/about",
                         "text": None})
            rows.append({"url": url, "href": None, "text":
                         f"No license words here {i}."})
        elif k == 7:
            rows.append({"url": url, "href":
                         "https://creativecommons.org/licenses/"
                         "by-nc-nd/2.5/", "text": None})
        elif k == 8:
            rows.append({"url": url, "href": None, "text":
                         f"SPDX-License-Identifier: GPL-3.0-only\n"
                         f"see COPYING {i}"})
            rows.append({"url": url, "href":
                         "https://creativecommons.org/licenses/"
                         "by-nd/4.0/legalcode", "text": None})
        else:
            rows.append({"url": url, "href": None, "text":
                         f"Copyright {1990 + i}. all rights "
                         "reserved. Contact us."})
    return rows


def infra_header_rows(n: int = 48, seed: int = 42) -> list[dict]:
    """Deterministic infrastructure headers (url, alt_svc, server):
    h3/h2 alternatives with ma/persist params, `clear`, dropped
    shapes (no '=', portless authority, bad port), last-VALID-wins
    duplicate ma, quoted commas inside authorities, untrusted
    16-digit ma (falls back to the spec default), and Server values
    with nested comments / bare products / IIS-style versions.
    Committed as fixtures/infra_headers_seed42_n48.parquet."""
    rows: list[dict] = []
    for i in range(n):
        host = f"infra{i // 2}.example.net"
        r = {"url": f"https://{host}/cap-{i}", "alt_svc": None,
             "server": None}
        k = i % 8
        if k == 0:
            r["alt_svc"] = (f'h3=":443"; ma={3600 * (1 + i % 9)}, '
                            'h2=":443"')
            r["server"] = f"nginx/1.25.{i % 4}"
        elif k == 1:
            r["alt_svc"] = (f'h3-29="alt{i}.example.com:8443"; '
                            "persist=1")
            r["server"] = ("Apache/2.4.57 (Ubuntu) "
                           "OpenSSL/3.0.2")
        elif k == 2:
            r["alt_svc"] = "clear"
            r["server"] = "cloudflare"
        elif k == 3:
            r["server"] = "Microsoft-IIS/10.0"
        elif k == 4:
            r["alt_svc"] = ('h2=":443"; ma=abc; ma=60, bogus, '
                            '=x, h3=":99999"')
            r["server"] = "gws (comment (nested) more) Product/1.2"
        elif k == 5:
            r["alt_svc"] = (f'h3="noport.example", h3=":443"; '
                            f'ma={"9" * 16}')
        elif k == 6:
            r["alt_svc"] = 'h3=":443"; x="a,b", h2=":443"; ma=300'
            r["server"] = "Varnish"
        # k == 7: both absent
        rows.append(r)
    return rows


def csv_file_rows(n: int = 18, seed: int = 42) -> list[dict]:
    """Deterministic CSV/DSV files (url, payload): comma files with
    quoted escapes + headers, semicolon files without headers
    (numeric first row), ragged TSVs (rows wider than the header),
    pipe files with CRLF + empty physical rows, quoted embedded
    newlines with utf-8/cp1252 variants, single-column files and
    empty payloads. Golden:
    fixtures/golden_csv_seed42_n18.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://data{i}.example.org/t-{i}.csv"
        k = i % 6
        if k == 0:
            body = (f'id,name,note\n{i},"Smith, J.","say ""hi"""\n'
                    f'{i + 1},Plain,last\n')
        elif k == 1:
            body = f"{i};2;3\n4;5;6\n7;8;9\n"
        elif k == 2:
            body = (f"a\tb\nv{i}\tw\tEXTRA\nx\t\n")
        elif k == 3:
            body = (f"h1|h2\r\n\r\np{i}|q\r\nr|s\r\n")
        elif k == 4:
            txt = (f'k,v\n"multi\nline {i}","Caf\xe9"\n')
            rows.append({"url": url, "payload": txt.encode(
                "utf-8" if (i // 6) % 2 else "cp1252")})
            continue
        else:
            body = (f"single column only {i}\nsecond line\n"
                    if (i // 6) % 2 else "")
        rows.append({"url": url, "payload": body.encode("utf-8")})
    return rows


def xlsx_file_rows(n: int = 16, seed: int = 42) -> list[dict]:
    """Deterministic XLSX workbooks (url, payload): shared-string
    files with headers + mixed types, inline-string streaming shape
    (no r= refs, gaps collapse), multi-sheet incl. an empty sheet,
    headerless numeric sheets, a hand-built file with rich-text
    shared strings + NO rels part + out-of-bounds refs (sequential
    fallback), and non-workbook payloads (empty bytes / plain zip)
    that the reader skips. Golden:
    fixtures/golden_xlsx_seed42_n16.parquet."""
    import io
    import zipfile

    from .extractor import xlsxx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://sheets{i}.example.org/wb-{i}.xlsx"
        k = i % 6
        if k == 0:
            payload = xlsxx.make_xlsx([("Data", [
                ["sku", "qty", "price", "active"],
                [f"A-{i}", i, 1.5 + i, True],
                [f"B-{i}", 2 * i, 0.25, False]])])
        elif k == 1:
            payload = xlsxx.make_xlsx(
                [("Log", [["a", None, "c"], [1, 2],
                          [None, None, f"tail {i}"]])],
                shared_strings=False, write_refs=False)
        elif k == 2:
            payload = xlsxx.make_xlsx([
                ("Q1", [["region", "rev"], ["north", 10 + i],
                        ["south", 20 + i]]),
                ("Notes", [[f"only cell {i}"]]),
                ("Blank", [])])
        elif k == 3:
            payload = xlsxx.make_xlsx(
                [("Nums", [[i, 2, 3], [4.5, 6, 7]])])
        elif k == 4:
            ws = (f'<worksheet xmlns="{xlsxx._M}"><sheetData>'
                  '<row r="1"><c r="A1" t="s"><v>0</v></c>'
                  '<c r="B1" t="s"><v>1</v></c></row>'
                  # out-of-bounds row ref -> sequential (row 1);
                  # bad col ref + shared index miss -> NULL value
                  '<row r="9999999"><c r="XFE1" t="s"><v>9</v></c>'
                  '<c t="e"><v>#DIV/0!</v></c></row>'
                  "</sheetData></worksheet>")
            ss = (f'<sst xmlns="{xlsxx._M}"><si><r><t>Hello </t>'
                  f"</r><r><t>World {i}</t></r></si>"
                  "<si><t>Café</t></si></sst>")
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as zf:
                zf.writestr("xl/workbook.xml", (
                    f'<workbook xmlns="{xlsxx._M}" '
                    f'xmlns:r="{xlsxx._R}"><sheets>'
                    '<sheet name="Rich" sheetId="1" r:id="rId1"/>'
                    "</sheets></workbook>"))
                zf.writestr("xl/worksheets/sheet1.xml", ws)
                zf.writestr("xl/sharedStrings.xml", ss)
            payload = buf.getvalue()
        else:
            if (i // 6) % 2:
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("readme.txt", "not a workbook")
                payload = buf.getvalue()
            else:
                payload = b""
        rows.append({"url": url, "payload": payload})
    return rows


def po_file_rows(n: int = 20, seed: int = 42) -> list[dict]:
    """Deterministic gettext PO catalogs (url, payload): fr/de/ja
    headers (Language + Plural-Forms), fuzzy and obsolete entries,
    msgctxt, plural forms, width-wrapped literals, C escapes (incl.
    an unknown one kept verbatim), untranslated + length-ratio
    outlier entries for the bitext gate, a headerless file with a
    malformed entry, a cp1252 payload, and empty payloads. Golden:
    fixtures/golden_po_seed42_n20.parquet."""
    from .extractor import pox

    rows: list[dict] = []
    for i in range(n):
        url = f"https://l10n{i}.example.org/app-{i}.po"
        k = i % 5
        if k == 0:
            body = pox.build_po(
                [{"msgid": f"Hello world {i}",
                  "msgstr": f"Bonjour le monde {i}",
                  "refs": ["src/main.c:10", "src/ui.c:42"]},
                 {"msgid": "Save file", "msgstr": "Enregistrer",
                  "fuzzy": True},
                 {"msgid": "Quit", "msgstr": "Quitter"}],
                header={"Project-Id-Version": f"app {i}",
                        "Language": "fr",
                        "Plural-Forms":
                            "nplurals=2; plural=(n > 1);"})
        elif k == 1:
            body = pox.build_po(
                [{"ctxt": "menu", "msgid": "Open",
                  "msgstr": "Öffnen"},
                 {"msgid": "%d file", "msgid_plural": "%d files",
                  "msgstr": "%d Datei", "msgstr_1": "%d Dateien",
                  "n_plurals": 2},
                 {"msgid": "A long sentence about document "
                           f"processing number {i}",
                  "msgstr": "Ein langer Satz über die "
                            f"Dokumentverarbeitung Nummer {i}"}],
                header={"Language": "de"}, width=24)
        elif k == 2:
            body = pox.build_po(
                [{"msgid": "Cancel", "msgstr": "キャンセル"},
                 # untranslated: empty msgstr (gate drops)
                 {"msgid": f"Pending string {i}", "msgstr": ""},
                 # ratio outlier: target 4x the source (gate drops
                 # at max_ratio=3)
                 {"msgid": "Hi", "msgstr": "x" * 40}],
                header={"Language": "ja",
                        "Plural-Forms": "nplurals=1; plural=0;"})
        elif k == 3:
            body = (f'msgid "escaped\\tok {i}"\n'
                    'msgstr "line1\\nline2 \\"q\\" \\q"\n'
                    "\n"
                    'msgid "broken\n'
                    'msgstr "dropped"\n'
                    "\n"
                    '#~ msgid "old"\n'
                    '#~ msgstr "alt"\n')
        else:
            if (i // 5) % 2:
                body = pox.build_po(
                    [{"msgid": "Coffee", "msgstr": "Caf\xe9"}],
                    header={"Language": "fr"})
                rows.append({"url": url,
                             "payload": body.encode("cp1252")})
                continue
            body = ""
        rows.append({"url": url, "payload": body.encode("utf-8")})
    return rows


def tmx_file_rows(n: int = 16, seed: int = 42) -> list[dict]:
    """Deterministic TMX memories (url, payload): en->fr/de pairs
    with tuids, a 3-language tu, inline code tags (bpt/ept/ph
    dropped, hi kept), srclang='*all*' (first tuv = source),
    region-cased langs (EN-US lowercased), a tuv missing its lang
    (skipped), ratio outliers for the gate, namespaced documents,
    and malformed/non-tmx payloads. Golden:
    fixtures/golden_tmx_seed42_n16.parquet."""
    from .extractor import tmxx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://tm{i}.example.org/mem-{i}.tmx"
        k = i % 5
        if k == 0:
            body = tmxx.build_tmx([
                {"tuid": f"t{i}-1", "tuvs": [
                    ("en", f"Click the button {i}"),
                    ("fr", f"Cliquez sur le bouton {i}")]},
                {"tuid": f"t{i}-2", "tuvs": [
                    ("en", "Save <bpt i=\"1\">&lt;b&gt;</bpt>now"
                           "<ept i=\"1\">&lt;/b&gt;</ept> please"),
                    ("fr", "Enregistrez <hi>maintenant</hi> svp")]},
            ], srclang="en")
        elif k == 1:
            body = tmxx.build_tmx([
                {"tuid": None, "tuvs": [
                    ("EN-US", f"Color {i}"),
                    ("en-GB", f"Colour {i}"),
                    ("de", f"Farbe {i}")]},
            ], srclang="EN-US")
        elif k == 2:
            # *all*: first tuv is the source; one tuv lacks lang
            body = tmxx.build_tmx([
                {"tuid": f"a{i}", "tuvs": [
                    ("ja", f"設定 {i}"), ("en", f"Settings {i}")]},
                {"tuid": f"b{i}", "tuvs": [
                    ("en", "Hi"), ("de", "x" * 40)]},
            ], srclang="*all*").replace(
                f'<tuv xml:lang="ja"><seg>設定 {i}</seg></tuv>',
                f'<tuv xml:lang="ja"><seg>設定 {i}</seg></tuv>'
                '<tuv><seg>no lang</seg></tuv>', 1)
        elif k == 3:
            # namespaced document, ph code dropped (tail kept)
            body = (f'<x:tmx xmlns:x="urn:ex" version="1.4">'
                    '<x:header srclang="en"/>'
                    '<x:body><x:tu tuid="ns1">'
                    '<x:tuv xml:lang="en"><x:seg>Print '
                    '<x:ph x="1">%s</x:ph> pages</x:seg></x:tuv>'
                    f'<x:tuv xml:lang="es"><x:seg>Imprimir {i} '
                    "páginas</x:seg></x:tuv>"
                    "</x:tu></x:body></x:tmx>")
        else:
            body = ("<notatmx/>" if (i // 5) % 2
                    else "<tmx version='1.4'><body><tu>broken")
        rows.append({"url": url, "payload": body.encode("utf-8")})
    return rows


def diff_file_rows(n: int = 40, seed: int = 42) -> list[dict]:
    """Deterministic synthetic patch files: (url, payload). Cycles
    git-style multi-file patches (multi-hunk modify with section
    headers, rename + similarity, new/deleted file via /dev/null,
    binary markers, quoted paths with escapes), plain unified diffs
    with TAB+timestamp headers, format-patch mail framing around the
    diff, and junk payloads with no sections (F5). Feeds
    fixtures/golden_diff_hunks_seed42_n*.parquet."""
    out = []
    for i in range(n):
        rng = _rng(seed * 479001599, i)
        url = f"patch://change-{i}"
        k = i % 6
        if k == 5:
            out.append({"url": url, "payload": _garbage(rng, i)
                        if i % 2 else b"just words\nno diff here\n"})
            continue
        chunks: list[str] = []
        if k == 4:
            # format-patch mail framing: headers + commit message
            chunks += [f"From {i:040x} Mon Sep 17 00:00:00 2001",
                       f"From: Dev {i % 7} <dev{i % 7}@example.com>",
                       f"Subject: [PATCH] change {i}",
                       "", f"{_sentence(rng, 4, 9)}", "---", ""]
        path = f"src/mod_{i % 9}/file_{i}.py"
        chunks += [f"diff --git a/{path} b/{path}",
                   f"index {i:07x}..{i + 1:07x} 100644",
                   f"--- a/{path}", f"+++ b/{path}"]
        for h in range(1 + i % 3):
            old_start = 10 + h * 30 + i % 7
            n_ctx, n_add, n_rem = 2, 1 + (i + h) % 3, (i + h) % 2
            old_len = n_ctx * 2 + n_rem
            new_len = n_ctx * 2 + n_add
            sec = f"def fn_{h}():" if h % 2 else None
            chunks.append(
                f"@@ -{old_start},{old_len} "
                f"+{old_start + h},{new_len} @@"
                + (f" {sec}" if sec else ""))
            chunks += [f" ctx {h} a", f" ctx {h} b"]
            chunks += [f"-removed {i}-{h}-{r}" for r in range(n_rem)]
            chunks += [f"+added {_sentence(rng, 2, 4)}"
                       for _ in range(n_add)]
            chunks += [f" ctx {h} c", f" ctx {h} d"]
        if k == 1:
            old = f"docs/old {i}.md"
            chunks += [f'diff --git "a/{old}" "b/docs/new\\t{i}.md"',
                       f"similarity index {80 + i % 20}%",
                       f"rename from {old}",
                       f"rename to docs/new\\t{i}.md"]
            chunks += [f"diff --git a/img_{i}.png b/img_{i}.png",
                       f"Binary files a/img_{i}.png and "
                       f"b/img_{i}.png differ"]
        elif k == 2:
            chunks += [f"diff --git a/new_{i}.cfg b/new_{i}.cfg",
                       "new file mode 100644",
                       "--- /dev/null", f"+++ b/new_{i}.cfg",
                       f"@@ -0,0 +1,{2 + i % 3} @@"]
            chunks += [f"+cfg line {j}" for j in range(2 + i % 3)]
            chunks += ["\\ No newline at end of file"]
        elif k == 3:
            chunks += [f"--- lib/gone_{i}.c\t2024-01-01 00:00:00",
                       "+++ /dev/null",
                       "@@ -1,2 +0,0 @@", f"-line one {i}",
                       "-line two"]
        payload = ("\n".join(chunks) + "\n").encode()
        out.append({"url": url, "payload": payload})
    return out


def mhtml_file_rows(n: int = 16, seed: int = 42) -> list[dict]:
    """Deterministic MHTML snapshots: (url, payload). Shapes cycle
    i % 5: Chrome-style snapshot (html root + png + css, Snapshot-
    Content-Location) / start-param root selection with a subframe
    and a font / no snapshot header + qp special chars (url from the
    root's Content-Location) / non-HTML root + a cid-only part /
    malformed payloads (wrong multipart class, truncation, garbage).
    Golden: fixtures/golden_mhtml_seed42_n16.parquet."""
    from .extractor import mhtmlx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://archive{i}.example.org/saved-{i}.mht"
        k = i % 5
        page = f"https://site{i}.example.com/article/{i}"
        if k == 0:
            html = (f"<html><head><title>Article {i}</title></head>"
                    f"<body><div class='content'><p>Saved article "
                    f"number {i} with several words of body text "
                    f"for extraction.</p></div>"
                    f"<img src='img/hero-{i}.png'></body></html>")
            payload = mhtmlx.build_mhtml(
                f"----MultipartBoundary--{i:04d}", [
                    {"content_type": "text/html; charset=utf-8",
                     "location": page, "cid": f"frame-{i}",
                     "text": html},
                    {"content_type": "image/png",
                     "location": f"https://site{i}.example.com/"
                                 f"img/hero-{i}.png",
                     "body": b"\x89PNG\r\n\x1a\n" + bytes(24)},
                    {"content_type": "text/css",
                     "location": f"https://site{i}.example.com/s.css",
                     "text": f".a{i}{{margin:0}}"},
                ], snapshot_url=page, start=f"frame-{i}")
        elif k == 1:
            payload = mhtmlx.build_mhtml(f"bnd-{i}", [
                {"content_type": "text/html",
                 "location": f"{page}/iframe", "cid": f"sub-{i}",
                 "text": f"<p>subframe {i}</p>"},
                {"content_type": "text/html; charset=utf-8",
                 "location": page, "cid": f"main-{i}",
                 "text": f"<html><body><h1>Main {i}</h1><p>The "
                         f"start parameter selects this part even "
                         f"though it is second.</p></body></html>"},
                {"content_type": "font/woff2",
                 "location": f"https://cdn{i}.example.com/f.woff2",
                 "body": b"wOF2" + bytes(16 + i)},
            ], snapshot_url=page, start=f"main-{i}")
        elif k == 2:
            html = (f"<html><body><p>Café numéro {i} = "
                    f"spécial</p></body></html>")
            payload = mhtmlx.build_mhtml(f"b{i}", [
                {"content_type": "text/html; charset=utf-8",
                 "location": page, "text": html},
            ])
        elif k == 3:
            payload = mhtmlx.build_mhtml(f"b{i}", [
                {"content_type": "text/plain",
                 "location": f"{page}.txt",
                 "text": f"plain root {i}"},
                {"content_type": "application/octet-stream",
                 "cid": f"blob-{i}", "body": bytes(10 + i)},
            ], snapshot_url=f"{page}.txt")
        else:
            variant = (i // 5) % 3
            if variant == 0:
                payload = (b"MIME-Version: 1.0\r\nContent-Type: "
                           b"multipart/mixed; boundary=\"x\"\r\n"
                           b"\r\n--x\r\nContent-Type: text/html\r\n"
                           b"\r\n<p>not related</p>\r\n--x--\r\n")
            elif variant == 1:
                good = mhtmlx.build_mhtml(f"b{i}", [
                    {"content_type": "text/html", "location": page,
                     "text": "<p>cut</p>"}])
                payload = good[:40]
            else:
                payload = b"\x00\x01garbage not mime\xff"
        rows.append({"url": url, "payload": payload})
    return rows


def har_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic HAR exports: (url, payload). Shapes cycle
    i % 4: single-page load (document + css + js + img + xhr, a
    third-party CDN, h2, exact .5ms timings) / two pages with a
    redirect hop and -1 unknown sizes / edge fields (no pageref,
    charset-parameterized mime, status 0 abort, missing timings) /
    malformed payloads (non-JSON, no log, entries not a list).
    Golden: fixtures/golden_har_seed42_n12.parquet."""
    from .extractor import harx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://qa{i}.example.org/capture-{i}.har"
        k = i % 4
        site = f"https://www.shop{i}.example.com"
        if k == 0:
            pages = [{"id": f"page_{i}_1",
                      "startedDateTime": f"2026-03-0{i % 9 + 1}"
                                         "T10:00:00.000Z",
                      "title": f"Shop {i} — home",
                      "pageTimings": {"onContentLoad": 240.5 + i,
                                      "onLoad": 900.25 + i}}]
            entries = [
                {"pageref": f"page_{i}_1",
                 "startedDateTime": f"2026-03-0{i % 9 + 1}"
                                    "T10:00:00.100Z",
                 "request": {"method": "GET", "url": f"{site}/"},
                 "response": {"status": 200, "statusText": "OK",
                              "httpVersion": "h2",
                              "bodySize": 14200 + i,
                              "content": {"size": 50100 + i,
                                          "mimeType":
                                          "text/html; charset=utf-8"}},
                 "time": 120.5, "serverIPAddress": "203.0.113.7"},
                {"pageref": f"page_{i}_1",
                 "request": {"method": "GET",
                             "url": f"{site}/assets/app.css"},
                 "response": {"status": 200, "statusText": "OK",
                              "httpVersion": "h2", "bodySize": 8000,
                              "content": {"size": 31000,
                                          "mimeType": "text/css"}},
                 "time": 45.25},
                {"pageref": f"page_{i}_1",
                 "request": {"method": "GET",
                             "url": f"https://cdn{i}.example.net/"
                                    f"lib/app.js"},
                 "response": {"status": 200, "statusText": "OK",
                              "httpVersion": "h2",
                              "bodySize": 52000 + i,
                              "content": {"size": 160000,
                                          "mimeType":
                                          "application/javascript"}},
                 "time": 88.5, "serverIPAddress": "198.51.100.9"},
                {"pageref": f"page_{i}_1",
                 "request": {"method": "GET",
                             "url": f"{site}/img/hero.webp"},
                 "response": {"status": 200, "statusText": "OK",
                              "httpVersion": "h2", "bodySize": 91000,
                              "content": {"size": 91000,
                                          "mimeType": "image/webp"}},
                 "time": 160.75},
                {"pageref": f"page_{i}_1",
                 "request": {"method": "POST",
                             "url": f"{site}/api/cart"},
                 "response": {"status": 201, "statusText": "Created",
                              "httpVersion": "h2", "bodySize": 310,
                              "content": {"size": 310,
                                          "mimeType":
                                          "application/json"}},
                 "time": 65.0},
            ]
        elif k == 1:
            pages = [{"id": f"p{i}a",
                      "startedDateTime": "2026-04-01T08:00:00.000Z",
                      "title": f"Landing {i}",
                      "pageTimings": {"onLoad": 500.5}},
                     {"id": f"p{i}b",
                      "startedDateTime": "2026-04-01T08:00:05.000Z",
                      "title": f"Checkout {i}",
                      "pageTimings": {"onContentLoad": 220.0}}]
            entries = [
                {"pageref": f"p{i}a",
                 "request": {"method": "GET",
                             "url": f"http://shop{i}.example.com/"},
                 "response": {"status": 301,
                              "statusText": "Moved Permanently",
                              "httpVersion": "HTTP/1.1",
                              "bodySize": -1,
                              "content": {"size": -1,
                                          "mimeType": ""}},
                 "time": 30.5},
                {"pageref": f"p{i}a",
                 "request": {"method": "GET", "url": f"{site}/"},
                 "response": {"status": 200, "statusText": "OK",
                              "httpVersion": "h2", "bodySize": 12000,
                              "content": {"size": 40000 + i,
                                          "mimeType": "text/html"}},
                 "time": 110.25},
                {"pageref": f"p{i}b",
                 "request": {"method": "GET",
                             "url": f"{site}/checkout"},
                 "response": {"status": 200, "statusText": "OK",
                              "httpVersion": "h2", "bodySize": 9000,
                              "content": {"size": 22000,
                                          "mimeType": "text/html"}},
                 "time": 95.0},
            ]
        elif k == 2:
            pages = []
            entries = [
                {"request": {"method": "GET",
                             "url": f"{site}/orphan.json"},
                 "response": {"status": 200,
                              "content": {"size": 512,
                                          "mimeType":
                                          "APPLICATION/JSON; "
                                          "charset=UTF-8"}}},
                {"request": {"method": "GET",
                             "url": f"{site}/aborted.png"},
                 "response": {"status": 0, "statusText": "",
                              "content": {}},
                 "time": -1},
                "not-an-entry",
            ]
        else:
            variant = (i // 4) % 3
            if variant == 0:
                rows.append({"url": url, "payload": b"not json {"})
                continue
            if variant == 1:
                rows.append({"url": url,
                             "payload": b'{"version": "1.2"}'})
                continue
            rows.append({"url": url,
                         "payload": b'{"log": {"entries": 42}}'})
            continue
        rows.append({"url": url,
                     "payload": harx.build_har(pages, entries)})
    return rows


def vcf_file_rows(n: int = 16, seed: int = 42) -> list[dict]:
    """Deterministic vCard files: (url, payload). Shapes cycle
    i % 4: v4.0 full card (groups, TYPE lists, escaped NOTE, long
    folded URL) / multi-card v3.0 directory export (3 cards,
    repeated TYPE= params) / v2.1 bare-param legacy + an
    unterminated trailing card (dropped) / junk payloads.
    Golden: fixtures/golden_vcards_seed42_n16.parquet."""
    from .extractor import vcardx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://contacts{i}.example.org/export-{i}.vcf"
        k = i % 4
        if k == 0:
            payload = vcardx.build_vcard([[
                "VERSION:4.0",
                f"FN:Person {i} Longname",
                f"N:Longname;Person {i};;;",
                f"ORG:Org {i} GmbH;Research",
                f"EMAIL;TYPE=work:p{i}@org{i}.example",
                f"EMAIL;TYPE=home:p{i}@mail.example",
                f'TEL;TYPE="cell,voice":+49 30 {1000 + i}',
                f"item1.URL:https://org{i}.example/people/"
                f"person-{i}/profile-page-with-long-slug",
                "NOTE:First line\\nSecond\\, escaped; tail",
                f"CATEGORIES:staff,team{i % 3}",
                f"UID:urn:uuid:0000-{i:04d}",
            ]])
        elif k == 1:
            cards = []
            for j in range(3):
                cards.append([
                    "VERSION:3.0",
                    f"FN:Member {i}-{j}",
                    f"EMAIL;TYPE=INTERNET;TYPE=WORK:m{j}@"
                    f"club{i}.example",
                    f"TEL;TYPE=HOME;TYPE=VOICE:555-0{i}{j}",
                ] + ([f"ORG:Club {i}"] if j == 0 else []))
            payload = vcardx.build_vcard(cards)
        elif k == 2:
            payload = vcardx.build_vcard([[
                "VERSION:2.1",
                f"FN:Legacy {i}",
                f"TEL;HOME;VOICE:555-1{i:03d}",
                f"EMAIL;INTERNET:l{i}@old.example",
                f"ADR;WORK:;;Main St {i};Town;;12345;DE",
            ]]) + b"BEGIN:VCARD\r\nFN:Truncated\r\n"
        else:
            variant = (i // 4) % 2
            payload = (b"not a vcard at all"
                       if variant == 0 else b"\xff\xfe\x00junk")
        rows.append({"url": url, "payload": payload})
    return rows


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


def thread_msg_rows() -> list[dict]:
    """Deterministic reply-forest fixture for thread_roots: archive
    A = linear chain depth 9 (forces >3 doubling rounds), B =
    forked tree + a second root, C = dangling parent (archive
    truncated), D = REUSES archive A's message ids with different
    links (partition isolation), plus an empty-id row (ignored)."""
    rows: list[dict] = []
    a = "https://lists.example.org/a"
    rows.append({"url": a, "message_id": "m0", "in_reply_to": ""})
    for j in range(1, 10):
        rows.append({"url": a, "message_id": f"m{j}",
                     "in_reply_to": f"m{j - 1}"})
    b = "https://lists.example.org/b"
    rows += [
        {"url": b, "message_id": "r", "in_reply_to": ""},
        {"url": b, "message_id": "c1", "in_reply_to": "r"},
        {"url": b, "message_id": "c2", "in_reply_to": "r"},
        {"url": b, "message_id": "g1", "in_reply_to": "c1"},
        {"url": b, "message_id": "g2", "in_reply_to": "c1"},
        {"url": b, "message_id": "g3", "in_reply_to": "c2"},
        {"url": b, "message_id": "r2", "in_reply_to": ""},
        {"url": b, "message_id": "r2c", "in_reply_to": "r2"},
        {"url": b, "message_id": "", "in_reply_to": "r"},
    ]
    c = "https://lists.example.org/c"
    rows += [
        {"url": c, "message_id": "x1", "in_reply_to": "lost-head"},
        {"url": c, "message_id": "x2", "in_reply_to": "x1"},
    ]
    d = "https://lists.example.org/d"
    rows += [
        {"url": d, "message_id": "m2", "in_reply_to": ""},
        {"url": d, "message_id": "m0", "in_reply_to": "m2"},
        {"url": d, "message_id": "m1", "in_reply_to": "m0"},
    ]
    return rows


def gpx_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic GPX files: (url, payload). Shapes cycle i % 4:
    namespaced 2-track run with waypoints + an out-of-range point
    (dropped) / multi-segment hike with sparse timestamps /
    waypoints-only POI file with fractional-second times / junk
    payloads. Golden: fixtures/golden_gpx_seed42_n12.parquet."""
    from .extractor import gpxx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://tracks{i}.example.org/activity-{i}.gpx"
        k = i % 4
        base_lat, base_lon = 52.0 + i * 0.25, 13.0 + i * 0.125
        t0 = f"2026-05-{i % 28 + 1:02d}T08:00:"
        if k == 0:
            segs = [[(base_lat + j * 0.001, base_lon + j * 0.002,
                      30.0 + j, f"{t0}{j * 15:02d}Z")
                     for j in range(4)]]
            payload = gpxx.build_gpx(
                [{"name": f"Run {i}", "segments": segs},
                 {"name": f"Cooldown {i}", "segments": [
                     [(base_lat, base_lon, None, None),
                      (91.5, base_lon, None, None),
                      (base_lat + 0.01, base_lon + 0.01, 31.0,
                       None)]]}],
                waypoints=[{"name": f"Start {i}", "lat": base_lat,
                            "lon": base_lon, "ele": 30.0,
                            "time": f"{t0}00Z"}],
                ns=True)
        elif k == 1:
            segs = [[(base_lat + j * 0.01, base_lon, 100.0 + 10 * j,
                      f"{t0}{j * 20:02d}Z" if j % 2 == 0 else None)
                     for j in range(3)],
                    [(base_lat + 0.1, base_lon + 0.1, 140.0,
                      f"2026-05-{i % 28 + 1:02d}T09:30:00Z")]]
            payload = gpxx.build_gpx(
                [{"name": f"Hike {i}", "segments": segs}])
        elif k == 2:
            payload = gpxx.build_gpx([], waypoints=[
                {"name": f"POI {i}-{j}", "lat": base_lat + j,
                 "lon": base_lon - j, "ele": None,
                 "time": f"{t0}{10 + j:02d}.500Z"}
                for j in range(3)])
        else:
            variant = (i // 4) % 3
            payload = (b"<html><body>nope</body></html>"
                       if variant == 0 else b"<gpx><trk>"
                       if variant == 1 else b"\x00\x01binary")
        rows.append({"url": url, "payload": payload})
    return rows


def bookmark_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic Netscape bookmark exports: (url, payload).
    Shapes cycle i % 4: nested folders with tags + timestamps /
    flat list with entity titles / legacy quirks (stray close tags,
    attribute-less anchors skipped, single-quoted attrs) / junk.
    Golden: fixtures/golden_bookmarks_seed42_n12.parquet."""
    from .extractor import bookmarkx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://user{i}.example.org/bookmarks-{i}.html"
        k = i % 4
        t0 = 1700000000 + i * 1000
        if k == 0:
            payload = bookmarkx.build_bookmarks([
                {"href": f"https://start{i}.example/", "title":
                 f"Start page {i}", "add_date": t0},
                {"folder": f"Work {i}", "add_date": t0 + 1,
                 "children": [
                     {"href": f"https://tool{i}.example/app",
                      "title": f"Tool {i}", "add_date": t0 + 2,
                      "tags": f"dev,team{i % 3}"},
                     {"folder": "Deep", "children": [
                         {"href": f"https://deep{i}.example/doc",
                          "title": "Spec", "add_date": t0 + 3,
                          "last_modified": t0 + 50}]},
                 ]},
                {"folder": "News", "children": [
                    {"href": f"https://news{i}.example/",
                     "title": f"Daily {i}"}]},
            ])
        elif k == 1:
            payload = bookmarkx.build_bookmarks([
                {"href": f"https://a{i}.example/x?y={i}",
                 "title": f"A &amp; B {i}", "add_date": t0},
                {"href": f"https://b{i}.example/",
                 "title": "Caf&eacute; list", "tags": "food"},
            ])
        elif k == 2:
            payload = (
                b"</DL><p>\n<DT><A HREF='https://sq" +
                str(i).encode() + b".example/one' ADD_DATE='" +
                str(t0).encode() + b"'>Single quoted</A>\n"
                b"<DT><A NAME=noref>no href here</A>\n"
                b"<DT><A HREF=https://bare" + str(i).encode() +
                b".example/two LAST_MODIFIED=\"99999999999999999999"
                b"\">bare attr</A>")
        else:
            payload = (b"\xff\xfeII*\x00junk" if (i // 4) % 2
                       else b"<html><body><p>plain</p></body>"
                            b"</html>")
        rows.append({"url": url, "payload": payload})
    return rows


def manifest_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic Web App Manifests: (url, payload). Shapes
    cycle i % 4: full PWA manifest with icon ladder / minimal with
    INVALID display (gated to None) + non-dict icon entries
    skipped / unicode names + maskable icons / junk payloads."""
    from .extractor import manifestx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://app{i}.example.org/manifest.json"
        k = i % 4
        if k == 0:
            payload = manifestx.build_manifest(
                name=f"Example App {i}",
                short_name=f"App{i}",
                start_url="/",
                scope="/",
                display="standalone",
                theme_color="#0d47a1",
                background_color="#ffffff",
                lang="en-US",
                icons=[{"src": f"/icons/app-{i}-{s}.png",
                        "sizes": f"{s}x{s}",
                        "type": "image/png"}
                       for s in (192, 512)])
        elif k == 1:
            payload = manifestx.build_manifest(
                name=f"Minimal {i}",
                display="popup-window",          # invalid -> None
                start_url=f"/home?v={i}",
                icons=["not-a-dict",
                       {"sizes": "64x64"},       # no src -> skipped
                       {"src": "/i.svg", "type": "image/svg+xml"}])
        elif k == 2:
            payload = manifestx.build_manifest(
                name=f"アプリ {i}",
                short_name=f"ア{i}",
                display="MINIMAL-UI",            # case-normalized
                lang="ja",
                icons=[{"src": "/maskable.png", "sizes": "512x512",
                        "purpose": "maskable any"}])
        else:
            variant = (i // 4) % 3
            payload = (b"not json" if variant == 0
                       else b"[1, 2, 3]" if variant == 1
                       else b"\xff\xfe")
        rows.append({"url": url, "payload": payload})
    return rows


def css_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic stylesheets: (url, payload). Shapes cycle
    i % 4: imports + font-face ladder + assets / comment and
    string traps (url() in comments/content strings must NOT
    count) + data URIs + escaped urls / minified one-liner /
    junk payloads. Golden: fixtures/golden_css_seed42_n12.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://cdn{i}.example.org/styles/site-{i}.css"
        k = i % 4
        if k == 0:
            body = (
                f'@import url("base-{i}.css");\n'
                f"@import 'print-{i}.css' print;\n"
                "@font-face {\n"
                f'  font-family: "Brand{i}";\n'
                f"  src: url(/fonts/brand-{i}.woff2) "
                'format("woff2"),\n'
                f'       url("/fonts/brand-{i}.woff") '
                'format("woff");\n'
                "}\n"
                f".hero {{ background: url('../img/hero-{i}.jpg'); "
                "}\n"
                f".logo {{ background-image: url(/img/logo-{i}.svg)"
                "; }\n")
        elif k == 1:
            body = (
                "/* url(commented-out.png) */\n"
                f".icon{i} {{ background: url(data:image/gif;"
                "base64,R0lGOD); }\n"
                ".q::before { content: \"see url(fake.png) and "
                "@import 'no.css'\"; }\n"
                f".esc {{ cursor: url(weird\\ name-{i}.cur); }}\n")
        elif k == 2:
            body = (f"@import url(reset.css);.a{{background:url("
                    f"'s{i}.png')}}.b{{color:red}}"
                    f"@font-face{{src:url(f{i}.woff2)}}")
        else:
            body = ("\x00\x01\xff binary-ish" if (i // 4) % 2
                    else "p { color: blue }")
        rows.append({"url": url,
                     "payload": body.encode("utf-8", "replace")})
    return rows


def sourcemap_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic source maps: (url, payload). Shapes cycle
    i % 4: 2-source bundle with sourcesContent / many-source
    vendor bundle with sourceRoot / map with a malformed VLQ line
    (rest of line drops, later lines keep) / junk payloads.
    Golden: fixtures/golden_sourcemaps_seed42_n12.parquet."""
    import json as _json

    from .extractor import srcmapx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://static{i}.example.org/js/app-{i}.min.js.map"
        k = i % 4
        if k == 0:
            payload = srcmapx.build_sourcemap(
                file=f"app-{i}.min.js",
                sources=[f"src/index-{i}.js", f"src/util-{i}.js"],
                names=["init", "render", f"hook{i}"],
                lines=[
                    [[0, 0, 0, 0], [6 + i % 3, 0, 0, 12],
                     [20, 1, 4, 0, 1]],
                    [[0, 1, 7, 2], [9, 0, 9, 4, 2]],
                ],
                content_for={0})
        elif k == 1:
            m = 4 + i % 3
            payload = srcmapx.build_sourcemap(
                file=f"vendor-{i}.js",
                sources=[f"node_modules/lib{j}/idx.js"
                         for j in range(m)],
                names=[],
                lines=[[[j * 3, j, j, 0] for j in range(m)]],
                source_root=f"webpack://bundle{i}/")
        elif k == 2:
            base = srcmapx.build_sourcemap(
                file=f"broken-{i}.js",
                sources=[f"src/only-{i}.js"], names=[],
                lines=[[[0, 0, 0, 0]], [[0, 0, 1, 0]]])
            doc = _json.loads(base)
            doc["mappings"] = "AAAA,??junk,AAAA;AACA"
            payload = _json.dumps(doc, sort_keys=True).encode()
        else:
            variant = (i // 4) % 3
            payload = (b'{"version": 2, "mappings": ""}'
                       if variant == 0 else b"not json"
                       if variant == 1 else b"\xff\xfe")
        rows.append({"url": url, "payload": payload})
    return rows


def zip_probe_rows() -> list[dict]:
    """The zip-container probe corpus for zipx: every zip-family
    fixture payload this engine already builds (OOXML docx/pptx,
    ODF, EPUB) plus junk rows. Golden:
    fixtures/golden_zipdir_seed42.parquet."""
    rows: list[dict] = []
    for fn, n in (("docx_file_rows", 6), ("pptx_deck_rows", 6),
                  ("odt_file_rows", 6), ("epub_file_rows", 6)):
        for r in globals()[fn](n):
            rows.append({"url": r["url"], "payload": r["payload"]})
    rows.append({"url": "https://junk.example.org/not-a.zip",
                 "payload": b"PK\x03\x04 local header only"})
    rows.append({"url": "https://junk.example.org/empty.bin",
                 "payload": b""})
    return rows


def ntriples_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic N-Triples dumps: (url, payload). Shapes cycle
    i % 4: entity descriptions (lang-tagged labels, xsd-typed
    values, bnode addresses) / escape workout (quotes, newlines,
    unicode escapes) + comments / a dump with malformed lines
    (counted, skipped) / junk payloads. Golden:
    fixtures/golden_ntriples_seed42_n12.parquet."""
    from .extractor import ntriplesx

    rows: list[dict] = []
    for i in range(n):
        url = f"https://data{i}.example.org/dump-{i}.nt"
        k = i % 4
        e = f"http://ex.org/entity/Q{i}"
        if k == 0:
            lines = [
                f'<{e}> <http://www.w3.org/2000/01/rdf-schema#'
                f'label> "Entity {i}"@en .',
                f'<{e}> <http://www.w3.org/2000/01/rdf-schema#'
                f'label> "Entität {i}"@de .',
                f"<{e}> <http://ex.org/prop/population> "
                f'"{10000 + i}"^^<http://www.w3.org/2001/'
                "XMLSchema#integer> .",
                f"<{e}> <http://ex.org/prop/address> _:addr{i} .",
                f"_:addr{i} <http://ex.org/prop/city> "
                f'"Town {i}" .',
                f"<{e}> <http://www.w3.org/1999/02/22-rdf-syntax-"
                f"ns#type> <http://schema.org/Place> .",
            ]
        elif k == 1:
            esc = ntriplesx.escape_literal(
                f'say "hi"\nline2\tand \\slash {i}')
            lines = [
                "# full-line comment",
                f'<{e}> <http://ex.org/prop/note> "{esc}" .',
                f'<{e}> <http://ex.org/prop/uni> '
                f'"caf\\u00E9 \\U0001F600 {i}" .',
                f'  <{e}> <http://ex.org/prop/pad> "ws ok" .  ',
            ]
        elif k == 2:
            lines = [
                f'<{e}> <http://ex.org/p> "good {i}" .',
                "this is not a triple",
                f'<{e}> <http://ex.org/p> "no final dot"',
                f'"literal" <http://ex.org/p> <{e}> .',
                f'<{e}> <http://ex.org/p> "bad \\q escape" .',
                f'<{e}> <http://ex.org/p> "surrogate \\uD800" .',
                f'<{e}> <http://ex.org/p2> <http://ex.org/o{i}> .',
            ]
        else:
            rows.append({"url": url,
                         "payload": b"\xff\xfe not utf8 \x9c"
                         if (i // 4) % 2 else b""})
            continue
        rows.append({"url": url,
                     "payload": ("\n".join(lines) + "\n")
                     .encode("utf-8")})
    return rows


def id_sample_rows() -> list[str | None]:
    """Deterministic identifier corpus for the id-time family
    (extractor/idtimex.py): v1/v4/v5/v7 UUIDs (incl. a bogus
    pre-1970 v1 and an uppercase variant), ULIDs (incl. the spec's
    canonical example; lowercase and '8'-leading strings must fall
    to 'unknown'), snowflakes (a real-shaped one, the int64 edge,
    a borderline value just inside the plausibility window), plain
    ints and junk. Generated into the DuckDB twin as VALUES."""
    from .extractor import idtimex

    c = idtimex.CROCKFORD

    def ulid(ms: int, tail: str) -> str:
        s = ""
        v = ms
        for _ in range(10):
            s = c[v % 32] + s
            v //= 32
        assert v == 0 and len(tail) == 16
        return s + tail

    def uuid1(ms: int, frac100: int = 0) -> str:
        ticks = idtimex.GREGORIAN_OFFSET_100NS + ms * 10000 + frac100
        thi = ((ticks >> 48) & 0x0FFF) | 0x1000
        return (f"{ticks & 0xFFFFFFFF:08x}-"
                f"{(ticks >> 32) & 0xFFFF:04x}-{thi:04x}-"
                f"9234-0123456789ab")

    def uuid7(ms: int) -> str:
        hx = f"{ms:012x}"
        return f"{hx[:8]}-{hx[8:]}-7cc3-9b1d-0123456789ab"

    return [
        uuid1(1083827289123, 4567),        # 2004-05-06T07:08:09.123
        uuid1(1700000000000).upper(),      # case-insensitive hex
        "00000001-0001-1001-8abc-0123456789ab",  # pre-1970 v1
        "f47ac10b-58cc-4372-a567-0e02b2c3d479",  # v4
        uuid7(1709251200000),
        uuid7(1709251200001),
        "886313e1-3b8a-5372-9b90-0c9aee199e5d",  # v5 -> plain uuid
        "01ARZ3NDEKTSV4RRFFQ69G5FAV",      # canonical spec ULID
        ulid(1700000000000, "ABCDEFGHJKMNPQRS"),
        "01arz3ndektsv4rrffq69g5fav",      # lowercase -> unknown
        "8ZZZZZZZZZZZZZZZZZZZZZZZZZ",      # > 48-bit ms -> unknown
        "1541815603606036480",             # real-shaped snowflake
        "1234567890",                      # 10 digits, pre-window
        str(131235425343 * 4194304),       # exactly 2015-01-01: in
        str(131235425343 * 4194304 - 1),   # 1 tick below: out
        "9223372036854775807",             # int64 max: beyond window
        "18446744073709551615",            # 20 digits -> unknown
        "hello-world",
        "",
        None,
    ]


def geojson_file_rows(n: int = 12, seed: int = 42) -> list[dict]:
    """Deterministic GeoJSON files: (url, payload). Shapes cycle
    i % 4: FeatureCollection of mixed geometries (point/linestring/
    polygon-with-hole/multipolygon) / a single Feature (GeometryCollection
    + foreign members + unnamed props) / bare geometry + invalid
    geometries surfacing as 'invalid' / junk payloads. Golden:
    fixtures/golden_geojson_seed42_n12.parquet."""
    import json

    rows: list[dict] = []
    for i in range(n):
        url = f"https://geo{i}.example.org/data-{i}.geojson"
        k = i % 4
        x = float(i)
        if k == 0:
            doc = {"type": "FeatureCollection", "features": [
                {"type": "Feature",
                 "properties": {"name": f"poi-{i}", "amenity":
                                "cafe"},
                 "geometry": {"type": "Point",
                              "coordinates": [x + 0.5, -x - 0.25]}},
                {"type": "Feature", "properties": {"name":
                                                   f"route-{i}"},
                 "geometry": {"type": "LineString", "coordinates":
                              [[x, 0.0], [x + 1.0, 1.5],
                               [x + 2.0, -2.25]]}},
                {"type": "Feature",
                 "properties": {"name": f"zone-{i}", "level": 3},
                 "geometry": {"type": "Polygon", "coordinates": [
                     [[x, 0.0], [x + 4.0, 0.0], [x + 4.0, 4.0],
                      [x, 4.0], [x, 0.0]],
                     [[x + 1.0, 1.0], [x + 2.0, 1.0],
                      [x + 1.5, 2.0], [x + 1.0, 1.0]]]}},
                {"type": "Feature", "properties": {},
                 "geometry": {"type": "MultiPolygon",
                              "coordinates": [
                                  [[[x, 0.0], [x + 1.0, 0.0],
                                    [x, 1.0], [x, 0.0]]],
                                  [[[x + 9.0, 9.0],
                                    [x + 10.0, 9.0],
                                    [x + 9.0, 10.0],
                                    [x + 9.0, 9.0]]]]}},
                "not a feature",
                {"type": "Feature", "geometry": None},
            ]}
        elif k == 1:
            doc = {"type": "Feature", "bbox": [x, x, x, x],
                   "foreign": {"whatever": 1},
                   "properties": {"height_m": 12 + i},
                   "geometry": {"type": "GeometryCollection",
                                "geometries": [
                                    {"type": "Point",
                                     "coordinates": [x, x + 0.5]},
                                    {"type": "MultiPoint",
                                     "coordinates": [[x - 1.0, 0.0],
                                                     [x + 1.0,
                                                      2.5]]}]}}
        elif k == 2:
            if (i // 4) % 2:
                doc = {"type": "FeatureCollection", "features": [
                    {"type": "Feature", "properties": {"name":
                                                       "bad-pt"},
                     "geometry": {"type": "Point",
                                  "coordinates": [x]}},
                    {"type": "Feature", "properties": {"name":
                                                       "bool-pt"},
                     "geometry": {"type": "Point",
                                  "coordinates": [True, 1.0]}},
                    {"type": "Feature", "properties": {"name":
                                                       "empty-ls"},
                     "geometry": {"type": "LineString",
                                  "coordinates": []}},
                    {"type": "Feature", "properties": {"name":
                                                       "wrong-depth"},
                     "geometry": {"type": "Polygon",
                                  "coordinates": [[x, 0.0],
                                                  [x + 1.0, 1.0]]}},
                    {"type": "Feature", "properties": {"name":
                                                       "ok"},
                     "geometry": {"type": "Point",
                                  "coordinates": [x, x, 99.5]}},
                ]}
            else:
                doc = {"type": "MultiLineString", "coordinates":
                       [[[x, 0.0], [x + 1.0, 1.0]],
                        [[x + 5.0, 5.0], [x + 6.0, 6.0],
                         [x + 7.0, 5.5]]]}
        else:
            rows.append({"url": url,
                         "payload": b"{\"type\": \"Telemetry\"}"
                         if (i // 4) % 2 else b"\xff not json"})
            continue
        rows.append({"url": url,
                     "payload": json.dumps(
                         doc, sort_keys=True).encode("utf-8")})
    return rows


def toml_file_rows(seed: int = 42) -> list[dict]:
    """Deterministic TOML config files (url, payload) for
    extractor/tomlx.py: pyproject / Cargo manifest / site config
    with array-of-tables + datetimes / number-format torture /
    dotted keys + inline tables / invalid (dup key, bare junk,
    multiline-string gap) / non-utf8. Golden:
    fixtures/golden_toml_seed42_n10.parquet."""
    docs = [
        ("pyproject.toml", """\
[project]
name = "crawl-tools"
version = "2.3.1"
requires-python = ">=3.11"
dependencies = ["pyspark>=4.0", "pyarrow>=15", "duckdb"]

[project.optional-dependencies]
dev = ["pytest", "hypothesis"]

[tool.ruff]
line-length = 79
"""),
        ("Cargo.toml", """\
[package]
name = "warc-tool"
version = "0.9.0"
edition = "2021"

[dependencies]
flate2 = "1.0"
url = { version = "2.5", features = ["serde"] }

[profile.release]
lto = true
opt-level = 3
"""),
        ("config.toml", """\
base_url = "https://blog.example.org"
build_ts = 2024-10-27T06:00:00Z
launch_day = 2021-03-14

[[menu.main]]
name = "Home"
weight = 1

[[menu.main]]
name = "Archive"
weight = 2

[params]
tags = ["web", "data", "spark"]
"""),
        ("numbers.toml", """\
dec = 1_000_000
hex = 0xdead_beef
oct = 0o644
bin = 0b1101
f_plain = 0.5
f_exp = 6.022e23
f_neg = -1.5e-3
big = 9007199254740993
neg = -17
yes = true
no = false
"""),
        ("dotted.toml", """\
site.owner.name = "Ada"
site.owner."e-mail" = "ada@example.org"
point = { x = 1, y = -2 }
times = [09:30:00, 17:45:00.25]
"""),
        ("dup.toml", "a = 1\na = 2\n"),
        ("junk.toml", "this is ][ not toml at all\n"),
        ("multiline.toml",
         's = """the documented\ngap"""\n'),
        ("redef.toml", "[t]\nx = 1\n[t]\ny = 2\n"),
        ("latin1.toml", None),  # non-utf8 bytes below
    ]
    rows: list[dict] = []
    for i, (name, text) in enumerate(docs):
        payload = b"caf\xe9 = 1\n" if text is None \
            else text.encode("utf-8")
        rows.append({
            "url": f"https://repo{i}.example.org/{name}",
            "payload": payload})
    return rows


def compressed_stream_rows(seed: int = 42) -> list[dict]:
    """Deterministic compressed containers (url, payload) for
    extractor/compx.py: multi-member gzip (one member carrying
    FNAME, fixed mtime) / bzip2 members / xz streams (two check
    types) / hand-built zstd frames (raw+RLE blocks, FCS, a
    skippable frame) / hand-built lz4 frames (content size,
    block checksums) / truncated + junk. Golden:
    fixtures/golden_comp_seed42_n10.parquet."""
    import bz2 as _bz2
    import lzma as _lzma
    import struct
    import zlib as _z

    text1 = b"the quick brown fox jumps over the lazy dog\n" * 40
    text2 = b"pack my box with five dozen liquor jugs\n" * 25

    def gz_member(data, fname=None, mtime=0):
        flg = 0x08 if fname else 0
        hdr = b"\x1f\x8b\x08" + bytes([flg]) \
            + struct.pack("<I", mtime) + b"\x00\x03"
        if fname:
            hdr += fname.encode("latin-1") + b"\x00"
        co = _z.compressobj(9, _z.DEFLATED, -15)
        body = co.compress(data) + co.flush()
        return hdr + body + struct.pack(
            "<II", _z.crc32(data), len(data) & 0xFFFFFFFF)

    def zstd_frame(chunks, fcs=None, rle=None):
        if fcs is None:
            # no FCS => windowed frame (single-segment always
            # carries a 1-byte FCS per RFC 8878)
            fhd = 0x00
            out = b"\x58"  # window descriptor
        elif fcs < 256:
            fhd = 0x20  # single-segment, fcs_flag 0 -> 1 byte
            out = bytes([fcs])
        else:
            fhd = 0xA0  # single-segment, fcs_flag 2 -> 4 bytes
            out = struct.pack("<I", fcs)
        blocks = b""
        items = list(chunks)
        for i, ch in enumerate(items):
            last = 1 if (i == len(items) - 1 and rle is None) \
                else 0
            bh = (len(ch) << 3) | (0 << 1) | last
            blocks += bh.to_bytes(3, "little") + ch
        if rle is not None:
            byte, count = rle
            bh = (count << 3) | (1 << 1) | 1
            blocks += bh.to_bytes(3, "little") + bytes([byte])
        return struct.pack("<I", 0xFD2FB528) + bytes([fhd]) \
            + out + blocks

    def zstd_skippable(data):
        return struct.pack("<II", 0x184D2A50, len(data)) + data

    def lz4_frame(chunks, content_size=None, block_crc=False):
        flg = 0x40
        if content_size is not None:
            flg |= 0x08
        if block_crc:
            flg |= 0x10
        hdr = struct.pack("<I", 0x184D2204) + bytes([flg, 0x40])
        if content_size is not None:
            hdr += struct.pack("<Q", content_size)
        hdr += b"\x00"  # header checksum (not verified here)
        body = b""
        for ch in chunks:
            body += struct.pack("<I", len(ch) | 0x80000000) + ch
            if block_crc:
                body += struct.pack("<I", _z.crc32(ch))
        return hdr + body + struct.pack("<I", 0)

    rows: list[dict] = []

    def add(name, blob):
        rows.append({
            "url": f"https://drop{len(rows)}.example.org/{name}",
            "payload": blob})

    add("pages.warc.gz", gz_member(text1)
        + gz_member(text2, fname="page-2.warc",
                    mtime=1730000000)
        + gz_member(b""))
    add("dump.bz2", _bz2.compress(text1, 5)
        + _bz2.compress(text2, 1))
    add("logs.xz", _lzma.compress(text1, format=_lzma.FORMAT_XZ,
                                  check=_lzma.CHECK_CRC64)
        + _lzma.compress(text2, format=_lzma.FORMAT_XZ,
                         check=_lzma.CHECK_CRC32))
    add("shard.zst", zstd_frame([text1[:100], text1[100:130]],
                                fcs=130)
        + zstd_skippable(b"meta" * 3)
        + zstd_frame([b"xy"], fcs=1000, rle=(0x41, 970)))
    add("batch.lz4", lz4_frame([text2[:64], text2[64:80]],
                               content_size=80)
        + lz4_frame([b"tail"], block_crc=True))
    good = gz_member(text1)
    add("cut.gz", good[:len(good) - 5])
    add("cut.zst", zstd_frame([text1[:50]], fcs=50)[:-10])
    add("plain.txt", b"not compressed at all, just text")
    add("empty.gz", gz_member(b""))
    add("nested.gz.zst", zstd_frame([gz_member(text2)[:60]]))
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


def kml_file_rows(seed: int = 42) -> list[dict]:
    """Deterministic KML files (url, payload) — the ENCODE half of
    extractor/kmlx.py. Shapes: nested folders with point/line/
    polygon placemarks + TimeStamp/TimeSpan, MultiGeometry, out-of-
    range coordinate dropping, junk/non-KML XML. Golden:
    fixtures/golden_kml_seed42_n5.parquet."""
    from .extractor.kmlx import build_kml

    rows: list[dict] = []

    def add(name, blob):
        rows.append({
            "url": f"https://maps{len(rows)}.example.org/{name}",
            "payload": blob})

    add("city.kml", build_kml([
        {"name": "Landmarks", "placemarks": [
            {"name": "Fountain", "gtype": "Point",
             "coords": [(2.3522, 48.8566)],
             "when": "2019-07-14T12:00:00Z"},
            {"name": "Old Walk", "gtype": "LineString",
             "coords": [(2.35, 48.85), (2.36, 48.86),
                        (2.37, 48.855)],
             "span": ("2019-07-01T00:00:00Z",
                      "2019-07-31T23:59:59Z")},
        ], "folders": [
            {"name": "Parks", "placemarks": [
                {"name": "Green Park", "gtype": "Polygon",
                 "coords": [(2.30, 48.84), (2.31, 48.84),
                            (2.31, 48.85), (2.30, 48.84)]},
            ]},
        ]},
    ]))
    add("multi.kml", build_kml([
        {"name": "Routes", "placemarks": [
            {"name": "Ferry", "gtype": "MultiGeometry",
             "members": [
                 {"gtype": "Point", "coords": [(-3.7, 40.4)]},
                 {"gtype": "LineString",
                  "coords": [(-3.7, 40.4), (-3.6, 40.5)]},
             ]},
        ]},
    ]))
    # out-of-range tuples must drop, leaving one valid vertex
    bad = build_kml([
        {"name": "Bad", "placemarks": [
            {"name": "Edge", "gtype": "LineString",
             "coords": [(185.0, 10.0), (10.0, 95.0),
                        (9.5, 51.3)]},
            {"name": "NoGeom", "gtype": "Point", "coords": []},
        ]},
    ])
    add("edge.kml", bad)
    add("feed.xml", b"<?xml version='1.0'?><rss><channel/></rss>")
    add("junk.kml", b"not xml at all <<<")
    return rows


def pgp_blob_rows(seed: int = 42) -> list[dict]:
    """Deterministic OpenPGP payloads (url, payload) — the ENCODE
    half of extractor/pgpx.py. Shapes: armored public key block
    (key + user id + subkey, good CRC), armored signature with a
    WRONG CRC, binary old-format signature packet, two-byte
    new-length user id, unterminated armor, junk. Golden:
    fixtures/golden_pgp_seed42_n6.parquet."""
    from .extractor import pgpx

    rows: list[dict] = []

    def add(name, blob):
        rows.append({
            "url": f"https://keys{len(rows)}.example.org/{name}",
            "payload": blob})

    key = pgpx.build_key_packet(6, 4, 1600000000, 22,
                                bytes(range(40)))
    sub = pgpx.build_key_packet(14, 4, 1600001000, 18,
                                bytes(range(40)))
    uid = pgpx.build_user_id("Ana Archivist <ana@example.org>")
    add("ana.asc", pgpx.armor(
        "PUBLIC KEY BLOCK", key + uid + sub,
        [("Version", "Repro 1.0"), ("Comment", "fixture")]))
    sig = pgpx.build_old_format(
        2, bytes([4, 0x00, 17, 8]) + b"\x00" * 24)
    bad = bytearray(pgpx.armor("SIGNATURE", sig))
    eq = bad.rfind(b"\n=")
    bad[eq + 2:eq + 3] = b"A" if bad[eq + 2:eq + 3] != b"A" \
        else b"B"                        # corrupt the CRC line
    add("release.sig", bytes(bad))
    add("binary.pgp", sig)
    long_uid = pgpx.build_user_id("x" * 300)   # 2-byte new length
    add("long.pgp", pgpx.build_key_packet(
        6, 4, 1700000000, 19, bytes(range(32))) + long_uid)
    cut = pgpx.armor("MESSAGE", b"\x01\x02\x03")
    add("cut.asc", cut[:40])
    add("junk.txt", b"BEGIN nothing of the sort")
    return rows


def desktop_file_rows(seed: int = 42) -> list[dict]:
    """Deterministic .desktop files (url, payload) — the ENCODE
    half of extractor/desktopx.py. Shapes: full app entry with
    locales + escaped list, action group, duplicate-key violation
    (first wins), pre-group junk, non-ini junk."""
    from .extractor.desktopx import build_desktop

    rows: list[dict] = []

    def add(name, blob):
        rows.append({
            "url": f"https://apps{len(rows)}.example.org/{name}",
            "payload": blob})

    add("crawlview.desktop", build_desktop([
        ("Desktop Entry", [
            ("Type", None, "Application"),
            ("Name", None, "Crawl Viewer"),
            ("Name", "fr", "Visionneuse de crawl"),
            ("Name", "de", "Crawl-Betrachter"),
            ("Comment", None, r"Line one\nline two"),
            ("Exec", None, "crawlview %U"),
            ("Categories", None, r"Network;Web\;Tools;Utility;"),
            ("Terminal", None, "false"),
        ]),
        ("Desktop Action Refresh", [
            ("Name", None, "Refresh index"),
            ("Exec", None, "crawlview --refresh"),
        ]),
    ]))
    dup = (b"[Desktop Entry]\nType=Application\nName=First\n"
           b"Name=Second\nName[fr]=Premier\n")
    add("dup.desktop", dup)
    add("pre.desktop", b"Type=Application\n[Desktop Entry]\nName=X\n")
    add("junk.desktop", b"\x00\x01 not ini at all")
    return rows


def avi_file_rows(seed: int = 42) -> list[dict]:
    """Deterministic AVI files (url, payload) — the ENCODE half of
    extractor/avix.py. Shapes: NTSC-rate xvid + audio, PAL video-
    only with an ODD-sized chunk exercising RIFF word alignment,
    truncated, RIFF-but-WAVE, junk. Golden:
    fixtures/golden_avi_seed42_n5.parquet."""
    from .extractor.avix import build_avi

    rows: list[dict] = []

    def add(name, blob):
        rows.append({
            "url": f"https://video{len(rows)}.example.org/{name}",
            "payload": blob})

    ntsc = build_avi(33367, 640, 480, 900, [
        ("vids", "xvid", 1001, 30000, 900),
        ("auds", "", 1, 48000, 43200),
    ])
    add("clip.avi", ntsc)
    add("pal.avi", build_avi(40000, 720, 576, 250, [
        ("vids", "DIB ", 1, 25, 250),
    ]))
    add("cut.avi", ntsc[:40])
    add("sound.wav", b"RIFF" + (20).to_bytes(4, "little")
        + b"WAVEfmt " + b"\x00" * 12)
    add("junk.avi", b"FORM not riff either")
    return rows
