"""RTF (Rich Text Format) subset reader — pure Python, stdlib only.

The legacy-office member of the per-format loader family (pdfx /
docx / pptx / odtx / epubx / rtfx): decades of .rtf documents sit in
web archives, and the reference's loader stack handles office formats
generically (``unstructured_chunker.py:79-91``) — a crawl-scale
pipeline meets RTF long before it stops mattering. Word-spec (1.9.1)
semantics for everything in the subset:

- groups nest with ``{}``; reader state (``\\ucN``, skip-destination
  mode) is group-scoped and restored on ``}``;
- control words are ``\\word`` / ``\\wordN`` (signed N) consuming ONE
  optional trailing space; control symbols are single-char
  (``\\~`` NBSP, ``\\-`` optional hyphen = nothing, ``\\_``
  non-breaking hyphen, ``\\{ \\} \\\\`` literals, ``\\<newline>`` =
  ``\\par``);
- text bytes decode through the declared codepage (``\\ansicpgN`` ->
  the stdlib cp125x/cp9xx codec, default cp1252); ``\\'xx`` escapes
  are BYTES in that page, so contiguous runs decode together
  (multibyte pages like cp932 need the pairing);
- ``\\uN`` emits the BMP char (negative N + 65536) and the next
  ``\\ucN`` fallback characters are skipped (a skipped "character" is
  one plain byte or one ``\\'xx`` escape — the spec's rule);
- ``{\\*\\dest ...}`` is skipped wholesale (the spec's
  ignore-if-unknown rule), and the classic non-starred destinations
  (fonttbl, colortbl, stylesheet, info, pict, ...) are skipped too;
- paragraph model: ``\\par`` / ``\\sect`` / ``\\page`` / ``\\row``
  flush the current paragraph; ``\\pard`` resets paragraph
  properties; ``\\line`` -> ``\\n``, ``\\tab`` -> ``\\t``, ``\\cell``
  -> ``\\t`` (cells stay one row-paragraph); ``\\outlinelevelN``
  marks a heading of level N+1; a ``{\\pntext}`` / ``{\\listtext}``
  group marks a list item of level ``\\ilvlN`` + 1 (its glyph content
  is SKIPPED — it duplicates the auto-number);
- whitespace-only paragraphs are dropped; malformed payloads degrade
  to fewer elements, never raise past :func:`extract_rtf` (F5).

Spark-free like the rest of ``extractor/`` (it IS the oracle; the
Spark source calls the same function per row). :func:`make_rtf`
synthesizes minimal-but-real documents for fixtures — the encode
half, which must itself decode (the exifx fixture-writer rule).
Element model matches ``odtx`` (para, kind, level, text) so the two
legacy-office sources share goldens machinery and query shape.
"""

from __future__ import annotations

from dataclasses import dataclass

KIND_HEADING = "heading"
KIND_LIST_ITEM = "list_item"
KIND_TEXT = "text"


@dataclass
class RtfElement:
    para: int      # 0-based paragraph index in document order
    kind: str      # heading | list_item | text
    level: int     # heading outline level / list nesting depth; 0 = text
    text: str


_CODEPAGES = {
    437: "cp437", 850: "cp850", 874: "cp874",
    932: "cp932", 936: "gbk", 949: "cp949", 950: "big5",
    1250: "cp1250", 1251: "cp1251", 1252: "cp1252", 1253: "cp1253",
    1254: "cp1254", 1255: "cp1255", 1256: "cp1256", 1257: "cp1257",
    1258: "cp1258", 65001: "utf-8",
}

# non-starred groups whose content is never document text
_SKIP_DESTS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "footnote", "ftnsep", "ftnsepc", "aftnsep",
    "themedata", "colorschememapping", "latentstyles", "datastore",
    "xmlnstbl", "listtable", "listoverridetable", "revtbl", "rsidtbl",
    "generator", "filetbl", "operator", "creatim", "revtim",
))
_LIST_MARKS = frozenset(("pntext", "listtext"))

_ALPHA = frozenset(b"abcdefghijklmnopqrstuvwxyz")
_DIGITS = frozenset(b"0123456789")
_HEX = frozenset(b"0123456789abcdefABCDEF")


def _body_start(payload: bytes) -> int:
    """Offset of the ``{\\rtf`` magic, tolerating a BOM / leading
    whitespace prologue (the sniffer strips the same); -1 if absent."""
    head = payload[:256]
    for bom in (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff"):
        if head.startswith(bom):
            head = head[len(bom):]
            break
    stripped = head.lstrip(b" \t\r\n\x0c")
    if not stripped.startswith(b"{\\rtf"):
        return -1
    return len(payload[:256]) - len(stripped)


def extract_rtf(payload: bytes) -> list[RtfElement]:
    """Parse an RTF payload into ordered paragraph elements.

    Raises on a payload without the ``{\\rtf`` magic (caller handles
    fallback, F5 semantics); anything after the magic degrades to
    fewer elements rather than raising.
    """
    start = _body_start(payload) if payload else -1
    if start < 0:
        raise ValueError("not an RTF payload")
    data = payload[start:] if start else payload
    n = len(data)
    cp = "cp1252"
    out: list[RtfElement] = []

    # group-scoped state: (uc, skipping)
    stack: list[tuple[int, bool]] = []
    uc, skipping = 1, False
    pending_skip = 0            # \uN fallback chars left to swallow
    star = False                # just saw \* — next control word is a dest

    parts: list[str] = []       # decoded text of the current paragraph
    byte_buf = bytearray()      # undecoded codepage bytes (runs decode
    #                             together: multibyte pages pair \'xx)
    para_outline: int | None = None
    para_ilvl = 0
    para_is_list = False

    def flush_bytes() -> None:
        if byte_buf:
            parts.append(byte_buf.decode(cp, errors="replace"))
            byte_buf.clear()

    def flush_para() -> None:
        nonlocal para_is_list
        flush_bytes()
        text = "".join(parts)
        parts.clear()
        if text.strip():
            if para_is_list:
                kind, level = KIND_LIST_ITEM, para_ilvl + 1
            elif para_outline is not None:
                kind, level = KIND_HEADING, para_outline + 1
            else:
                kind, level = KIND_TEXT, 0
            out.append(RtfElement(len(out), kind, level, text))
        para_is_list = False    # the pntext mark is per-paragraph

    def emit(s: str) -> None:
        flush_bytes()
        parts.append(s)

    i = 0
    while i < n:
        c = data[i]
        if c == 0x7B:           # {
            stack.append((uc, skipping))
            star = False
            i += 1
        elif c == 0x7D:         # }
            if stack:
                uc, skipping = stack.pop()
            star = False
            pending_skip = 0
            i += 1
        elif c == 0x5C:         # backslash
            if i + 1 >= n:
                break
            c2 = data[i + 1]
            if c2 == 0x27:      # \'xx hex byte
                if (i + 3 < n and data[i + 2] in _HEX
                        and data[i + 3] in _HEX):
                    if pending_skip > 0:
                        pending_skip -= 1
                    elif not skipping:
                        byte_buf.append(int(data[i + 2:i + 4], 16))
                    i += 4
                else:
                    i += 2      # malformed escape: drop it
            elif c2 in _ALPHA:
                j = i + 1
                while j < n and data[j] in _ALPHA:
                    j += 1
                word = data[i + 1:j].decode("ascii")
                param = None
                k = j
                if k < n and (data[k] == 0x2D or data[k] in _DIGITS):
                    m = k + 1 if data[k] == 0x2D else k
                    while m < n and data[m] in _DIGITS:
                        m += 1
                    if m > k + (1 if data[k] == 0x2D else 0):
                        param = int(data[k:m])
                        k = m
                if k < n and data[k] == 0x20:
                    k += 1      # the single consumed delimiter space
                i = k
                was_star, star = star, False
                if word == "bin" and param and param > 0:
                    i += param  # raw bytes, never text
                    continue
                if skipping:
                    continue
                if word in _LIST_MARKS:
                    para_is_list = True
                    skipping = True      # glyph duplicates auto-number
                elif was_star or word in _SKIP_DESTS:
                    skipping = True
                elif word == "u" and param is not None:
                    emit(chr(param + 65536 if param < 0
                             else param % 65536))
                    pending_skip = uc
                elif word == "uc" and param is not None:
                    uc = max(param, 0)
                elif word == "ansicpg" and param is not None:
                    flush_bytes()        # old bytes decode in old page
                    cp = _CODEPAGES.get(param, "cp1252")
                elif word in ("par", "sect", "page", "row"):
                    flush_para()
                elif word == "pard":
                    para_outline, para_ilvl = None, 0
                elif word == "line":
                    emit("\n")
                elif word in ("tab", "cell"):
                    emit("\t")
                elif word == "outlinelevel" and param is not None:
                    para_outline = max(min(param, 8), 0)
                elif word == "ilvl" and param is not None:
                    para_ilvl = max(min(param, 8), 0)
                # every other control word is formatting: ignored
            elif c2 in (0x0A, 0x0D):     # \<newline> == \par
                flush_para()
                i += 2
            else:               # control symbol
                star = False
                if c2 == 0x2A:          # \* — dest marker
                    star = True
                elif not skipping and pending_skip == 0:
                    sym = {0x7E: "\xa0", 0x2D: "", 0x5F: "‑"}
                    if c2 in sym:
                        emit(sym[c2])
                    elif c2 in (0x7B, 0x7D, 0x5C):
                        emit(chr(c2))
                elif pending_skip > 0 and c2 in (0x7E, 0x5F, 0x7B,
                                                 0x7D, 0x5C):
                    pending_skip -= 1    # a fallback "character"
                i += 2
        elif c in (0x0A, 0x0D):
            i += 1              # raw newlines are ignored in RTF
        else:
            if pending_skip > 0:
                pending_skip -= 1
            elif not skipping:
                byte_buf.append(c)
            i += 1
    flush_para()                # EOF flushes an unterminated paragraph
    return out


def extract_rtf_text(payload: bytes) -> tuple[str, list[tuple[int, int,
                                                               str]]]:
    """A1-style reassembly: paragraphs joined with "\\n" in document
    order, spans = (start, end, kind) per element over the joined
    text — the same contract as ``extract_docx_text``/``odtx``."""
    els = extract_rtf(payload)
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for el in els:
        if parts:
            pos += 1  # the joining "\n"
        parts.append(el.text)
        spans.append((pos, pos + len(el.text), el.kind))
        pos += len(el.text)
    return "\n".join(parts), spans


# --- encode half (fixtures) --------------------------------------------------

def _encode_text(t: str, cp: str) -> str:
    """Document text -> RTF token stream: \\{}-escapes, \\line/\\tab,
    codepage bytes as \\'xx, anything else as \\uN? (uc1 fallback)."""
    outp: list[str] = []
    for ch in t:
        if ch in "\\{}":
            outp.append("\\" + ch)
        elif ch == "\n":
            outp.append("\\line ")
        elif ch == "\t":
            outp.append("\\tab ")
        elif " " <= ch <= "~":
            outp.append(ch)
        else:
            try:
                outp.extend(f"\\'{b:02x}" for b in ch.encode(cp))
            except UnicodeEncodeError:
                code = ord(ch)
                if code > 32767:
                    code -= 65536
                outp.append(f"\\u{code}?")
    return "".join(outp)


def make_rtf(paras: list[tuple[str, int, str]],
             codepage: int = 1252) -> bytes:
    """Synthesize an RTF document from (kind, level, text) paragraphs
    — heading (level 1-9), list_item (level 1-9) or text. Emits the
    classic Word shape: font/color/stylesheet/info/generator prologue
    (all skip-destinations a reader must ignore), \\pard per
    paragraph, \\outlinelevelN headings, {\\pntext \\'b7\\tab} +
    \\ilvlN list items."""
    cp = _CODEPAGES[codepage]
    head = (
        f"{{\\rtf1\\ansi\\ansicpg{codepage}\\deff0\\uc1"
        "{\\fonttbl{\\f0\\fswiss\\fcharset0 Arial;}"
        "{\\f1\\fmodern\\fcharset0 Courier New;}}"
        "{\\colortbl;\\red255\\green0\\blue0;\\red0\\green0\\blue255;}"
        "{\\stylesheet{\\s0 Normal;}{\\s1\\outlinelevel0 heading 1;}}"
        "{\\info{\\title synthetic fixture}{\\author hddps}}"
        "{\\*\\generator hddps_spark 1.0;}")
    body: list[str] = []
    bullet = "{\\pntext\\f0\\'b7\\tab}"
    if codepage == 65001:
        bullet = "{\\pntext\\f0\\u8226?\\tab}"     # utf-8 page: \uN form
    for kind, level, text in paras:
        lvl = max(min(level, 9), 1) - 1
        enc = _encode_text(text, cp)
        if kind == KIND_HEADING:
            body.append(f"\\pard\\s1\\outlinelevel{lvl}\\b\\fs32 "
                        f"{enc}\\b0\\fs24\\par\n")
        elif kind == KIND_LIST_ITEM:
            body.append(f"\\pard{bullet}\\ilvl{lvl}\\fi-360\\li{720 * (lvl + 1)} "
                        f"{enc}\\par\n")
        else:
            body.append(f"\\pard\\plain\\f0\\fs24 {enc}\\par\n")
    return (head + "\n" + "".join(body) + "}").encode("ascii")
