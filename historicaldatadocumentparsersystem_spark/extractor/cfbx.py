"""OLE2 Compound File Binary (CFB) + PowerPoint 97 / Word 97 text —
from scratch over the published [MS-CFB] / [MS-PPT] / [MS-DOC]
specs, pure Python, Spark-free.

The LAST reference source-format branch with no repo analog
(reference ``utils/loaders.py:18-37`` dispatches ``.ppt`` via
``partition_ppt`` separately from ``.pptx``): decades of legacy
``.ppt``/``.doc`` binaries sit in web archives, and they are CFB
containers — a FAT filesystem in a file. This module is both the
container walk (directory tree, FAT/miniFAT chains — the
``zipx`` index discipline) and the two text decoders:

- [MS-PPT]: the ``PowerPoint Document`` stream is a tree of records
  (8-byte headers: ver/instance, type, length; recVer 0xF =
  container). Text lives in ``TextCharsAtom`` (0x0FA0, UTF-16LE) and
  ``TextBytesAtom`` (0x0FA8, low bytes of UTF-16 — latin-1 exact);
  ``CString`` (0x0FBA) carries link/notes strings.
- [MS-DOC]: the ``WordDocument`` stream starts with the FIB
  (wIdent 0xA5EC); the piece table (Clx -> Pcdt -> PlcPcd) in the
  ``0Table``/``1Table`` stream (fWhichTblStm bit) maps CP ranges to
  file offsets, each piece either 8-bit cp1252 (fCompressed,
  offset = fc/2) or UTF-16LE. Only the main-document range
  (ccpText) is extracted.

Never raises; junk -> None/empty. Every chain walk is cycle-guarded
and bounded by the payload's own sector count; parsed integers are
clamped before they can reach Int32/Int64 columns (the repo-wide
review rule).
"""

from __future__ import annotations

import struct

_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC

_KIND = {0: "unknown", 1: "storage", 2: "stream", 5: "root"}

# record types the PPT walker surfaces ([MS-PPT] 2.13)
_PPT_TEXT_CHARS = 0x0FA0
_PPT_TEXT_BYTES = 0x0FA8
_PPT_CSTRING = 0x0FBA


def is_cfb(payload) -> bool:
    return (isinstance(payload, (bytes, bytearray))
            and bytes(payload[:8]) == _MAGIC)


def _u32s(b: bytes) -> list[int]:
    n = len(b) // 4
    return list(struct.unpack(f"<{n}I", b[:n * 4]))


def _chain(fat: list[int], start: int, cap: int) -> list[int]:
    """Follow a FAT chain from ``start``; cycle-guarded, length
    capped at ``cap`` (the container's own sector count)."""
    out: list[int] = []
    seen: set[int] = set()
    s = start
    while s not in (_ENDOFCHAIN, _FREESECT) and s < len(fat):
        if s in seen or len(out) >= cap:
            break
        seen.add(s)
        out.append(s)
        s = fat[s]
    return out


def parse_cfb(payload) -> dict | None:
    """CFB bytes -> {"version", "sector_size", "n_fat_sectors",
    "entries": [(pos, path, kind, size, start_sector)],
    "_streams": {path: bytes}} or None when not CFB. Never raises.

    ``entries`` is a preorder walk of the directory red-black tree
    (left, self, right within each storage; depth-capped, visited-
    guarded) with "/"-joined paths from the root; the root entry
    itself is omitted from paths. ``_streams`` holds the decoded
    bytes of every stream entry (size-clamped to the declared
    stream size), mini-stream members included.
    """
    if not is_cfb(payload) or len(payload) < 512:
        return None
    b = bytes(payload)
    try:
        (maj,) = struct.unpack_from("<H", b, 26)
        (sec_shift,) = struct.unpack_from("<H", b, 30)
        (mini_shift,) = struct.unpack_from("<H", b, 32)
        (n_fat,) = struct.unpack_from("<I", b, 44)
        (first_dir,) = struct.unpack_from("<I", b, 48)
        (mini_cutoff,) = struct.unpack_from("<I", b, 56)
        (first_minifat,) = struct.unpack_from("<I", b, 60)
        (n_minifat,) = struct.unpack_from("<I", b, 64)
        (first_difat,) = struct.unpack_from("<I", b, 68)
        (n_difat,) = struct.unpack_from("<I", b, 72)
        difat_head = _u32s(b[76:76 + 109 * 4])
    except struct.error:
        return None
    if sec_shift not in (9, 12) or mini_shift != 6:
        return None
    ssz = 1 << sec_shift
    n_sectors = max((len(b) - 512) // ssz, 0)

    def sector(i: int) -> bytes:
        off = 512 + i * ssz
        return b[off:off + ssz]

    # DIFAT: 109 header entries + chained DIFAT sectors (last u32 of
    # each is the next DIFAT sector)
    difat = [x for x in difat_head if x != _FREESECT]
    s = first_difat
    seen_dif: set[int] = set()
    for _ in range(min(n_difat, n_sectors)):
        if s in (_ENDOFCHAIN, _FREESECT) or s >= n_sectors \
                or s in seen_dif:
            break
        seen_dif.add(s)
        ents = _u32s(sector(s))
        difat.extend(x for x in ents[:-1] if x != _FREESECT)
        s = ents[-1] if ents else _ENDOFCHAIN
    fat: list[int] = []
    for fs in difat[:max(n_fat, 0)][:n_sectors]:
        if fs >= n_sectors:
            continue
        fat.extend(_u32s(sector(fs)))

    def read_chain(start: int, size: int | None = None) -> bytes:
        data = b"".join(sector(i) for i in _chain(fat, start,
                                                  n_sectors)
                        if i < n_sectors)
        return data if size is None else data[:size]

    # directory entries (128 bytes each) from the directory chain
    dirdata = read_chain(first_dir)
    entries_raw: list[dict] = []
    for off in range(0, len(dirdata) - 127, 128):
        e = dirdata[off:off + 128]
        (nlen,) = struct.unpack_from("<H", e, 64)
        if nlen < 2 or nlen > 64:
            entries_raw.append(None)  # keep sibling ids aligned
            continue
        try:
            name = e[:nlen - 2].decode("utf-16-le")
        except UnicodeDecodeError:
            entries_raw.append(None)
            continue
        kind = e[66]
        left, right, child = struct.unpack_from("<III", e, 68)
        (start,) = struct.unpack_from("<I", e, 116)
        (size,) = struct.unpack_from("<Q", e, 120)
        if size > 1 << 40:  # absurd declared size: clamp to container
            size = len(b)
        entries_raw.append({
            "name": name, "kind": _KIND.get(kind, str(kind)),
            "left": left, "right": right, "child": child,
            "start": start, "size": int(size)})
    if not entries_raw or entries_raw[0] is None \
            or entries_raw[0]["kind"] != "root":
        return None
    root = entries_raw[0]

    # mini FAT + mini stream (the root entry's own chain)
    minifat: list[int] = []
    for ms in _chain(fat, first_minifat, min(n_minifat, n_sectors)):
        if ms < n_sectors:
            minifat.extend(_u32s(sector(ms)))
    ministream = read_chain(root["start"], root["size"])

    def read_mini(start: int, size: int) -> bytes:
        out: list[bytes] = []
        seen: set[int] = set()
        s2 = start
        cap = len(ministream) // 64 + 1
        while s2 not in (_ENDOFCHAIN, _FREESECT) \
                and s2 < len(minifat):
            if s2 in seen or len(out) >= cap:
                break
            seen.add(s2)
            out.append(ministream[s2 * 64:s2 * 64 + 64])
            s2 = minifat[s2]
        return b"".join(out)[:size]

    # preorder tree walk: within each storage, left subtree, self,
    # right subtree (name order by the red-black contract)
    entries: list[tuple] = []
    streams: dict[str, bytes] = {}
    nmax = len(entries_raw)

    def walk(idx: int, prefix: str, depth: int,
             seen: set[int]) -> None:
        # in-order sibling traversal with an explicit stack (r6,
        # ADVICE r5): only CHILD descent counts toward the nesting
        # cap — a degenerate linked-list-shaped sibling tree (which
        # sloppy legacy writers do produce) must not silently drop
        # entries past ~64 per storage; the seen-set guards cycles
        if depth > 64:
            return
        stack: list[tuple[int, bool]] = [(idx, False)]
        while stack:
            i, emit = stack.pop()
            if i >= nmax or i == _FREESECT:
                continue
            e = entries_raw[i]
            if e is None:
                continue
            if not emit:
                if i in seen or len(seen) > nmax:
                    continue
                seen.add(i)
                stack.append((i, True))
                stack.append((e["left"], False))
                continue
            path = prefix + e["name"]
            entries.append((len(entries), path, e["kind"], e["size"],
                            e["start"]))
            if e["kind"] == "stream":
                if e["size"] < mini_cutoff:
                    streams[path] = read_mini(e["start"], e["size"])
                else:
                    streams[path] = read_chain(e["start"], e["size"])
            if e["kind"] in ("storage", "root"):
                walk(e["child"], path + "/", depth + 1, seen)
            stack.append((e["right"], False))

    try:
        walk(root["child"], "", 0, set())
    except RecursionError:
        pass
    return {"version": maj, "sector_size": ssz,
            "n_fat_sectors": min(n_fat, n_sectors),
            "mini_cutoff": mini_cutoff,
            "entries": entries, "_streams": streams}


# --- PowerPoint 97 ([MS-PPT]) ------------------------------------------------

def _walk_ppt_records(b: bytes, off: int, end: int, depth: int,
                      out: list[tuple]) -> None:
    while off + 8 <= end and len(out) < 100_000:
        ver_inst, rtype, rlen = struct.unpack_from("<HHI", b, off)
        off += 8
        rlen = min(rlen, end - off)
        if (ver_inst & 0x000F) == 0x000F and depth < 32:
            _walk_ppt_records(b, off, off + rlen, depth + 1, out)
        elif rtype == _PPT_TEXT_CHARS or rtype == _PPT_CSTRING:
            txt = b[off:off + (rlen & ~1)].decode(
                "utf-16-le", "replace")
            out.append((len(out),
                        "chars" if rtype == _PPT_TEXT_CHARS
                        else "cstring", txt))
        elif rtype == _PPT_TEXT_BYTES:
            # low bytes of UTF-16 code units: latin-1 is exact
            out.append((len(out), "bytes",
                        b[off:off + rlen].decode("latin-1")))
        off += rlen


def extract_ppt_elements(payload) -> list[tuple]:
    """.ppt bytes -> [(pos, kind, text)] from the ``PowerPoint
    Document`` stream in record order (kind 'chars' | 'bytes' |
    'cstring'); [] for junk/non-ppt. Never raises."""
    d = parse_cfb(payload)
    if d is None:
        return []
    stream = d["_streams"].get("PowerPoint Document")
    if stream is None:
        return []
    out: list[tuple] = []
    try:
        _walk_ppt_records(stream, 0, len(stream), 0, out)
    except (struct.error, RecursionError):
        pass
    return out


def extract_ppt_text(payload) -> tuple[str, list[tuple[int, int,
                                                       str]]]:
    """A1-style reassembly: text atoms joined with "\\n", spans =
    (start, end, kind) — the ``extract_rtf_text`` contract. CString
    records (hyperlink/notes strings) are excluded from the joined
    text, matching the reference's slide-text extraction."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for (_p, kind, text) in extract_ppt_elements(payload):
        if kind == "cstring":
            continue
        if parts:
            pos += 1
        parts.append(text)
        spans.append((pos, pos + len(text), kind))
        pos += len(text)
    return "\n".join(parts), spans


# --- Word 97 ([MS-DOC]) ------------------------------------------------------

def extract_doc_pieces(payload) -> list[tuple]:
    """.doc bytes -> [(pos, compressed, cp_start, cp_end, text)]
    piece-table pieces covering the main document range (ccpText);
    [] for junk/non-doc. Never raises.

    compressed pieces are 8-bit cp1252 at file offset fc/2;
    uncompressed are UTF-16LE at fc ([MS-DOC] 2.9.177 Pcd).
    """
    d = parse_cfb(payload)
    if d is None:
        return []
    word = d["_streams"].get("WordDocument")
    if word is None or len(word) < 0x200:
        return []
    try:
        (ident,) = struct.unpack_from("<H", word, 0)
        if ident != 0xA5EC:
            return []
        (flags,) = struct.unpack_from("<H", word, 0x0A)
        table_name = "1Table" if flags & 0x0200 else "0Table"
        (ccp_text,) = struct.unpack_from("<i", word, 0x4C)
        (fc_clx,) = struct.unpack_from("<I", word, 0x01A2)
        (lcb_clx,) = struct.unpack_from("<I", word, 0x01A6)
    except struct.error:
        return []
    table = d["_streams"].get(table_name)
    if table is None or ccp_text <= 0 or lcb_clx == 0 \
            or fc_clx + lcb_clx > len(table):
        return []
    clx = table[fc_clx:fc_clx + lcb_clx]
    # skip Prc entries (clxt=1) to the Pcdt (clxt=2)
    off = 0
    try:
        while off < len(clx) and clx[off] == 0x01:
            (cb,) = struct.unpack_from("<h", clx, off + 1)
            if cb < 0:
                return []
            off += 3 + cb
        if off >= len(clx) or clx[off] != 0x02:
            return []
        (lcb,) = struct.unpack_from("<I", clx, off + 1)
        plc = clx[off + 5:off + 5 + lcb]
        if len(plc) < 4 or (len(plc) - 4) % 12 != 0:
            return []
        n = (len(plc) - 4) // 12
        cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
        out: list[tuple] = []
        for i in range(n):
            cp0, cp1 = cps[i], cps[i + 1]
            if cp1 <= cp0:
                continue
            flags2, fc_raw, _prm = struct.unpack_from(
                "<HIH", plc, (n + 1) * 4 + i * 8)
            compressed = bool(fc_raw & 0x40000000)
            fc = fc_raw & 0x3FFFFFFF
            # clip the piece to the main-document range
            take0 = cp0
            take1 = min(cp1, ccp_text)
            if take1 <= take0:
                continue
            nchars = take1 - take0
            if compressed:
                start = fc // 2
                raw = word[start:start + nchars]
                text = raw.decode("cp1252", "replace")
            else:
                raw = word[fc:fc + nchars * 2]
                text = raw.decode("utf-16-le", "replace")
            out.append((len(out), compressed, take0, take1, text))
        return out
    except (struct.error, ValueError):
        return []


def extract_doc_text(payload) -> tuple[str, list[tuple[int, int,
                                                       str]]]:
    """Pieces joined in CP order with no separator (the piece table
    IS the character stream — pieces are not paragraphs), spans =
    one (start, end, kind) per piece over the joined text with kind
    'cp1252' | 'utf16'. Word stores paragraph marks as \\r in the
    stream; they are normalized to \\n like the HTML pipeline's
    line discipline."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for (_p, compressed, _c0, _c1, text) in \
            extract_doc_pieces(payload):
        text = text.replace("\r", "\n")
        parts.append(text)
        spans.append((pos, pos + len(text),
                      "cp1252" if compressed else "utf16"))
        pos += len(text)
    return "".join(parts), spans


def is_ppt(payload) -> bool:
    """Cheap probe: CFB magic + a ``PowerPoint Document`` directory
    entry name anywhere in the directory chain region. Exact: the
    full parse decides; this just gates dispatch order."""
    if not is_cfb(payload):
        return False
    return ("PowerPoint Document".encode("utf-16-le")
            in bytes(payload))


def is_doc(payload) -> bool:
    if not is_cfb(payload):
        return False
    return "WordDocument".encode("utf-16-le") in bytes(payload)
