"""OLE property sets ([MS-OLEPS]) — legacy office metadata, from
scratch, pure Python, Spark-free.

The CFB sibling of ``office_metadata`` (OOXML core.xml / ODF
meta.xml / EPUB OPF): every 97-2003 ``.ppt``/``.doc``/``.xls``
carries ``\\x05SummaryInformation`` /
``\\x05DocumentSummaryInformation`` streams — title, author,
keywords, timestamps, page/word counts — in the TLV-ish property
set format:

- PropertySetStream header: byte order 0xFFFE, n property sets,
  (FMTID, offset) per set;
- PropertySet: size, count, (id, offset) pairs relative to the set;
- TypedPropertyValue: VT type + value. Covered types: I2/I4/UI2/
  UI4 ints, BOOL, LPSTR (codepage property 1 decides the 8-bit
  decode, cp1252 default), LPWSTR UTF-16LE, FILETIME (100 ns ticks
  since 1601 -> ISO via pure integer math).

Never raises; junk -> []. All counts/offsets bounds-clamped.
"""

from __future__ import annotations

import struct

from .cfbx import parse_cfb

SUMMARY_STREAM = "\x05SummaryInformation"
DOCSUMMARY_STREAM = "\x05DocumentSummaryInformation"

# property-id -> name maps ([MS-OLEPS] predefined ids)
SUMMARY_IDS = {
    2: "title", 3: "subject", 4: "author", 5: "keywords",
    6: "comments", 7: "template", 8: "last_author",
    9: "revision", 12: "created", 13: "last_saved",
    14: "n_pages", 15: "n_words", 16: "n_chars", 18: "app_name",
}
DOCSUMMARY_IDS = {
    2: "category", 3: "presentation_format", 4: "n_bytes",
    5: "n_lines", 6: "n_paragraphs", 7: "n_slides", 8: "n_notes",
    9: "n_hidden_slides", 14: "manager", 15: "company",
}

_EPOCH_DELTA = 11644473600  # seconds between 1601 and 1970


def _filetime_iso(ticks: int) -> str | None:
    """100 ns ticks since 1601-01-01 -> ISO UTC string, pure
    integer civil-date math (no datetime; days-from-civil)."""
    if ticks <= 0:
        return None
    secs = ticks // 10_000_000 - _EPOCH_DELTA
    if not 0 <= secs < 4102444800:  # clamp to 1970..2100
        return None
    days, rem = divmod(secs, 86400)
    hh, rem = divmod(rem, 3600)
    mm, ss = divmod(rem, 60)
    # days-from-civil inverse (Howard Hinnant's algorithm)
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    if m <= 2:
        y += 1
    return (f"{y:04d}-{m:02d}-{d:02d}T"
            f"{hh:02d}:{mm:02d}:{ss:02d}Z")


def _decode_value(b: bytes, off: int, codepage: int
                  ) -> tuple[str, str | None]:
    """TypedPropertyValue at ``off`` -> (vtype_label, value_str)."""
    (vt,) = struct.unpack_from("<H", b, off)
    p = off + 4
    if vt == 2:     # VT_I2
        return "i2", str(struct.unpack_from("<h", b, p)[0])
    if vt == 18:    # VT_UI2
        return "ui2", str(struct.unpack_from("<H", b, p)[0])
    if vt == 3:     # VT_I4
        return "i4", str(struct.unpack_from("<i", b, p)[0])
    if vt == 19:    # VT_UI4
        return "ui4", str(struct.unpack_from("<I", b, p)[0])
    if vt == 11:    # VT_BOOL
        return "bool", ("true" if struct.unpack_from(
            "<h", b, p)[0] else "false")
    if vt == 30:    # VT_LPSTR (codepage, NUL-terminated)
        (n,) = struct.unpack_from("<I", b, p)
        n = min(n, len(b) - p - 4)
        if codepage == 1200:
            # CP_WINUNICODE (real Word 97 SummaryInformation streams):
            # the bytes are UTF-16LE — a single-byte NUL split would
            # truncate at the first ASCII pair's high byte, and Python
            # has no 'cp1200' codec so the generic path decoded
            # latin-1 mojibake (r6, ADVICE r5). n is the BYTE length;
            # terminate on the first NUL CHARACTER after decoding.
            return "lpstr", (b[p + 4:p + 4 + n - (n % 2)]
                             .decode("utf-16-le", "replace")
                             .split("\x00", 1)[0])
        raw = b[p + 4:p + 4 + n].split(b"\x00", 1)[0]
        enc = f"cp{codepage}" if codepage not in (0, 65001) \
            else "utf-8"
        try:
            return "lpstr", raw.decode(enc, "replace")
        except LookupError:
            return "lpstr", raw.decode("latin-1")
    if vt == 31:    # VT_LPWSTR (UTF-16LE, char count incl NUL)
        (n,) = struct.unpack_from("<I", b, p)
        n = min(n, (len(b) - p - 4) // 2)
        raw = b[p + 4:p + 4 + n * 2].decode("utf-16-le", "replace")
        return "lpwstr", raw.split("\x00", 1)[0]
    if vt == 64:    # VT_FILETIME
        (ticks,) = struct.unpack_from("<Q", b, p)
        return "filetime", _filetime_iso(ticks)
    return f"vt{vt}", None


def parse_property_set(stream: bytes,
                       names: dict[int, str]) -> list[tuple]:
    """PropertySetStream bytes -> [(pos, prop_id, name, vtype,
    value)]; [] on junk. Only the FIRST property set is read (the
    second, user-defined set has arbitrary FMTIDs — out of the
    deterministic metadata scope)."""
    out: list[tuple] = []
    if not isinstance(stream, (bytes, bytearray)) or \
            len(stream) < 48:
        return out
    b = bytes(stream)
    try:
        (order,) = struct.unpack_from("<H", b, 0)
        if order != 0xFFFE:
            return out
        (nsets,) = struct.unpack_from("<I", b, 24)
        if not 1 <= nsets <= 2:
            return out
        (set_off,) = struct.unpack_from("<I", b, 44)
        if set_off + 8 > len(b):
            return out
        (_size, nprops) = struct.unpack_from("<II", b, set_off)
        nprops = min(nprops, 256)
        pairs = []
        for i in range(nprops):
            pid, poff = struct.unpack_from(
                "<II", b, set_off + 8 + i * 8)
            pairs.append((pid, poff))
        codepage = 1252
        for pid, poff in pairs:  # codepage first (id 1)
            if pid == 1 and set_off + poff + 8 <= len(b):
                try:
                    cp = int(_decode_value(
                        b, set_off + poff, 1252)[1] or 0)
                    if 0 < cp < 100000:
                        codepage = cp
                except (ValueError, TypeError):
                    pass
        for pid, poff in pairs:
            if pid in (0, 1) or set_off + poff + 8 > len(b):
                continue
            try:
                vtype, val = _decode_value(b, set_off + poff,
                                           codepage)
            except struct.error:
                continue
            out.append((len(out), pid,
                        names.get(pid), vtype, val))
    except struct.error:
        return out
    return out


def extract_office_properties(payload) -> list[tuple]:
    """CFB bytes -> [(pos, stream, prop_id, name, vtype, value)]
    from the summary + document-summary property streams; [] for
    junk / CFB without property streams. Never raises."""
    d = parse_cfb(payload)
    if d is None:
        return []
    out: list[tuple] = []
    for sname, label, names in (
            (SUMMARY_STREAM, "summary", SUMMARY_IDS),
            (DOCSUMMARY_STREAM, "docsummary", DOCSUMMARY_IDS)):
        stream = d["_streams"].get(sname)
        if stream is None:
            continue
        for (_p, pid, name, vtype, val) in \
                parse_property_set(stream, names):
            out.append((len(out), label, pid, name, vtype, val))
    return out


# --- encode half (fixtures) --------------------------------------------------

def build_property_set(props: list[tuple[int, str, object]],
                       fmtid: bytes = b"\xe0\x85\x9f\xf2"
                       b"\xf9\x4f\x68\x10\xab\x91\x08\x00"
                       b"\x2b\x27\xb3\xd9") -> bytes:
    """[(prop_id, vtype, value)] -> PropertySetStream bytes.
    vtype in {'i2','i4','bool','lpstr','lpwstr','filetime'};
    filetime value = ISO string or raw tick int."""
    blobs: list[bytes] = []
    for _pid, vt, val in props:
        if vt == "i2":
            blobs.append(struct.pack("<HHhxx", 2, 0, int(val)))
        elif vt == "i4":
            blobs.append(struct.pack("<HH", 3, 0)
                         + struct.pack("<i", int(val)))
        elif vt == "bool":
            blobs.append(struct.pack("<HH", 11, 0)
                         + struct.pack("<hxx", -1 if val else 0))
        elif vt == "lpstr":
            raw = str(val).encode("cp1252") + b"\x00"
            pad = (-len(raw)) % 4
            blobs.append(struct.pack("<HHI", 30, 0, len(raw))
                         + raw + b"\x00" * pad)
        elif vt == "lpwstr":
            raw = (str(val) + "\x00").encode("utf-16-le")
            pad = (-len(raw)) % 4
            blobs.append(struct.pack("<HHI", 31, 0,
                                     len(raw) // 2)
                         + raw + b"\x00" * pad)
        elif vt == "filetime":
            if isinstance(val, int):
                ticks = val
            else:  # ISO string
                y, mo, rest = (str(val).split("-", 2))
                dd, tm = rest.split("T")
                hh, mm, ss = tm.rstrip("Z").split(":")
                y, mo, dd = int(y), int(mo), int(dd)
                yy = y - (1 if mo <= 2 else 0)
                era = yy // 400
                yoe = yy - era * 400
                mp = mo - 3 if mo >= 3 else mo + 9
                doy = (153 * mp + 2) // 5 + dd - 1
                doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
                days = era * 146097 + doe - 719468
                secs = (days * 86400 + int(hh) * 3600
                        + int(mm) * 60 + int(ss))
                ticks = (secs + _EPOCH_DELTA) * 10_000_000
            blobs.append(struct.pack("<HHQ", 64, 0, ticks))
        else:
            raise ValueError(vt)
    # codepage property (id 1) leads
    cp_blob = struct.pack("<HHhxx", 2, 0, 1252)
    all_props = [(1, cp_blob)] + [
        (pid, blob) for (pid, _vt, _v), blob in zip(props, blobs)]
    head_sz = 8 + 8 * len(all_props)
    offs = []
    pos = head_sz
    for _pid, blob in all_props:
        offs.append(pos)
        pos += len(blob)
    set_blob = struct.pack("<II", pos, len(all_props))
    for (pid, _blob), off in zip(all_props, offs):
        set_blob += struct.pack("<II", pid, off)
    set_blob += b"".join(blob for _pid, blob in all_props)
    hdr = (struct.pack("<HHI", 0xFFFE, 0, 0x00020005)
           + b"\x00" * 16                      # CLSID
           + struct.pack("<I", 1)              # one property set
           + fmtid + struct.pack("<I", 48))    # set at offset 48
    return hdr + set_blob
