"""Compressed-stream frame index — pure Python, Spark-free.

Crawl payloads and dataset drops arrive as .gz/.bz2/.xz/.zst/.lz4;
before any content pipeline runs, a 100 TB layout audit needs the
CONTAINER shape: how many members/frames, their compressed extents,
their raw sizes, and the filenames/flags riding the headers. One
dispatcher, five formats:

- gzip: member walk via stdlib zlib (wbits=-15) after a from-
  scratch header parse (FLG bits: FEXTRA/FNAME/FCOMMENT/FHCRC),
  verifying each member's ISIZE trailer; multi-member files yield
  multiple rows (the WARC convention).
- bzip2: member walk via stdlib bz2.BZ2Decompressor (unused_data
  marks member ends).
- xz: stream walk via stdlib lzma (FORMAT_XZ), check type from the
  stream-header flags.
- zstd (RFC 8878): NO decompressor here, and none needed for an
  index — block headers carry their sizes (3-byte LE: last bit,
  type, 21-bit size; RLE blocks store 1 byte), so frames are
  walked structurally; raw size from the frame-header FCS field
  when present. Skippable frames surface as their own rows.
- lz4 frame: same move — FLG/BD bytes, optional content size,
  4-byte block sizes (high bit = stored uncompressed).

Each parser stops at the first malformed byte, keeping verified
frames."""

from __future__ import annotations

import bz2
import lzma
import zlib

_XZ_CHECKS = {0: "none", 1: "crc32", 4: "crc64", 10: "sha256"}


_CHUNK = 1 << 20
_MAX_COUNT_STEPS = 1 << 16  # 64 GB of output, counted not kept


def _count_stream(d, data: bytes) -> int | None:
    """Total decompressed LENGTH of one stream without ever
    materializing it (bombs report their true size in O(chunk)
    memory). Works for zlib decompressobj (unconsumed_tail) and
    bz2/lzma decompressors (feed-once, then b''). None on
    corrupt/truncated/absurd streams; d.eof/unused_data are the
    caller's framing signal."""
    total = 0
    is_zlib = hasattr(d, "unconsumed_tail")
    try:
        chunk = d.decompress(data, _CHUNK)
    except (OSError, lzma.LZMAError, zlib.error):
        return None
    total += len(chunk)
    for _ in range(_MAX_COUNT_STEPS):
        if d.eof:
            return total
        nxt = d.unconsumed_tail if is_zlib else b""
        if is_zlib and not nxt:
            return None  # truncated mid-stream
        try:
            chunk = d.decompress(nxt, _CHUNK)
        except (OSError, lzma.LZMAError, zlib.error, EOFError):
            return None
        if not chunk and not d.eof:
            return None  # no progress: truncated
        total += len(chunk)
    return None


def _gzip(b: bytes) -> list[tuple]:
    frames = []
    off = 0
    while off + 18 <= len(b):
        if b[off:off + 2] != b"\x1f\x8b" or b[off + 2] != 8:
            break
        flg = b[off + 3]
        mtime = int.from_bytes(b[off + 4:off + 8], "little")
        p = off + 10
        try:
            if flg & 4:  # FEXTRA
                xlen = int.from_bytes(b[p:p + 2], "little")
                p += 2 + xlen
            fname = None
            if flg & 8:  # FNAME
                end = b.index(b"\x00", p)
                fname = b[p:end].decode("latin-1")
                p = end + 1
            if flg & 16:  # FCOMMENT
                p = b.index(b"\x00", p) + 1
            if flg & 2:  # FHCRC
                p += 2
            d = zlib.decompressobj(-15)
            raw_len = _count_stream(d, b[p:])
            if raw_len is None or not d.eof:
                break
            consumed = len(b) - p - len(d.unused_data)
            tail = p + consumed
            if tail + 8 > len(b):
                break
            isize = int.from_bytes(b[tail + 4:tail + 8], "little")
            ok = isize == (raw_len & 0xFFFFFFFF)
            frames.append((len(frames), "member",
                           tail + 8 - off, raw_len,
                           fname if fname is not None
                           else (f"mtime:{mtime}" if mtime
                                 else None), ok))
            off = tail + 8
        except (ValueError, zlib.error, IndexError):
            break
    return frames


def _bzip2(b: bytes) -> list[tuple]:
    frames = []
    off = 0
    while off + 10 <= len(b) and b[off:off + 3] == b"BZh" \
            and 0x31 <= b[off + 3] <= 0x39:
        level = b[off + 3] - 0x30
        d = bz2.BZ2Decompressor()
        raw_len = _count_stream(d, b[off:])
        if raw_len is None or not d.eof:
            break
        consumed = len(b) - off - len(d.unused_data)
        frames.append((len(frames), "member", consumed, raw_len,
                       f"level:{level}", True))
        off += consumed
    return frames


def _xz(b: bytes) -> list[tuple]:
    frames = []
    off = 0
    while off + 12 <= len(b) and \
            b[off:off + 6] == b"\xfd7zXZ\x00":
        check = _XZ_CHECKS.get(b[off + 7] & 0x0F,
                               str(b[off + 7] & 0x0F))
        d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
        raw_len = _count_stream(d, b[off:])
        if raw_len is None or not d.eof:
            break
        consumed = len(b) - off - len(d.unused_data)
        frames.append((len(frames), "stream", consumed, raw_len,
                       f"check:{check}", True))
        off += consumed
    return frames


def _zstd(b: bytes) -> list[tuple]:
    frames = []
    off = 0
    while off + 4 <= len(b):
        magic = int.from_bytes(b[off:off + 4], "little")
        if 0x184D2A50 <= magic <= 0x184D2A5F:  # skippable
            if off + 8 > len(b):
                break
            n = int.from_bytes(b[off + 4:off + 8], "little")
            if off + 8 + n > len(b):
                break
            frames.append((len(frames), "skippable", 8 + n, n,
                           None, True))
            off += 8 + n
            continue
        if magic != 0xFD2FB528 or off + 6 > len(b):
            break
        p = off + 4
        fhd = b[p]
        p += 1
        fcs_flag = fhd >> 6
        single = (fhd >> 5) & 1
        dict_flag = fhd & 3
        if not single:
            p += 1  # window descriptor
        p += (0, 1, 2, 4)[dict_flag]
        fcs_len = (1 if single else 0, 2, 4, 8)[fcs_flag]
        raw_size = None
        if fcs_len:
            if p + fcs_len > len(b):
                break
            raw_size = int.from_bytes(b[p:p + fcs_len], "little")
            if fcs_len == 2:
                raw_size += 256
            p += fcs_len
        if fhd & 0x08:  # reserved bit set => not zstd
            break
        ok = True
        while True:  # block walk: sizes live in the headers
            if p + 3 > len(b):
                ok = False
                break
            bh = int.from_bytes(b[p:p + 3], "little")
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            p += 3
            if btype == 3:
                ok = False
                break
            p += 1 if btype == 1 else bsize  # RLE stores 1 byte
            if p > len(b):
                ok = False
                break
            if last:
                break
        if not ok:
            break
        if fhd & 0x04:  # content checksum
            if p + 4 > len(b):
                break
            p += 4
        frames.append((len(frames), "frame", p - off, raw_size,
                       None, True))
        off = p
    return frames


def _lz4(b: bytes) -> list[tuple]:
    frames = []
    off = 0
    while off + 7 <= len(b) and int.from_bytes(
            b[off:off + 4], "little") == 0x184D2204:
        p = off + 4
        flg, bd = b[p], b[p + 1]
        p += 2
        if flg >> 6 != 1:  # version
            break
        raw_size = None
        if flg & 0x08:  # content size
            if p + 8 > len(b):
                break
            raw_size = int.from_bytes(b[p:p + 8], "little")
            p += 8
        if flg & 0x01:  # dict id
            p += 4
        p += 1  # header checksum
        ok = True
        while True:
            if p + 4 > len(b):
                ok = False
                break
            bsz = int.from_bytes(b[p:p + 4], "little")
            p += 4
            if bsz == 0:  # EndMark
                break
            p += bsz & 0x7FFFFFFF
            if flg & 0x10:  # block checksum
                p += 4
            if p > len(b):
                ok = False
                break
        if not ok:
            break
        if flg & 0x04:  # content checksum
            if p + 4 > len(b):
                break
            p += 4
        frames.append((len(frames), "frame", p - off, raw_size,
                       f"bd:{(bd >> 4) & 7}", True))
        off = p
    return frames


def parse_compressed(payload) -> dict:
    """payload -> {"format": str|None, "frames": [(pos, kind,
    comp_size, raw_size, extra, ok)]}; never raises; format None
    for unrecognized magics."""
    out: dict = {"format": None, "frames": []}
    if not isinstance(payload, (bytes, bytearray)) or \
            len(payload) < 4:
        return out
    b = bytes(payload)
    if b[:2] == b"\x1f\x8b":
        out["format"] = "gzip"
        out["frames"] = _gzip(b)
    elif b[:3] == b"BZh":
        out["format"] = "bzip2"
        out["frames"] = _bzip2(b)
    elif b[:6] == b"\xfd7zXZ\x00":
        out["format"] = "xz"
        out["frames"] = _xz(b)
    elif int.from_bytes(b[:4], "little") == 0xFD2FB528 or \
            0x184D2A50 <= int.from_bytes(b[:4], "little") \
            <= 0x184D2A5F:
        out["format"] = "zstd"
        out["frames"] = _zstd(b)
    elif int.from_bytes(b[:4], "little") == 0x184D2204:
        out["format"] = "lz4"
        out["frames"] = _lz4(b)
    return out
