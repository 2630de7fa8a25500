"""REAL codec-free image/audio decode — pure stdlib, no PIL/cv2.

PNG is zlib (stdlib) + five byte-level scanline filters, so a genuine
decoder/encoder needs no external codec: this module implements
non-interlaced 8-bit PNG (gray / gray+alpha / RGB / RGBA) end to end —
chunk walk, IDAT inflate, per-row unfilter (None/Sub/Up/Average/Paeth)
— plus nearest-neighbor resize, per-channel stats, and a filter-
parameterized encoder used to exercise every decode path. Test WAVs
are written with the stdlib ``wave`` module.

This upgrades C14 (resize, ``multimodal_RAG_methods.py:336-352``)
from "stubbed: no codec in container" to real for PNG payloads; JPEG
and GIF pixel decode (DCT / LZW) remain out of scope and fall back to
the header-only path in ``operators/multimodal.py``.

Spark-free on purpose: like ``htmlx``/``pdfx``, this file IS the
correctness oracle; the Arrow UDFs call these same functions.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (bit depth 8 only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


# --- PNG encode ---------------------------------------------------------------

def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def _filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to a raw row (encoder side)."""
    out = bytearray(len(row))
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        else:                              # 4 = Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (x - pred) & 0xFF
    return bytes(out)


def encode_png(pixels: bytes, width: int, height: int,
               channels: int = 3, filter_type: int = 0) -> bytes:
    """Real PNG encoder (8-bit, non-interlaced). ``filter_type`` picks
    the scanline filter for every row — production encoders pick per
    row for compression; exposing it lets tests drive every decoder
    filter branch with genuine files."""
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    assert len(pixels) == stride * height, "pixel buffer size mismatch"
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = bytes(pixels[y * stride:(y + 1) * stride])
        raw.append(filter_type)
        raw += _filter_row(filter_type, row, prev, channels)
        prev = row
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + _chunk(b"IEND", b""))


# --- PNG decode ---------------------------------------------------------------

def _unfilter_row(ftype: int, cur: bytearray, prev: bytes,
                  bpp: int) -> None:
    """Undo PNG filter ``ftype`` in place (decoder side)."""
    n = len(cur)
    if ftype == 0:
        return
    if ftype == 1:
        for i in range(bpp, n):
            cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
    elif ftype == 2:
        for i in range(n):
            cur[i] = (cur[i] + prev[i]) & 0xFF
    elif ftype == 3:
        for i in range(n):
            a = cur[i - bpp] if i >= bpp else 0
            cur[i] = (cur[i] + (a + prev[i]) // 2) & 0xFF
    elif ftype == 4:
        for i in range(n):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            cur[i] = (cur[i] + pred) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter {ftype}")


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, raw 8-bit pixels row-major).

    Supports the baseline web subset: bit depth 8, color types
    0/2/4/6, non-interlaced. Raises ValueError on anything else
    (caller falls back to header-only handling).
    """
    if not payload.startswith(_SIG):
        raise ValueError("not a PNG")
    pos, width = len(_SIG), None
    idat = bytearray()
    height = channels = 0
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, inter = \
                struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in _CHANNELS or inter != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth} color={ctype} "
                    f"interlace={inter})")
            channels = _CHANNELS[ctype]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length                 # len + tag + body + crc
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("bad scanline payload size")
    out = bytearray(stride * height)
    prev = bytes(stride)
    for y in range(height):
        base = y * (stride + 1)
        cur = bytearray(raw[base + 1:base + 1 + stride])
        _unfilter_row(raw[base], cur, prev, channels)
        out[y * stride:(y + 1) * stride] = cur
        prev = bytes(cur)
    return width, height, channels, bytes(out)


# --- pixel ops (C14 resize / stats) --------------------------------------------

def resize_nearest(pixels: bytes, w: int, h: int, ch: int,
                   w2: int, h2: int) -> bytes:
    """Nearest-neighbor resample (deterministic, codec-free C14)."""
    out = bytearray(w2 * h2 * ch)
    for y2 in range(h2):
        y = y2 * h // h2
        row = y * w * ch
        dst = y2 * w2 * ch
        for x2 in range(w2):
            x = x2 * w // w2
            out[dst + x2 * ch:dst + (x2 + 1) * ch] = \
                pixels[row + x * ch:row + (x + 1) * ch]
    return bytes(out)


def resize_area(pixels: bytes, w: int, h: int, ch: int,
                w2: int, h2: int) -> bytes:
    """Deterministic area-average (box-filter) resample — the C14
    kernel (reference swaps PIL LANCZOS at
    ``multimodal_RAG_methods.py:336-352``; a box filter is the closest
    exactly-reproducible stdlib-free kernel, far closer to LANCZOS
    than nearest-neighbor for downscaling).

    Every destination pixel averages the source box it covers with
    EXACT integer fractional-coverage weights: overlap lengths are
    computed in units of 1/w2 (resp. 1/h2) so each dest pixel's
    weights sum to exactly w*h, and the final value is the rational
    sum rounded HALF_UP — bit-identical on any platform, no floats.
    """
    out = bytearray(w2 * h2 * ch)
    wh = w * h
    for y2 in range(h2):
        sy0n, sy1n = y2 * h, (y2 + 1) * h       # box edges, units 1/h2
        ys = range(sy0n // h2, (sy1n + h2 - 1) // h2)
        for x2 in range(w2):
            sx0n, sx1n = x2 * w, (x2 + 1) * w   # box edges, units 1/w2
            xs = range(sx0n // w2, (sx1n + w2 - 1) // w2)
            sums = [0] * ch
            for sy in ys:
                oy = min((sy + 1) * h2, sy1n) - max(sy * h2, sy0n)
                if oy <= 0:
                    continue
                rowbase = sy * w * ch
                for sx in xs:
                    ox = min((sx + 1) * w2, sx1n) - max(sx * w2, sx0n)
                    if ox <= 0:
                        continue
                    wgt = ox * oy
                    p = rowbase + sx * ch
                    for c in range(ch):
                        sums[c] += pixels[p + c] * wgt
            dst = (y2 * w2 + x2) * ch
            for c in range(ch):
                out[dst + c] = (2 * sums[c] + wh) // (2 * wh)
    return bytes(out)


_PI = 3.141592653589793  # double literal — no libm constant lookup


def _sin(x: float) -> float:
    """Deterministic sin(x) for |x| <= ~10 (the Lanczos kernel's
    argument range): range-reduce by exact multiples of pi into
    [-pi/2, pi/2], then a Taylor series using only IEEE-754 +,-,*
    (correctly rounded everywhere, unlike platform libm sin whose
    last ulp varies) — bit-identical on any host."""
    neg = x < 0.0
    if neg:
        x = -x
    k = int(x / _PI + 0.5)           # nearest multiple of pi
    x -= k * _PI                     # now in [-pi/2, pi/2]
    if k % 2:
        x = -x
    x2 = x * x
    # sin x = x * P, P nested Horner: P_n = 1 - x^2/((2n)(2n+1))*P_{n+1};
    # through n=11 the truncation is below 1 ulp on [-pi/2, pi/2]
    s = 1.0
    for dd in (506.0, 420.0, 342.0, 272.0, 210.0, 156.0,
               110.0, 72.0, 42.0, 20.0, 6.0):
        s = 1.0 - x2 * s / dd
    r = x * s
    return -r if neg else r


def _lanczos3(d: float) -> float:
    """Lanczos a=3 kernel: sinc(d) * sinc(d/3) for |d| < 3, else 0."""
    if d <= -3.0 or d >= 3.0:
        return 0.0
    if d == 0.0:
        return 1.0
    pd = _PI * d
    return 3.0 * _sin(pd) * _sin(pd / 3.0) / (pd * pd)


def _lanczos_weights(src: int, dst: int) -> list[tuple[int, list[int]]]:
    """Per-destination-index (first_src_index, fixed-point weights):
    the PIL convolution geometry — center (i+0.5)*scale, support
    3*filterscale with filterscale = max(1, src/dst), window clipped
    to the image and normalized over the clipped window — quantized
    to 1/65536 integer weights that sum to exactly 65536 (largest
    weight absorbs the rounding residue), so the convolution itself
    is pure-integer and bit-identical."""
    scale = src / dst
    fscale = scale if scale > 1.0 else 1.0
    support = 3.0 * fscale
    out: list[tuple[int, list[int]]] = []
    for i in range(dst):
        center = (i + 0.5) * scale
        lo = int(center - support + 0.5)
        if lo < 0:
            lo = 0
        hi = int(center + support + 0.5)
        if hi > src:
            hi = src
        ws = [_lanczos3((j + 0.5 - center) / fscale) for j in range(lo, hi)]
        total = 0.0
        for v in ws:
            total += v
        qs = [int((v / total) * 65536.0 + (0.5 if v >= 0 else -0.5))
              for v in ws]
        k = max(range(len(qs)), key=lambda t: qs[t])
        qs[k] += 65536 - sum(qs)
        out.append((lo, qs))
    return out


def resize_lanczos(pixels: bytes, w: int, h: int, ch: int,
                   w2: int, h2: int) -> bytes:
    """Deterministic separable Lanczos-3 resample — the C14 kernel in
    the reference's own family (PIL LANCZOS at
    ``multimodal_RAG_methods.py:336-352``): same convolution geometry
    (center/support/window-clip, horizontal pass then vertical, each
    clamped to 8 bits), but with the kernel evaluated by a
    correctly-rounded Taylor sin and weights quantized to integer
    1/65536 fixed point, so the output is bit-identical on any
    platform — unlike libm-backed floats. Negative lobes (the
    sharpening that distinguishes LANCZOS from a box filter) are kept
    and the result clamped to [0, 255] per pass, as PIL does."""
    # horizontal pass: (w, h) -> (w2, h), clamped uint8
    mid = bytearray(w2 * h * ch)
    for x2, (lo, qs) in enumerate(_lanczos_weights(w, w2)):
        for y in range(h):
            rowbase = y * w * ch
            dst = (y * w2 + x2) * ch
            for c in range(ch):
                acc = 32768
                p = rowbase + lo * ch + c
                for q in qs:
                    acc += q * pixels[p]
                    p += ch
                v = acc >> 16
                mid[dst + c] = 0 if v < 0 else (255 if v > 255 else v)
    # vertical pass: (w2, h) -> (w2, h2)
    out = bytearray(w2 * h2 * ch)
    for y2, (lo, qs) in enumerate(_lanczos_weights(h, h2)):
        for x2 in range(w2):
            dst = (y2 * w2 + x2) * ch
            for c in range(ch):
                acc = 32768
                p = (lo * w2 + x2) * ch + c
                step = w2 * ch
                for q in qs:
                    acc += q * mid[p]
                    p += step
                v = acc >> 16
                out[dst + c] = 0 if v < 0 else (255 if v > 255 else v)
    return bytes(out)


def grayscale(pixels: bytes, ch: int) -> bytes:
    """Integer ITU-R 601 luma ((299R + 587G + 114B + 500) // 1000) —
    deterministic on any host, no floats. ch=1 is identity; ch=2
    (gray+alpha) keeps gray; ch=4 ignores alpha."""
    if ch == 1:
        return bytes(pixels)
    if ch == 2:
        return bytes(pixels[::2])
    out = bytearray(len(pixels) // ch)
    for i in range(len(out)):
        p = i * ch
        out[i] = (299 * pixels[p] + 587 * pixels[p + 1]
                  + 114 * pixels[p + 2] + 500) // 1000
    return bytes(out)


def dhash64(pixels: bytes, w: int, h: int, ch: int) -> int:
    """64-bit difference hash (the standard perceptual near-dup
    fingerprint): grayscale -> exact-integer area resample to 9x8 ->
    one bit per adjacent-column comparison (bit set when the left
    pixel is brighter), row-major MSB-first. Built entirely from the
    committed deterministic kernels (``grayscale`` + ``resize_area``),
    so the hash is bit-identical on any platform. Returned as SIGNED
    int64 (two's complement) so it lands in a Spark/DuckDB BIGINT
    without loss. Visually-near images differ in a few bits; pairing
    uses pigeonhole bit-bands (operators/dedup.hamming_near_pairs),
    never all-pairs."""
    small = resize_area(grayscale(pixels, ch), w, h, 1, 9, 8)
    v = 0
    for r in range(8):
        row = r * 9
        for c in range(8):
            v = (v << 1) | (1 if small[row + c] > small[row + c + 1]
                            else 0)
    return v - (1 << 64) if v >= (1 << 63) else v


def rotate(pixels: bytes, w: int, h: int, ch: int,
           quarter_turns: int) -> tuple[bytes, int, int]:
    """Rotate clockwise by ``quarter_turns`` x 90 degrees — exact
    pixel permutation, no resampling. Returns (pixels, w, h). The
    EXIF-orientation normalization step: orientation 6 -> 1 turn,
    3 -> 2, 8 -> 3 (mirrored orientations 2/4/5/7 are vanishingly
    rare in crawl data and map to their rotation here)."""
    q = quarter_turns % 4
    if q == 0:
        return bytes(pixels), w, h
    out = bytearray(len(pixels))
    if q == 2:
        for y in range(h):
            for x in range(w):
                s = (y * w + x) * ch
                d = ((h - 1 - y) * w + (w - 1 - x)) * ch
                out[d:d + ch] = pixels[s:s + ch]
        return bytes(out), w, h
    # 90 cw: dest(x, y) = src(y, h-1-x) with dest dims (h, w)
    w2, h2 = h, w
    for y in range(h):
        for x in range(w):
            s = (y * w + x) * ch
            if q == 1:
                d = (x * w2 + (h - 1 - y)) * ch
            else:                           # 270 cw == 90 ccw
                d = ((w - 1 - x) * w2 + y) * ch
            out[d:d + ch] = pixels[s:s + ch]
    return bytes(out), w2, h2


def channel_means(pixels: bytes, ch: int) -> list[float]:
    """Per-channel mean sample value (exact rational -> float)."""
    n = len(pixels) // ch
    if n == 0:
        return [0.0] * ch
    sums = [0] * ch
    for i, v in enumerate(pixels):
        sums[i % ch] += v
    return [s / n for s in sums]


# --- WAV ------------------------------------------------------------------------

def make_wav(n_frames: int, sample_rate: int = 8000,
             period: int = 32) -> bytes:
    """Deterministic 16-bit mono WAV: a square wave of the given
    period (real RIFF container via the stdlib ``wave`` writer)."""
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = bytearray()
        for i in range(n_frames):
            v = 12000 if (i // (period // 2)) % 2 == 0 else -12000
            frames += struct.pack("<h", v)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def make_test_png(width: int, height: int, channels: int = 3,
                  seed: int = 0, filter_type: int = 0) -> bytes:
    """Deterministic real PNG: pixel (x, y) channel c has value
    (3x + 7y + 11c + seed) mod 256 — shared by tests and the driver
    oracle, which pins the decoded stats as literals."""
    px = bytes(
        (3 * x + 7 * y + 11 * c + seed) % 256
        for y in range(height) for x in range(width)
        for c in range(channels))
    return encode_png(px, width, height, channels, filter_type)


# --- GIF (real LZW decode; encoder uses the uncompressed-GIF technique) --------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_rows(height: int, interlaced: bool) -> list[int]:
    if not interlaced:
        return list(range(height))
    rows = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, height, step))
    return rows


def encode_gif(indices: bytes, width: int, height: int,
               palette: list[tuple[int, int, int]],
               interlaced: bool = False) -> bytes:
    """Real GIF89a writer using the classic "uncompressed GIF" LZW
    stream: fixed (min+1)-bit codes with a CLEAR before the table
    would grow — every conforming decoder accepts it, and it needs no
    string table. Palette is padded to a power of two >= 2."""
    size = 2
    while size < len(palette) or size < 4:
        size *= 2
    if size > 256 or max(indices, default=0) >= len(palette):
        raise ValueError("palette too large or index out of range")
    pal = list(palette) + [(0, 0, 0)] * (size - len(palette))
    n = size.bit_length() - 1               # color resolution bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (n - 1), 0, 0])    # global table, 2^n entries
    for r, g, b in pal:
        out += bytes([r, g, b])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out += bytes([0x40 if interlaced else 0])
    min_code = max(2, n)
    clear, _end = 1 << min_code, (1 << min_code) + 1
    out += bytes([min_code])
    # bit-pack (min_code+1)-bit codes LSB-first, CLEAR every 2^min-3
    # codes so the width never grows past min_code+1
    codes = [clear]
    budget = (1 << min_code) - 3
    rows = _gif_rows(height, interlaced)
    for y in rows:
        for x in range(width):
            codes.append(indices[y * width + x])
            budget -= 1
            if budget == 0:
                codes.append(clear)
                budget = (1 << min_code) - 3
    codes.append(_end)
    acc = nbits = 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += min_code + 1
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        block = data[i:i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"                      # block terminator + trailer
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> bytes:
    """Real GIF LZW decoder (variable code width 3..12 bits)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code + 1
    prev: bytes | None = None
    acc = nbits = pos = 0

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
        width = min_code + 1
        prev = None

    reset()
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if code < len(table) and code not in (clear, end):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_pixels])


def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, 3, RGB pixels) of the FIRST image frame — a
    real LZW decode (variable-width codes, clear/EOI, interlace).
    Transparency/animation are ignored; local palettes supported."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    _sw, _sh = struct.unpack("<HH", payload[6:10])
    packed, _bg, _ar = payload[10], payload[11], payload[12]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:                       # extension: skip sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b0 == 0x2C:                     # image descriptor
            _l, _t, w, h = struct.unpack("<HHHH", payload[pos + 1:pos + 9])
            ip = payload[pos + 9]
            pos += 10
            table = gct
            if ip & 0x80:
                n = 2 << (ip & 0x07)
                table = payload[pos:pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("no color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(data), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("short pixel stream")
            rows = _gif_rows(h, bool(ip & 0x40))
            px = bytearray(w * h * 3)
            for src_row, y in enumerate(rows):
                for x in range(w):
                    i = idx[src_row * w + x] * 3
                    d = (y * w + x) * 3
                    px[d:d + 3] = table[i:i + 3]
            return w, h, 3, bytes(px)
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
    raise ValueError("no image frame")


# --- netpbm (P4/P5/P6 raw) ---------------------------------------------------

def decode_pnm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Raw netpbm -> (w, h, channels, pixels). P5 = 1-channel gray,
    P6 = 3-channel RGB (maxval <= 255 only — 16-bit rejects), P4 =
    1-bit bitmap expanded to gray (MSB first, rows byte-padded).
    Header tokens separated by whitespace with '#' comments; raises
    ValueError on junk (the decode-chain contract)."""
    if not payload.startswith((b"P4", b"P5", b"P6")):
        raise ValueError("not raw pnm")
    kind = payload[:2]
    pos = 2
    tokens: list[int] = []
    need = 2 if kind == b"P4" else 3
    while len(tokens) < need:
        while pos < len(payload) and payload[pos:pos + 1] \
                .isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("header comment")
            pos = nl + 1
            continue
        start = pos
        while pos < len(payload) and \
                not payload[pos:pos + 1].isspace():
            pos += 1
        tok = payload[start:pos]
        if not tok.isdigit():
            raise ValueError("header token")
        tokens.append(int(tok))
    pos += 1                          # single whitespace after header
    if kind == b"P4":
        w, h = tokens
        maxval = 1
    else:
        w, h, maxval = tokens
    if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14):
        raise ValueError("dims")
    if maxval > 255 or maxval <= 0:
        raise ValueError("maxval")
    if kind == b"P6":
        n = w * h * 3
        px = payload[pos:pos + n]
        if len(px) < n:
            raise ValueError("short data")
        return w, h, 3, bytes(px)
    if kind == b"P5":
        n = w * h
        px = payload[pos:pos + n]
        if len(px) < n:
            raise ValueError("short data")
        return w, h, 1, bytes(px)
    # P4: bits, rows padded to whole bytes; 1 = black per spec
    rowbytes = (w + 7) // 8
    n = rowbytes * h
    raw = payload[pos:pos + n]
    if len(raw) < n:
        raise ValueError("short data")
    out = bytearray(w * h)
    for y in range(h):
        base = y * rowbytes
        for x in range(w):
            bit = (raw[base + (x >> 3)] >> (7 - (x & 7))) & 1
            out[y * w + x] = 0 if bit else 255
    return w, h, 1, bytes(out)
