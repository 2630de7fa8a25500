"""Audio container metadata — MP3 (ID3v2 + MPEG frame walk), FLAC
(STREAMINFO + Vorbis comments), OGG (Vorbis/Opus identification
headers). Spark-free, pure stdlib; the decode half of the audio
family the same way exifx reads EXIF/tEXt/INFO without pixel codecs.

A training pipeline routes audio by these rows (codec/sample-rate
buckets, duration-weighted budgets, artist/title provenance) without
ever decoding samples — at 100 TB the metadata table is thousands of
times smaller than the payload bytes. Reference analog: its
multimodal loaders surface per-asset metadata alongside content
(``utils/multimodal_RAG_methods.py``).

Determinism contract (each ``*_info`` returns ``[(key, value)]``,
values always strings; malformed payloads degrade to fewer rows,
never raise — F5):

- MP3: ID3v2.3/2.4 TEXT frames (ids starting 'T') emit
  ``id3:<FRAMEID>`` rows in tag order; encodings 0/1/2/3
  (latin-1 / UTF-16 BOM / UTF-16BE / UTF-8) decoded, trailing NULs
  stripped, non-text and unparseable frames skipped. After the tag,
  MPEG audio frames are walked header-by-header: ``mpeg_version`` /
  ``layer`` / ``bitrate_kbps`` / ``sample_rate`` / ``channel_mode``
  come from the FIRST valid frame (VBR streams report the first
  frame's bitrate); ``n_frames`` counts every valid consecutive
  frame and ``duration_ms`` accumulates per-frame samples/rate, so
  it is exact for CBR and VBR alike. The walk stops at the first
  invalid header (no resync — junk after the stream is not audio).
- FLAC: 'fLaC' metadata blocks; STREAMINFO yields ``sample_rate``,
  ``channels``, ``bits_per_sample``, ``total_samples``,
  ``duration_ms`` (integer floor); VORBIS_COMMENT yields ``vendor``
  plus one ``vc:<name>`` row per comment in stored order, names
  lowercased (the spec makes them case-insensitive), values UTF-8.
- OGG: the first page's packet is sniffed: '\\x01vorbis' yields
  codec=vorbis with ``channels``/``sample_rate``; 'OpusHead' yields
  codec=opus with ``channels``/``pre_skip``/``input_sample_rate``
  (Opus always plays at 48 kHz; the input rate is informational).
  Comment packets span pages and are out of scope here.
"""
from __future__ import annotations

import struct

# MPEG1/MPEG2(.5) Layer III bitrate table, kbps (index 0 = free, 15
# = bad). Only Layer III is in scope — the web's MP3s.
_BR_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320, -1)
_BR_V2_L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160, -1)
_SR_V1 = (44100, 48000, 32000, -1)
_SR_V2 = (22050, 24000, 16000, -1)
_SR_V25 = (11025, 12000, 8000, -1)
_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


def _syncsafe(b: bytes) -> int:
    return ((b[0] & 0x7F) << 21) | ((b[1] & 0x7F) << 14) \
        | ((b[2] & 0x7F) << 7) | (b[3] & 0x7F)


_ID3_ENC = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def _iter_id3_raw(payload: bytes):
    """Yield (frame_id bytes, frame data bytes) for every ID3v2
    frame; stops at zero padding. Yields nothing without a tag."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return
    major = payload[3]
    tag_size = _syncsafe(payload[6:10])
    end = min(10 + tag_size, len(payload))
    i = 10
    while i + 10 <= end:
        fid = payload[i:i + 4]
        if not fid.strip(b"\x00"):          # zero padding reached
            return
        size = _syncsafe(payload[i + 4:i + 8]) if major >= 4 \
            else int.from_bytes(payload[i + 4:i + 8], "big")
        data = payload[i + 10:i + 10 + size]
        i += 10 + size
        yield fid, data


def _id3_text(data: bytes) -> str | None:
    """Decode one text-frame body (encoding byte + payload)."""
    if len(data) < 1:
        return None
    enc = _ID3_ENC.get(data[0])
    if enc is None:
        return None
    try:
        return data[1:].decode(enc).rstrip("\x00")
    except (UnicodeDecodeError, LookupError):
        return None


def _id3_frames(payload: bytes) -> tuple[list[tuple[str, str]], int]:
    """(text-frame rows, offset past the tag). No tag -> ([], 0)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return [], 0
    rows: list[tuple[str, str]] = []
    for fid, data in _iter_id3_raw(payload):
        if fid[:1] != b"T":
            continue
        text = _id3_text(data)
        if text is None:
            continue
        try:
            rows.append((f"id3:{fid.decode('ascii')}", text))
        except UnicodeDecodeError:
            continue
    return rows, 10 + _syncsafe(payload[6:10])


def _frame_header(b: bytes, i: int):
    """Decode one MPEG Layer III frame header at offset i ->
    (frame_len, samples, sample_rate, bitrate_kbps, mode, version)
    or None."""
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    ver_bits = (b[i + 1] >> 3) & 3          # 0=2.5, 2=MPEG2, 3=MPEG1
    layer_bits = (b[i + 1] >> 1) & 3        # 1 = Layer III
    if ver_bits == 1 or layer_bits != 1:
        return None
    br_idx = (b[i + 2] >> 4) & 0xF
    sr_idx = (b[i + 2] >> 2) & 3
    pad = (b[i + 2] >> 1) & 1
    mode = (b[i + 3] >> 6) & 3
    if ver_bits == 3:
        version, table, srs, spf, coef = "1", _BR_V1_L3, _SR_V1, 1152, 144
    elif ver_bits == 2:
        version, table, srs, spf, coef = "2", _BR_V2_L3, _SR_V2, 576, 72
    else:
        version, table, srs, spf, coef = "2.5", _BR_V2_L3, _SR_V25, \
            576, 72
    br = table[br_idx]
    sr = srs[sr_idx]
    if br <= 0 or sr <= 0:                  # free-format / invalid
        return None
    frame_len = coef * br * 1000 // sr + pad
    return frame_len, spf, sr, br, _MODES[mode], version


def mp3_info(payload: bytes) -> list[tuple[str, str]]:
    rows, off = _id3_frames(payload)
    # find the first frame sync within a short window after the tag
    # (encoders pad a little; no deep resync — see module contract)
    first = None
    for i in range(off, min(off + 4096, max(len(payload) - 3, off))):
        first = _frame_header(payload, i)
        if first is not None:
            off = i
            break
    if first is None:
        return rows
    _fl, _spf, sr, br, mode, version = first
    n_frames = 0
    samples = 0
    i = off
    while True:
        h = _frame_header(payload, i)
        if h is None or i + h[0] > len(payload):
            break
        n_frames += 1
        samples += h[1]
        i += h[0]
    rows += [("mpeg_version", version), ("layer", "3"),
             ("bitrate_kbps", str(br)), ("sample_rate", str(sr)),
             ("channel_mode", mode), ("n_frames", str(n_frames)),
             ("duration_ms", str(samples * 1000 // sr))]
    return rows


def flac_info(payload: bytes) -> list[tuple[str, str]]:
    if payload[:4] != b"fLaC":
        return []
    rows: list[tuple[str, str]] = []
    i = 4
    while i + 4 <= len(payload):
        head = payload[i]
        btype = head & 0x7F
        blen = int.from_bytes(payload[i + 1:i + 4], "big")
        body = payload[i + 4:i + 4 + blen]
        if btype == 0 and len(body) >= 18:   # STREAMINFO
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            ch = ((body[12] >> 1) & 7) + 1
            bps = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) \
                | int.from_bytes(body[14:18], "big")
            rows += [("sample_rate", str(sr)), ("channels", str(ch)),
                     ("bits_per_sample", str(bps)),
                     ("total_samples", str(total))]
            if sr > 0:
                rows.append(("duration_ms", str(total * 1000 // sr)))
        elif btype == 4 and len(body) >= 8:  # VORBIS_COMMENT
            vlen = int.from_bytes(body[0:4], "little")
            p = 4 + vlen
            if p + 4 <= len(body):
                rows.append(("vendor",
                             body[4:4 + vlen].decode("utf-8",
                                                     "replace")))
                n = int.from_bytes(body[p:p + 4], "little")
                p += 4
                for _ in range(n):
                    if p + 4 > len(body):
                        break
                    clen = int.from_bytes(body[p:p + 4], "little")
                    p += 4
                    item = body[p:p + clen].decode("utf-8", "replace")
                    p += clen
                    if "=" in item:
                        k, _, v = item.partition("=")
                        rows.append((f"vc:{k.lower()}", v))
        if head & 0x80:                      # last-block flag
            break
        i += 4 + blen
    return rows


def ogg_info(payload: bytes) -> list[tuple[str, str]]:
    if payload[:4] != b"OggS" or len(payload) < 28:
        return []
    nsegs = payload[26]
    data = payload[27 + nsegs:]
    if data[:7] == b"\x01vorbis" and len(data) >= 16:
        ch = data[11]
        sr = int.from_bytes(data[12:16], "little")
        return [("codec", "vorbis"), ("channels", str(ch)),
                ("sample_rate", str(sr))]
    if data[:8] == b"OpusHead" and len(data) >= 16:
        ch = data[9]
        pre = int.from_bytes(data[10:12], "little")
        rate = int.from_bytes(data[12:16], "little")
        return [("codec", "opus"), ("channels", str(ch)),
                ("pre_skip", str(pre)),
                ("input_sample_rate", str(rate))]
    return []


# --- fixture-side builders (the encode half, like exifx.build_*) -----

def make_mp3(text_frames: list[tuple[str, str]], n_frames: int = 20,
             bitrate_kbps: int = 128, sample_rate: int = 44100,
             mode: int = 1, v2: bool = False,
             chapters: list[tuple] | None = None) -> bytes:
    """ID3v2.3 tag (latin-1 falls back to UTF-16 per frame) + CBR
    MPEG1 (or MPEG2 when ``v2``) Layer III frames of silence.
    ``chapters`` = (element_id, start_ms, end_ms | None, title |
    None) tuples -> CHAP frames with embedded TIT2 sub-frames (the
    ID3v2 Chapter Frame Addendum)."""
    frames = b""
    for fid, text in text_frames:
        try:
            body = b"\x00" + text.encode("latin-1")
        except UnicodeEncodeError:
            body = b"\x01" + text.encode("utf-16")
        frames += fid.encode("ascii") \
            + len(body).to_bytes(4, "big") + b"\x00\x00" + body
    for eid, start_ms, end_ms, title in chapters or []:
        body = eid.encode("latin-1") + b"\x00"
        body += start_ms.to_bytes(4, "big")
        body += (end_ms if end_ms is not None
                 else 0xFFFFFFFF).to_bytes(4, "big")
        body += (0xFFFFFFFF).to_bytes(4, "big") * 2   # byte offsets
        if title is not None:
            try:
                tbody = b"\x00" + title.encode("latin-1")
            except UnicodeEncodeError:
                tbody = b"\x01" + title.encode("utf-16")
            body += (b"TIT2" + len(tbody).to_bytes(4, "big")
                     + b"\x00\x00" + tbody)
        frames += (b"CHAP" + len(body).to_bytes(4, "big")
                   + b"\x00\x00" + body)
    tag_size = len(frames)
    ss = bytes([(tag_size >> 21) & 0x7F, (tag_size >> 14) & 0x7F,
                (tag_size >> 7) & 0x7F, tag_size & 0x7F])
    tag = b"ID3\x03\x00\x00" + ss + frames
    if v2:
        table, srs, coef, vbits = _BR_V2_L3, _SR_V2, 72, 2
    else:
        table, srs, coef, vbits = _BR_V1_L3, _SR_V1, 144, 3
    br_idx = table.index(bitrate_kbps)
    sr_idx = srs.index(sample_rate)
    hdr = bytes([0xFF, 0xE0 | (vbits << 3) | (1 << 1) | 1,
                 (br_idx << 4) | (sr_idx << 2), mode << 6])
    flen = coef * bitrate_kbps * 1000 // sample_rate
    frame = hdr + b"\x00" * (flen - 4)
    return tag + frame * n_frames


def make_flac(sample_rate: int = 44100, channels: int = 2,
              bits: int = 16, total_samples: int = 441000,
              comments: list[tuple[str, str]] | None = None,
              vendor: str = "hddps-soundx") -> bytes:
    info = bytearray(34)
    struct.pack_into(">HH", info, 0, 1024, 4096)   # block sizes
    info[10] = (sample_rate >> 12) & 0xFF
    info[11] = (sample_rate >> 4) & 0xFF
    info[12] = ((sample_rate & 0xF) << 4) | ((channels - 1) << 1) \
        | ((bits - 1) >> 4)
    info[13] = (((bits - 1) & 0xF) << 4) | ((total_samples >> 32) & 0xF)
    info[14:18] = (total_samples & 0xFFFFFFFF).to_bytes(4, "big")
    blocks = bytes([0x00]) + len(info).to_bytes(3, "big") + bytes(info)
    vb = vendor.encode()
    body = len(vb).to_bytes(4, "little") + vb \
        + len(comments or []).to_bytes(4, "little")
    for k, v in comments or []:
        item = f"{k}={v}".encode()
        body += len(item).to_bytes(4, "little") + item
    blocks += bytes([0x84]) + len(body).to_bytes(3, "big") + body
    return b"fLaC" + blocks


def _ogg_page(packet: bytes, serial: int = 1) -> bytes:
    segs = []
    rest = packet
    while len(rest) >= 255:
        segs.append(255)
        rest = rest[255:]
    segs.append(len(rest))
    return (b"OggS\x00\x02" + b"\x00" * 8
            + serial.to_bytes(4, "little") + b"\x00" * 8
            + bytes([len(segs)]) + bytes(segs) + packet)


def make_ogg_vorbis(channels: int = 2, sample_rate: int = 44100
                    ) -> bytes:
    pkt = (b"\x01vorbis" + (0).to_bytes(4, "little")
           + bytes([channels]) + sample_rate.to_bytes(4, "little")
           + b"\x00" * 12 + b"\xb8\x01")
    return _ogg_page(pkt)


def make_ogg_opus(channels: int = 2, pre_skip: int = 312,
                  input_rate: int = 48000) -> bytes:
    pkt = (b"OpusHead\x01" + bytes([channels])
           + pre_skip.to_bytes(2, "little")
           + input_rate.to_bytes(4, "little") + b"\x00\x00\x00")
    return _ogg_page(pkt)
