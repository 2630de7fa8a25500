"""CDX(J) capture-index parsing — Spark-free, stdlib-only.

Common Crawl publishes, next to each WARC/WAT/WET shard set, a CDXJ
index: one line per capture, sorted by SURT urlkey, carrying the
record locator (filename, offset, length) plus the response metadata
(mime, status, payload digest).  The index is the planning surface of
every production crawl pipeline — status/mime gating, digest-level
pre-dedup, and ranged WARC member fetches all happen against CDX rows
BEFORE any page body is read (the index is ~1/200 the bytes of the
WARC set it describes).

Line shape (CDXJ)::

    com,example)/path 20240303000000 {"url": "...", "mime": "...",
        "status": "200", "digest": "...", "length": "123",
        "offset": "456", "filename": "...warc.gz"}

This module feeds the crawl queries' CDX tables and the WACZ indexes
(``extractor/waczx.py``).  Like the rest of ``extractor/``, it is the
correctness oracle: malformed lines degrade to fewer rows, never raise
(the F5 contract).

Reference analog: the reference walks a directory and opens every
file (`main_parser.py` directory scan); at 10^12 captures the listing
IS a dataset, and deciding what to open is a query over it.
"""
from __future__ import annotations

import json
import zlib
from datetime import datetime, timezone
from urllib.parse import urlsplit

_GZIP_MAGIC = b"\x1f\x8b"


def surt_key(url: str) -> str:
    """SURT (Sort-friendly URI Reordering Transform) urlkey — the
    canonical sort key CDX indexes are ordered by: scheme dropped,
    host lowercased, leading ``www.`` stripped, default ports (80/443)
    stripped, host labels reversed and comma-joined, ``)`` + path,
    query params sorted lexicographically, fragment dropped.

    A documented subset of the archive-standard SURT canonicalizer
    (enough for grouping/sorting semantics); undecipherable urls
    degrade to '' (F5).  The Spark twin is the pure column expression
    ``functions.surt_urlkey`` — same steps, codegen-side.
    """
    try:
        parts = urlsplit(url.strip())
        host = (parts.hostname or "").lower()
    except ValueError:
        return ""
    if not host:
        return ""
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split(".")))
    port = None
    try:
        port = parts.port
    except ValueError:
        pass
    if port and port not in (80, 443):
        key += ":%d" % port
    key += ")" + (parts.path or "/")
    if parts.query:
        key += "?" + "&".join(sorted(parts.query.split("&")))
    return key


def _cdx_ts(s: str) -> datetime | None:
    try:
        return datetime.strptime(s, "%Y%m%d%H%M%S").replace(
            tzinfo=timezone.utc)
    except ValueError:
        return None


def parse_cdxj(data: bytes) -> list[dict]:
    """All well-formed lines of a CDXJ shard (plain or whole-file
    gzip), in order: {urlkey, ts (datetime, UTC), url, mime,
    status (int | None), digest, length (int), offset (int),
    filename}.

    Lines whose JSON block is malformed, or whose locator fields
    (offset/length) are non-numeric, are skipped — an index row that
    cannot locate its record is useless to every consumer (F5: fewer
    rows, never raise).  Missing metadata fields degrade to ''/None.
    """
    if data[:2] == _GZIP_MAGIC:
        try:
            data = zlib.decompress(data, wbits=47)
        except zlib.error:
            return []
    records: list[dict] = []
    for line in data.split(b"\n"):
        line = line.strip()
        if not line:
            continue
        head, sep, blob = line.partition(b" {")
        if not sep:
            continue
        fields = head.split()
        if len(fields) != 2:
            continue
        try:
            j = json.loads(b"{" + blob)
            if not isinstance(j, dict):
                continue
            offset = int(j["offset"])
            length = int(j["length"])
        except (ValueError, KeyError, TypeError):
            continue
        status = None
        try:
            status = int(j.get("status", ""))
        except (ValueError, TypeError):
            pass
        records.append({
            "urlkey": fields[0].decode("utf-8", errors="replace"),
            "ts": _cdx_ts(fields[1].decode("latin-1")),
            "url": str(j.get("url", "")),
            "mime": str(j.get("mime", "")),
            "status": status,
            "digest": str(j.get("digest", "")),
            "length": length,
            "offset": offset,
            "filename": str(j.get("filename", "")),
        })
    return records


def build_cdxj(records: list[dict], gzip_file: bool = False) -> bytes:
    """Serialize records (same dict shape parse_cdxj returns) into a
    valid CDXJ shard — fixture generator + exactness witness
    (build_cdxj -> parse_cdxj round-trips every field exactly)."""
    lines = []
    for r in records:
        j = {"url": r["url"], "mime": r["mime"],
             "status": str(r["status"]), "digest": r["digest"],
             "length": str(r["length"]), "offset": str(r["offset"]),
             "filename": r["filename"]}
        lines.append("%s %s %s" % (
            r["urlkey"], r["ts"].strftime("%Y%m%d%H%M%S"),
            json.dumps(j, sort_keys=True)))
    out = ("\n".join(lines) + "\n").encode("utf-8")
    if gzip_file:
        c = zlib.compressobj(wbits=31)
        out = c.compress(out) + c.flush()
    return out


def build_warc_indexed(records: list[dict],
                       gzip_records: bool = False
                       ) -> tuple[bytes, list[dict]]:
    """``build_warc`` plus its own CDX rows: returns (shard_bytes,
    cdx_records) where each cdx record carries the true (offset,
    length) of the member inside the shard — the fixture generator
    for record locators.

    With ``gzip_records`` each member is an independent gzip stream
    (the production layout): offset/length address the COMPRESSED
    member, exactly as Common Crawl's indexes do.
    """
    from .warcx import build_warc

    shard = b""
    rows: list[dict] = []
    for r in records:
        member = build_warc([r], gzip_records=gzip_records)
        rows.append({
            "urlkey": surt_key(r["url"]),
            "ts": r["warc_ts"],
            "url": r["url"],
            "mime": "text/html",
            "status": r.get("status", 200) or 200,
            "digest": r.get("digest", ""),
            "length": len(member),
            "offset": len(shard),
            "filename": "",         # caller fills with the shard path
        })
        shard += member
    return shard, rows
