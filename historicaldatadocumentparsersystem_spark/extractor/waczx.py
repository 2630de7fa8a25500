"""WACZ (Web Archive Collection Zipped) container reader/builder —
pure Python, stdlib only.

WACZ is the webrecorder packaging of a crawl: a zip holding
``archive/*.warc.gz`` shards, ``indexes/*.cdx(.gz)`` CDXJ locators
over them, and a frictionless ``datapackage.json`` manifest with
per-resource sizes and sha256 digests. It is the unit a web-archive
hand-off arrives in, so the crawl-ecosystem family (WARC/WET/WAT/
CDX/ARC sources) needs a container member: this module COMPOSES the
existing parsers (``warcx``, ``cdxx``) rather than re-implementing
record framing.

Determinism contract:
- a payload that is not a zip, or has no readable members, yields
  the empty parse (version None, no resources, no captures) — F5,
  never an error;
- ``datapackage.json`` (at the zip root) supplies wacz_version,
  title, mainPageUrl and created verbatim (missing -> None) plus
  the declared resources; a malformed JSON body degrades to the
  no-manifest parse while captures still come from the indexes;
- resources: one entry per DECLARED resource (path, declared bytes,
  declared sha256) joined against the actual members — actual_bytes
  is None when the member is missing; hash_ok/size_ok are None when
  the manifest declares nothing to check;
- captures: every member under ``indexes/`` whose name ends
  ``.cdx``/``.cdxj``/``.cdx.gz``, in SORTED path order, parsed by
  ``cdxx.parse_cdxj`` (whole-file gzip accepted); each row carries
  the index path it came from.

The builder half (``make_wacz``) is the fixture generator:
byte-deterministic zips (fixed DOS timestamps, sorted member order,
stored-not-deflated WARC members since they are already gzip) whose
manifests are self-consistent — and deliberately breakable via
``tamper`` for the audit negatives.

Reference anchor: loaders.py per-format dispatch (semantic analog);
the CDX/WARC members reuse extractor/cdxx.py + extractor/warcx.py.
"""

from __future__ import annotations

import hashlib
import io
import json
import zipfile
from zlib import error as zlib_error

from . import cdxx

_DOS_EPOCH = (1980, 1, 1, 0, 0, 0)


def make_wacz(records: list[dict], title: str | None = None,
              main_url: str | None = None,
              created: str | None = None,
              shards: int = 1,
              tamper: str | None = None) -> bytes:
    """Records (build_warc dict shape: url, warc_ts, body, status...)
    -> a self-consistent WACZ. ``shards`` splits the archive into
    round-robin WARC members. ``tamper``: None, or one of
    'bytes' (mis-declare a resource size), 'hash' (mis-declare a
    digest), 'missing' (declare a resource that is not in the zip)
    for the audit negatives."""
    members: list[tuple[str, bytes]] = []
    all_rows: list[dict] = []
    for s in range(shards):
        part = [r for i, r in enumerate(records) if i % shards == s]
        if not part:
            continue
        shard, rows = cdxx.build_warc_indexed(part, gzip_records=True)
        name = f"archive/data-{s}.warc.gz"
        for row in rows:
            row["filename"] = name.rsplit("/", 1)[-1]
        members.append((name, shard))
        all_rows.extend(rows)
    all_rows.sort(key=lambda r: (r["urlkey"], r["ts"]))
    members.append(("indexes/index.cdx.gz",
                    cdxx.build_cdxj(all_rows, gzip_file=True)))

    resources = []
    for path, blob in sorted(members):
        resources.append({
            "name": path.rsplit("/", 1)[-1], "path": path,
            "hash": "sha256:" + hashlib.sha256(blob).hexdigest(),
            "bytes": len(blob)})
    if tamper == "bytes":
        resources[0]["bytes"] += 7
    elif tamper == "hash":
        resources[0]["hash"] = "sha256:" + "0" * 64
    elif tamper == "missing":
        resources.append({"name": "extra.bin", "path": "extra/extra.bin",
                          "hash": "sha256:" + "1" * 64, "bytes": 5})
    pkg: dict = {"profile": "data-package", "wacz_version": "1.1.1",
                 "software": "fixture", "resources": resources}
    if title is not None:
        pkg["title"] = title
    if main_url is not None:
        pkg["mainPageUrl"] = main_url
    if created is not None:
        pkg["created"] = created
    members.append(("datapackage.json",
                    json.dumps(pkg, sort_keys=True).encode()))

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for path, blob in sorted(members):
            info = zipfile.ZipInfo(path, date_time=_DOS_EPOCH)
            # warc.gz / cdx.gz members are already compressed: STORE
            method = (zipfile.ZIP_STORED if path.endswith(".gz")
                      else zipfile.ZIP_DEFLATED)
            zf.writestr(info, blob, compress_type=method)
    return buf.getvalue()


_EMPTY = {"version": None, "title": None, "main_url": None,
          "created": None, "resources": [], "captures": []}


def parse_wacz(payload) -> dict:
    """WACZ bytes -> {version, title, main_url, created,
    resources: [{path, declared_bytes, actual_bytes, size_ok,
    hash_ok}], captures: [{index_path, **cdxj row}]}. Never raises;
    non-zip payloads yield the empty parse (F5)."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return dict(_EMPTY)
    try:
        zf = zipfile.ZipFile(io.BytesIO(bytes(payload)))
        names = set(zf.namelist())
    except (zipfile.BadZipFile, OSError, ValueError):
        return dict(_EMPTY)
    out = dict(_EMPTY)
    out["resources"] = []
    out["captures"] = []

    def _read(name: str) -> bytes | None:
        try:
            with zf.open(name) as fh:
                return fh.read()
        except (KeyError, zipfile.BadZipFile, OSError,
                NotImplementedError, ValueError, zlib_error):
            return None

    pkg = None
    if "datapackage.json" in names:
        blob = _read("datapackage.json")
        if blob is not None:
            try:
                got = json.loads(blob)
                if isinstance(got, dict):
                    pkg = got
            except ValueError:
                pkg = None
    if pkg is not None:
        out["version"] = _str_or_none(pkg.get("wacz_version"))
        out["title"] = _str_or_none(pkg.get("title"))
        out["main_url"] = _str_or_none(pkg.get("mainPageUrl"))
        out["created"] = _str_or_none(pkg.get("created"))
        for res in pkg.get("resources") or []:
            if not isinstance(res, dict):
                continue
            path = _str_or_none(res.get("path"))
            if not path:
                continue
            declared = res.get("bytes")
            declared = declared if isinstance(declared, int) \
                and not isinstance(declared, bool) else None
            blob = _read(path) if path in names else None
            actual = len(blob) if blob is not None else None
            size_ok = None
            if declared is not None:
                size_ok = actual == declared
            hash_ok = None
            h = _str_or_none(res.get("hash"))
            if h and h.startswith("sha256:") and blob is not None:
                hash_ok = (hashlib.sha256(blob).hexdigest()
                           == h[7:].lower())
            elif h:
                hash_ok = False if blob is None else None
            out["resources"].append({
                "path": path, "declared_bytes": declared,
                "actual_bytes": actual, "size_ok": size_ok,
                "hash_ok": hash_ok})

    for name in sorted(names):
        if not name.startswith("indexes/"):
            continue
        if not (name.endswith(".cdx") or name.endswith(".cdxj")
                or name.endswith(".cdx.gz")):
            continue
        blob = _read(name)
        if blob is None:
            continue
        for row in cdxx.parse_cdxj(blob):
            row["index_path"] = name
            out["captures"].append(row)
    return out


def _str_or_none(v) -> str | None:
    return v if isinstance(v, str) and v else None
