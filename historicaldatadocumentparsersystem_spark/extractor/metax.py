"""Page-metadata extraction from HTML heads (Spark-free, pure Python).

A webtext pipeline wants more than the main text: the <head> carries
the canonical URL (dedup key for syndicated copies), robots directives
(noindex pages are usually boilerplate/error shells worth gating),
OpenGraph fields (the publisher's own title/description — higher
precision than Arc90 guesses), and the declared language. The
reference's loader surfaces page title/metadata alongside the body
(its web loader keeps the document title in metadata); this is the
corpus-level pass over the same DOM.

Built on the fast scanner's full-attribute mode (node-identical
to stdlib html.parser, pinned by the attr A/B) — metadata
lives in attributes, and the fast scanner's ``_attr_dict``
deliberately parses only class/id. Cold-path operator: the ~2x parser
cost is paid only where metadata is actually wanted.

Like the extractor, this module is the correctness oracle: the Spark
operator (``operators/pagemeta.py``) calls these functions from a
mapInPandas batch, so golden-parquet parity is structural.

Determinism contract:
- the FIRST OCCURRENCE of a field's source element claims the field,
  even when its value is empty (normalized to null) — a later
  duplicate can never override it (browser-ish, and it keeps a
  boilerplate/attacker-controlled second tag from winning past an
  empty placeholder first tag);
- ``name``/``property``/``rel`` attribute VALUES match
  case-insensitively (html.parser already lowercases attribute
  names; real pages mix ``Description``/``OG:title``);
- extracted values are whitespace-normalized; attribute values come
  back entity-DECODED (html.parser unescapes attributes), while
  <title> text is a raw source slice with entities PRESERVED — the
  same byte-slice contract as the body extractor and linkx anchors;
- ``canonical``/``og_url``/``og_image`` resolve against ``base_url``
  via stdlib urljoin when given;
- malformed pages degrade to null fields, never raise (F5 contract).
"""
from __future__ import annotations

from urllib.parse import urljoin

from .htmlx import (decode_payload, iter_elements, parse_dom,
                    subtree_text)

# output field order — the single source of truth shared by the Spark
# schema (operators/pagemeta.py) and the golden fixture.
# rel_next/rel_prev (pagination chains -> multi-page article
# stitching + frontier seeding) and feed_url (RSS/Atom autodiscovery)
# are crawl-discovery outputs of the same head walk.
META_FIELDS = ("title", "description", "keywords", "robots",
               "canonical", "og_title", "og_description", "og_url",
               "og_image", "lang", "rel_next", "rel_prev", "feed_url")

_OG_KEYS = {"og:title": "og_title", "og:description": "og_description",
            "og:url": "og_url", "og:image": "og_image"}
_NAME_KEYS = {"description": "description", "keywords": "keywords",
              "robots": "robots"}
_URL_FIELDS = ("canonical", "og_url", "og_image", "rel_next",
               "rel_prev", "feed_url")
_FEED_MIMES = ("application/rss+xml", "application/atom+xml")


def _norm(value: str | None) -> str | None:
    """Whitespace-normalize; empty-after-strip becomes None."""
    if value is None:
        return None
    out = " ".join(value.split())
    return out or None


def extract_meta(payload, base_url: str | None = None) -> dict:
    """Page metadata dict with exactly the ``META_FIELDS`` keys (every
    value ``str | None``). Walks the whole tree, not just <head> —
    malformed pages routinely leak meta tags into <body> and browsers
    still honor them.
    """
    if isinstance(payload, (bytes, bytearray, memoryview)):
        src = decode_payload(bytes(payload))
    else:
        src = payload or ""
    return meta_from_root(parse_dom(src, full_attrs=True), src, base_url)


def meta_from_root(root, src: str, base_url: str | None = None) -> dict:
    """extract_meta over an already-parsed tree (the one-parse
    page_artifacts path shares the DOM across artifact families)."""
    out: dict = {k: None for k in META_FIELDS}
    claimed: set = set()

    def claim(key: str, value) -> None:
        # first OCCURRENCE claims the field, even when value -> None
        if key not in claimed:
            claimed.add(key)
            out[key] = _norm(value)

    for el, _depth in iter_elements(root):
        tag = el.tag
        if tag == "html":
            claim("lang", el.attrs.get("lang"))
        elif tag == "title":
            claim("title", subtree_text(el, src))
        elif tag == "meta":
            name = (el.attrs.get("name") or "").strip().lower()
            prop = (el.attrs.get("property") or "").strip().lower()
            key = _NAME_KEYS.get(name) or _OG_KEYS.get(prop)
            if key:
                claim(key, el.attrs.get("content"))
        elif tag == "link":
            rels = (el.attrs.get("rel") or "").lower().split()
            href = el.attrs.get("href")
            if "canonical" in rels:
                claim("canonical", href)
            if "next" in rels:
                claim("rel_next", href)
            if "prev" in rels:
                claim("rel_prev", href)
            mime = ((el.attrs.get("type") or "")
                    .split(";")[0].strip().lower())
            if "alternate" in rels and mime in _FEED_MIMES:
                claim("feed_url", href)
    if base_url:
        for key in _URL_FIELDS:
            if out[key]:
                out[key] = urljoin(base_url, out[key])
    return out


def extract_hreflang(payload, base_url: str | None = None
                     ) -> list[tuple[int, str, str]]:
    """(pos, hreflang, href) for every ``<link rel=alternate hreflang>``
    in document order — the language-mirror map publishers declare
    (x-default included). Unlike the single-value META_FIELDS this is
    1->N: one page may declare dozens of language versions; a curation
    pipeline clusters them so per-language corpora keep ONE member per
    cluster instead of near-identical navigation chrome in 30 locales.

    hreflang values are lowercased (BCP-47 tags are case-insensitive);
    hrefs resolve against ``base_url``; entries missing either value
    are skipped; malformed pages degrade to fewer rows (F5)."""
    if isinstance(payload, (bytes, bytearray, memoryview)):
        src = decode_payload(bytes(payload))
    else:
        src = payload or ""
    return hreflang_from_root(parse_dom(src, full_attrs=True), base_url)


def hreflang_from_root(root, base_url: str | None = None
                       ) -> list[tuple[int, str, str]]:
    """extract_hreflang over an already-parsed tree."""
    out: list[tuple[int, str, str]] = []
    for el, _depth in iter_elements(root):
        if el.tag != "link":
            continue
        rels = (el.attrs.get("rel") or "").lower().split()
        if "alternate" not in rels:
            continue
        lang = (el.attrs.get("hreflang") or "").strip().lower()
        href = (el.attrs.get("href") or "").strip()
        if not lang or not href:
            continue
        target = urljoin(base_url, href) if base_url else href
        out.append((len(out), lang, target))
    return out
