"""SVG metadata/text reader — pure Python, stdlib ElementTree.

SVG is the one image format a web crawl meets as TEXT (inline or as
.svg payloads); unlike the raster codecs (imagex/jpegx) its metadata
and accessible text come from markup, not pixels.  This member of
the media family reads the fields a multimodal pipeline filters on:
declared dimensions, viewBox, accessible title/desc, rendered text
content, and element counts.

Deterministic subset:

- dimensions: ``width``/``height`` attributes parsed as CSS lengths
  (unitless or px -> pixels rounded to int; %, em and friends ->
  None — intrinsic size is context-dependent); the ``viewBox``
  attribute is kept verbatim plus its integer-rounded width/height
  as the fallback dimension source
- accessible text: the FIRST direct ``<title>``/``<desc>`` of the
  root (the ARIA name computation's source); rendered text: all
  ``<text>``/``<tspan>``/``<textPath>`` content in document order,
  whitespace-collapsed, joined with "\\n" per text element
- counts: total elements and ``<path>`` elements (complexity proxy)

Namespace-agnostic tag matching (local names, prefixes dropped); junk
degrades to None (F5).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_LEN = re.compile(r"^\s*([0-9]+(?:\.[0-9]+)?)\s*(px)?\s*$")
_WS = re.compile(r"\s+")


@dataclass
class SvgInfo:
    width: int | None       # declared width in px (None: relative)
    height: int | None
    view_box: str           # verbatim attribute ('' if absent)
    vb_width: int | None    # rounded viewBox extent
    vb_height: int | None
    title: str              # root <title> ('' if absent)
    desc: str               # root <desc> ('' if absent)
    text: str               # rendered text, "\n" per text element
    n_elements: int
    n_paths: int


def is_svg(payload: bytes | None) -> bool:
    if not payload:
        return False
    head = payload[:1024].lstrip(b" \t\r\n\x0c\xef\xbb\xbf")
    return head.startswith(b"<") and b"<svg" in head


def _px(value: str | None) -> int | None:
    if not value:
        return None
    m = _LEN.match(value)
    if not m:
        return None
    return round(float(m.group(1)))


def parse_svg(payload: bytes | None) -> SvgInfo | None:
    """Metadata for an SVG payload; None for junk (F5)."""
    if not is_svg(payload):
        return None
    from xml.etree import ElementTree as ET
    try:
        root = ET.fromstring(payload.decode("utf-8", errors="replace"))
    except (ET.ParseError, ValueError, LookupError):
        return None

    def local(tag) -> str:
        return tag.rpartition("}")[2] if isinstance(tag, str) else ""

    if local(root.tag) != "svg":
        return None
    vb = (root.get("viewBox") or "").strip()
    vbw = vbh = None
    parts = vb.replace(",", " ").split()
    if len(parts) == 4:
        try:
            vbw, vbh = round(float(parts[2])), round(float(parts[3]))
        except ValueError:
            vbw = vbh = None
    title = desc = ""
    for child in root:
        t = local(child.tag)
        if t == "title" and not title:
            title = _WS.sub(" ", "".join(child.itertext())).strip()
        elif t == "desc" and not desc:
            desc = _WS.sub(" ", "".join(child.itertext())).strip()
    texts: list[str] = []
    n_elements = n_paths = 0
    for el in root.iter():
        t = local(el.tag)
        n_elements += 1
        if t == "path":
            n_paths += 1
        elif t == "text":
            s = _WS.sub(" ", "".join(el.itertext())).strip()
            if s:
                texts.append(s)
    return SvgInfo(_px(root.get("width")), _px(root.get("height")),
                   vb, vbw, vbh, title, desc, "\n".join(texts),
                   n_elements, n_paths)


# --- encode half (fixtures) ---------------------------------------------------

def make_svg(width=None, height=None, view_box: str | None = None,
             title: str = "", desc: str = "",
             texts: list[str] | None = None, n_paths: int = 0,
             namespaced: bool = True) -> bytes:
    """Minimal-but-real SVG (must itself decode, the exifx rule)."""
    attrs = []
    if namespaced:
        attrs.append('xmlns="http://www.w3.org/2000/svg"')
    if width is not None:
        attrs.append(f'width="{width}"')
    if height is not None:
        attrs.append(f'height="{height}"')
    if view_box:
        attrs.append(f'viewBox="{view_box}"')
    body = []
    if title:
        body.append(f"<title>{title}</title>")
    if desc:
        body.append(f"<desc>{desc}</desc>")
    for i, t in enumerate(texts or []):
        if i % 2:
            body.append(f'<g><text x="1" y="{i}">{t[:len(t) // 2]}'
                        f"<tspan>{t[len(t) // 2:]}</tspan></text></g>")
        else:
            body.append(f'<text x="0" y="{i}">{t}</text>')
    for p in range(n_paths):
        body.append(f'<path d="M0 {p} L1 1"/>')
    return (f"<svg {' '.join(attrs)}>{''.join(body)}</svg>"
            ).encode("utf-8")
