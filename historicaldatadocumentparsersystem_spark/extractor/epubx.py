"""EPUB-subset reader — pure Python, stdlib only (zip + XML + htmlx).

EPUB is the dominant e-book container and a major long-form text
source for training corpora: a zip whose first entry is a ``mimetype``
file, with ``META-INF/container.xml`` pointing at an OPF package file
whose <manifest> maps ids to chapter hrefs and whose <spine> gives the
reading order. Chapters are XHTML, so the body text rides the SAME
DOM pipeline as web pages (htmlx fast scanner).

Reference analog: the document loaders in ``doc_processor.py`` /
``unstructured_chunker.py`` accept office formats via per-format
loaders; this is the e-book member of that family (S-row sibling of
docx.py/pptx.py), re-expressed Spark-free so the Spark source
(``sources.read_epub_chapters``) calls the same functions per row and
golden parity is structural.

Determinism contract:
- chapters in SPINE order (idx 0-based); a spine idref missing from
  the manifest, or a chapter entry missing from the zip, is skipped
  (degrade, never raise);
- chapter ``title`` = the first h1..h6 subtree text, else the XHTML
  <title>, else None (empty after normalization -> None);
- chapter ``text`` = whitespace-normalized body text with
  script/style/head subtrees excluded (entities unescaped — chapter
  text is plain text, the opposite of the linkx raw-slice contract);
- book metadata = first dc:title / dc:creator in the OPF metadata
  block, entity semantics via XML parse (None when absent /
  unparseable), read by extractor/officemeta;
- any malformed layer (zip, container, OPF, chapter) degrades to
  fewer chapters / null fields, never raises (F5).
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from dataclasses import dataclass
from html import unescape
from xml.etree import ElementTree as ET

from .htmlx import iter_elements, parse_dom, subtree_text

_CONTAINER = "META-INF/container.xml"
_MIME = b"application/epub+zip"
# invisible subtrees excluded from chapter text
_TEXT_STOPS = ("script", "style", "head", "title")
# outermost block units whose text joins with "\n" (A1 reassembly);
# containers (blockquote/ul/div) are entered, these are captured whole
_PARA_LIKE = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre td th dt dd figcaption".split())
# dc metadata read by extractor/officemeta (first occurrence each)
_DC_FIELDS = ("title", "creator")


@dataclass
class EpubChapter:
    idx: int           # 0-based spine position among extracted chapters
    href: str          # zip path of the chapter document
    title: str | None  # first heading, else XHTML <title>, else None
    text: str          # normalized body text


def is_epub(payload: bytes | None) -> bool:
    """Zip magic + the EPUB mimetype entry (or, tolerantly, the OCF
    container file — some writers get the mimetype entry wrong)."""
    if not payload or not payload.startswith(b"PK\x03\x04"):
        return False
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            names = set(zf.namelist())
            if "mimetype" in names:
                if zf.read("mimetype").strip() == _MIME:
                    return True
            return _CONTAINER in names
    except Exception:
        return False


def _local(tag) -> str:
    """Element tag without its namespace (tolerant of any ns uri)."""
    if isinstance(tag, str):
        return tag.rsplit("}", 1)[-1].lower()
    return ""


def _first_attr(el: ET.Element, name: str) -> str | None:
    """Attribute by LOCAL name (OPF attrs are usually unprefixed, but
    tolerate namespaced variants)."""
    for k, v in el.attrib.items():
        if k.rsplit("}", 1)[-1].lower() == name:
            return v
    return None


def _opf_path(zf: zipfile.ZipFile) -> str | None:
    """OPF package path from META-INF/container.xml (first rootfile)."""
    try:
        root = ET.fromstring(zf.read(_CONTAINER))
    except Exception:
        return None
    for el in root.iter():
        if _local(el.tag) == "rootfile":
            p = _first_attr(el, "full-path")
            if p:
                return p
    return None


def _parse_opf(zf: zipfile.ZipFile, opf_path: str
               ) -> tuple[list[str], dict[str, str | None]]:
    """(spine chapter zip-paths in order, dc metadata dict)."""
    meta: dict[str, str | None] = {f: None for f in _DC_FIELDS}
    try:
        root = ET.fromstring(zf.read(opf_path))
    except Exception:
        return [], meta
    manifest: dict[str, str] = {}
    spine: list[str] = []
    for el in root.iter():
        name = _local(el.tag)
        if name == "item":
            iid, href = _first_attr(el, "id"), _first_attr(el, "href")
            if iid and href:
                manifest[iid] = href
        elif name == "itemref":
            idref = _first_attr(el, "idref")
            if idref:
                spine.append(idref)
        elif name in _DC_FIELDS and meta[name] is None:
            text = " ".join((el.text or "").split())
            meta[name] = text or None
    base = posixpath.dirname(opf_path)
    paths = []
    for idref in spine:
        href = manifest.get(idref)
        if href:
            paths.append(posixpath.normpath(posixpath.join(base, href)))
    return paths, meta


def _chapter(raw: bytes) -> tuple[str | None, str]:
    """(title, text) of one XHTML chapter document."""
    try:
        src = raw.decode("utf-8", errors="replace")
    except Exception:
        return None, ""
    root = parse_dom(src)
    title = None
    stack = list(reversed(root.children))
    while stack:
        node = stack.pop()
        if not hasattr(node, "tag"):
            continue
        if node.tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            title = unescape(subtree_text(node, src)) or None
            break
        stack.extend(reversed(node.children))
    if title is None:
        tnode = getattr(root, "title_node", None)
        if tnode is not None:
            title = unescape(subtree_text(tnode, src)) or None
    parts = []
    for el, _d in iter_elements(
            root, descend=lambda e: (e.tag not in _PARA_LIKE
                                     and e.tag not in _TEXT_STOPS)):
        if el.tag in _PARA_LIKE:
            t = unescape(subtree_text(el, src, stop_tags=_TEXT_STOPS))
            if t:
                parts.append(t)
    if parts:
        return title, "\n".join(parts)
    # block-less chapter (bare text): whole-document fallback
    return title, unescape(subtree_text(root, src,
                                        stop_tags=_TEXT_STOPS))


def extract_epub(payload: bytes) -> list[EpubChapter]:
    """Parse an EPUB payload into spine-ordered chapters.

    Raises on a non-zip payload (caller handles fallback, F5
    semantics, same contract as extract_docx); malformed inner layers
    degrade to fewer chapters.
    """
    out: list[EpubChapter] = []
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        opf = _opf_path(zf)
        if not opf:
            return out
        paths, _meta = _parse_opf(zf, opf)
        for path in paths:
            try:
                raw = zf.read(path)
            except Exception:
                continue
            title, text = _chapter(raw)
            if not text and title is None:
                continue
            out.append(EpubChapter(len(out), path, title, text))
    return out


def extract_epub_text(payload: bytes) -> tuple[str, list[tuple[int, int,
                                                               str]]]:
    """A1-style reassembly: chapters joined with "\\n" in spine order,
    with (start, end, kind) spans per chapter (kind = ``chapter``) —
    the same shape extract_docx_text feeds the extraction stage."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for ch in extract_epub(payload):
        if not ch.text:
            continue
        if parts:
            pos += 1
        spans.append((pos, pos + len(ch.text), "chapter"))
        parts.append(ch.text)
        pos += len(ch.text)
    return "\n".join(parts), spans


# ---------------------------------------------------------------------------
# document synthesis (fixture support — same container layout real
# EPUBs use: stored mimetype first entry, OCF container, OPF package)

_CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:'
    'xmlns:container"><rootfiles><rootfile full-path="OEBPS/content.opf"'
    ' media-type="application/oebps-package+xml"/></rootfiles>'
    '</container>')

_OPF_TMPL = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
    'unique-identifier="uid"><metadata '
    'xmlns:dc="http://purl.org/dc/elements/1.1/">'
    "<dc:identifier id=\"uid\">{ident}</dc:identifier>"
    "<dc:title>{title}</dc:title><dc:creator>{creator}</dc:creator>"
    "<dc:language>{lang}</dc:language></metadata>"
    "<manifest>{items}</manifest><spine>{refs}</spine></package>")

_CHAPTER_TMPL = (
    '<?xml version="1.0" encoding="UTF-8"?><html xmlns="http://www.w3.'
    'org/1999/xhtml"><head><title>{doct}</title></head><body>{body}'
    "</body></html>")


def _xesc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def make_epub(chapters: list[tuple[str | None, list[str]]],
              title: str = "A Book", creator: str = "An Author",
              lang: str = "en", ident: str = "urn:uuid:0") -> bytes:
    """Build an EPUB. ``chapters``: [(heading_or_None, paragraphs)].
    A None heading exercises the <title> fallback."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(zipfile.ZipInfo("mimetype"), _MIME)  # stored, first
        zf.writestr(_CONTAINER, _CONTAINER_XML)
        items, refs = [], []
        for i, (head, paras) in enumerate(chapters):
            body = (f"<h2>{_xesc(head)}</h2>" if head else "")
            body += "".join(f"<p>{_xesc(p)}</p>" for p in paras)
            doc = _CHAPTER_TMPL.format(
                doct=_xesc(head or f"Chapter {i + 1}"), body=body)
            zf.writestr(f"OEBPS/ch{i:03d}.xhtml", doc)
            items.append(f'<item id="c{i}" href="ch{i:03d}.xhtml" '
                         'media-type="application/xhtml+xml"/>')
            refs.append(f'<itemref idref="c{i}"/>')
        zf.writestr("OEBPS/content.opf", _OPF_TMPL.format(
            ident=_xesc(ident), title=_xesc(title),
            creator=_xesc(creator), lang=_xesc(lang),
            items="".join(items), refs="".join(refs)))
    return buf.getvalue()
