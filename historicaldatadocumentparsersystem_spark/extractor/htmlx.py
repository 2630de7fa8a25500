"""HTML main-content extraction: stdlib DOM parse + Arc90-style scoring.

Generalizes the reference's element pipeline to web pages:

- element classification by tag deny-list — reference F1/F2
  (``unstructured_chunker.py:137-166`` drops UncategorizedText /
  FigureCaption; ``docling_chunker.py:147-154`` drops table/image/
  document_index labels). Here: drop-list tags + negative id/class
  regex, Arc90 readability tag weights.
- nested-drop sweep — reference J1 ``doc_processor.py:355-390``
  (contained rects removed, largest wins). Here: DOM nodes nested inside
  dropped ancestors never emit text.
- reading-order reassembly with "\\n" — reference A1
  ``base_parser.py:42`` (``"\\n".join(texts)``), which defines the
  byte-identical target string.

Offsets: every emitted text segment is a VERBATIM substring of the
decoded source (``extracted_text == "\\n".join(src[s:e] for spans)``).
To keep that invariant character references stay in their raw source
form (``&amp;`` stays ``&amp;``) — no normalization the oracle doesn't
do.

Pure Python, stdlib only (environment has no lxml/bs4 — SURVEY.md §7.0).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import attrfind_tolerant

# --- tag classes -----------------------------------------------------------

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# subtrees that never contribute content (generalized F1/F2 deny-list)
DROP_TAGS = frozenset(
    "script style noscript template head title nav footer aside form iframe "
    "svg canvas button select option textarea label object applet".split()
)

# implicit close: a new <p>/<li>/<tr>/<td> closes an open one (html.parser
# does not do this; without it malformed pages nest unboundedly)
_AUTOCLOSE = {
    "p": ("p",),
    "li": ("li",),
    "tr": ("tr", "td", "th"),
    "td": ("td", "th"),
    "th": ("td", "th"),
    "option": ("option",),
}

# candidate containers for the main-content vote (Arc90 candidate set)
CANDIDATE_TAGS = frozenset("article main section div td body".split())

# Arc90-style tag weights
_TAG_WEIGHT = {
    "article": 8.0,
    "main": 8.0,
    "section": 3.0,
    "div": 0.0,
    "td": -3.0,
    "body": -5.0,
}

# paragraph-ish descendants that earn content points
PARA_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre blockquote td figcaption dd dt".split()
)

# nearest-ancestor tags reported as span ``kind``
KIND_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th pre blockquote figcaption dd dt a "
    "div article section main body caption".split()
)

# Arc90 class/id regexes (readability.js unlikelyCandidates / positive)
NEGATIVE_RE = re.compile(
    r"comment|combx|disqus|foot|header|menu|meta|nav|rss|shoutbox|sidebar|"
    r"sponsor|banner|breadcrumb|advert|\bad\b|ads\b|promo|related|share|"
    r"social|widget|popup|cookie",
    re.I,
)
POSITIVE_RE = re.compile(
    r"\barticle\b|\bbody\b|content|entry|hentry|main|page|pagination|post|"
    r"text|blog|story",
    re.I,
)

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)")
_LINK_DENSITY_PRUNE = 0.6  # prune list/menu sub-blocks denser than this
_PRUNE_TAGS = frozenset("ul ol table dl menu".split())


# --- decoding --------------------------------------------------------------

def decode_payload(payload: bytes) -> str:
    """bytes -> str: BOM, then <meta charset>, then utf-8; errors=replace.

    Mirrors the reference's implicit "whatever the loader decodes"
    behavior but made explicit and deterministic.
    """
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload[3:].decode("utf-8", errors="replace")
    if payload.startswith(b"\xff\xfe"):
        return payload[2:].decode("utf-16-le", errors="replace")
    if payload.startswith(b"\xfe\xff"):
        return payload[2:].decode("utf-16-be", errors="replace")
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        try:
            return payload.decode(enc, errors="replace")
        except LookupError:
            pass
    return payload.decode("utf-8", errors="replace")


# --- DOM -------------------------------------------------------------------

class _Node:
    # title_node is set ONLY on the root, only by parse_dom (first
    # <title> seen, saving _find_title a full-tree walk); it is left
    # unset everywhere else so per-node construction stays lean —
    # readers use getattr(root, "title_node", None).
    __slots__ = ("tag", "attrs", "parent", "children", "order", "dropped",
                 "text_chars", "link_chars", "commas", "para_points",
                 "in_link", "title_node")

    def __init__(self, tag: str, attrs: dict, parent: "_Node | None",
                 order: int) -> None:
        self.tag = tag
        self.attrs = attrs
        self.parent = parent
        self.children: list = []
        self.order = order
        self.dropped = False
        self.text_chars = 0
        self.link_chars = 0
        self.commas = 0
        self.para_points = 0.0  # accumulated bottom-up (single pass)
        self.in_link = bool(parent is not None
                            and (parent.tag == "a" or parent.in_link))


class _Text:
    __slots__ = ("start", "end", "parent")

    def __init__(self, start: int, end: int, parent: _Node) -> None:
        self.start = start
        self.end = end
        self.parent = parent


def iter_elements(node: _Node, descend=None):
    """Preorder generator over ELEMENT nodes under ``node`` (text
    nodes skipped), yielding ``(element, depth)`` with depth 0 for the
    direct children of ``node``. ``descend(element) -> bool`` controls
    whether a yielded element's subtree is entered (default: always).
    The shared walk for the satellite extractors (metax/tablex/
    jsonldx/shapex) — one traversal to fix, not six."""
    stack = [(c, 0) for c in reversed(node.children)
             if isinstance(c, _Node)]
    while stack:
        el, depth = stack.pop()
        yield el, depth
        if descend is None or descend(el):
            for child in reversed(el.children):
                if isinstance(child, _Node):
                    stack.append((child, depth + 1))


def subtree_text(node: _Node, src: str, stop_tags=()) -> str:
    """Whitespace-normalized text of a subtree as raw source slices
    (entities preserved — the linkx anchor-text contract), excluding
    any subtree rooted at a tag in ``stop_tags``."""
    parts: list[str] = []
    stack = [iter(node.children)]
    while stack:
        child = next(stack[-1], None)
        if child is None:
            stack.pop()
        elif isinstance(child, _Text):
            parts.append(src[child.start:child.end])
        elif child.tag not in stop_tags:
            stack.append(iter(child.children))
    return " ".join("".join(parts).split())


# --- fast scanner ------------------------------------------------------------
# html.parser spends ~65% of extraction time in per-tag Python (goahead /
# parse_starttag / updatepos). This scanner tokenizes with ONE compiled
# regex and builds the identical tree (verified node-for-node against
# an html.parser builder on the fixture corpus + property tests, in
# tests/html_reference_builder.py).

_ATTRS = r"(?:[^>\"']|\"[^\"]*\"|'[^']*')*?"
_TAG_RE = re.compile(
    r"<!--.*?(?:-->|$)"                 # comment
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"       # cdata
    r"|<[!?][^>]*>?"                    # doctype / decl / processing
    rf"|</([a-zA-Z][a-zA-Z0-9:._-]*)[^>]*>"          # end tag
    rf"|<([a-zA-Z][a-zA-Z0-9:._-]*)({_ATTRS})(/?)>",  # start tag
    re.S)
_CLASS_RE = re.compile(
    r"""\bclass\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""", re.I)
_ID_RE = re.compile(
    r"""\bid\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""", re.I)

# RAWTEXT elements: content is text until the matching close tag
# (html.parser's CDATA content mode — without this, markup inside
# <script> would corrupt the stack)
_RAWTEXT = ("script", "style", "textarea", "title")
_RAWTEXT_CDATA = ("script", "style")  # stdlib CDATA_CONTENT_ELEMENTS
_RAWTEXT_CLOSE = {t: re.compile(rf"</{t}(?=[\s/>])|</{t}$|</{t}>", re.I)
                  for t in _RAWTEXT}


_ATTR_SEP = re.compile(r"(?:\s|/(?!>))*")


def _attr_dict_full(raw: str) -> dict:
    """Full attribute dict with stdlib-html.parser semantics,
    bit-for-bit: the SAME tolerant regex (imported from html.parser),
    same quote stripping, same entity unescape, None for bare
    attributes, lowercased names, last duplicate wins (html.parser
    appends pairs; our builder dict()s them). Used by the full_attrs
    scanner mode the satellite extractors run on — equality with the
    reference builder is pinned by the attr A/B test."""
    attrs: dict = {}
    i = _ATTR_SEP.match(raw).end()
    n = len(raw)
    while i < n:
        m = attrfind_tolerant.match(raw, i)
        if not m:
            break
        name, rest, value = m.group(1, 2, 3)
        if not rest:
            value = None
        else:
            if (value[:1] == "'" == value[-1:]
                    or value[:1] == '"' == value[-1:]):
                value = value[1:-1]
            if value:
                value = unescape(value)
        attrs[name.lower()] = value
        if m.end() == i:
            break
        i = m.end()
    return attrs


def _attr_dict(raw: str) -> dict:
    """Only class/id are ever read (classification regexes); parse just
    those, lazily, from the raw attribute string."""
    attrs = {}
    m = _CLASS_RE.search(raw)
    if m:
        attrs["class"] = m.group(2) or m.group(3) or m.group(4) or ""
    m = _ID_RE.search(raw)
    if m:
        attrs["id"] = m.group(2) or m.group(3) or m.group(4) or ""
    return attrs


def parse_dom(src: str, full_attrs: bool = False) -> _Node:
    root = _Node("#root", {}, None, 0)
    stack = [root]
    order = 0
    pos = 0
    n = len(src)

    first_title: _Node | None = None
    rawtext = _RAWTEXT_CDATA if full_attrs else _RAWTEXT
    # finditer streams tokens through one C-driven iterator; the
    # per-token `.search(src, pos)` it replaces paid a Python method
    # call + regex-engine prologue per tag (~25% of scan time on
    # link-dense pages). The iterator restarts ONLY after a RAWTEXT
    # body skip: finditer would otherwise resume from inside the
    # skipped body, where a stale match (e.g. `<!--` inside a script)
    # could straddle past `pos` and swallow real markup.
    restart = True
    while restart:
        restart = False
        for m in _TAG_RE.finditer(src, pos):
            start, end = m.span()
            if start > pos:
                # text run [pos, start): merge into a contiguous
                # predecessor (data + charref + data -> one segment)
                ch = stack[-1].children
                last = ch[-1] if ch else None
                if type(last) is _Text and last.end == pos:
                    last.end = start
                else:
                    ch.append(_Text(pos, start, stack[-1]))
            pos = end
            # dispatch on the char after '<': the alternation's prefixes
            # are disjoint ('</letter' = end tag, '<!'/'<?' = comment/
            # decl/cdata, '<letter' = start tag), so one char test
            # replaces building a 4-group tuple for every token
            c = src[start + 1]
            if c == "/":
                tag = m.group(1).lower()
                # well-formed fast path: the close matches the open on
                # top of the stack (the overwhelming case) — one
                # compare + pop instead of a reversed range scan
                if len(stack) > 1 and stack[-1].tag == tag:
                    stack.pop()
                else:
                    for i in range(len(stack) - 1, 0, -1):
                        if stack[i].tag == tag:
                            del stack[i:]
                            break
            elif c != "!" and c != "?":
                tag, raw_attrs, close = m.group(2, 3, 4)  # one C call
                tag = tag.lower()
                self_closing = close == "/"
                closees = _AUTOCLOSE.get(tag)
                if closees is not None:
                    while len(stack) > 1 and stack[-1].tag in closees:
                        stack.pop()
                order += 1
                # attr regexes only when 'class'/'id' can be present at
                # all (case-insensitive guard: html.parser lowercases
                # attribute names, so <DIV CLASS=Content> must classify
                # identically — caught by the adversarial A/B corpus)
                attrs = {}
                if raw_attrs:
                    if full_attrs:
                        attrs = _attr_dict_full(raw_attrs)
                    # fast path: lowercase source (the overwhelming
                    # case) needs no .lower() allocation; mixed-case
                    # pays one
                    elif "class" in raw_attrs or "id" in raw_attrs:
                        attrs = _attr_dict(raw_attrs)
                    elif not raw_attrs.islower():
                        low = raw_attrs.lower()
                        if "class" in low or "id" in low:
                            attrs = _attr_dict(raw_attrs)
                # inline _Node.__init__ (link-dense pages build 1000+
                # nodes/doc; the call frame alone is ~5% of the scan)
                top = stack[-1]
                node = _Node.__new__(_Node)
                node.tag = tag
                node.attrs = attrs
                node.parent = top
                node.children = []
                node.order = order
                node.dropped = False
                node.text_chars = 0
                node.link_chars = 0
                node.commas = 0
                node.para_points = 0.0
                node.in_link = top.tag == "a" or top.in_link
                top.children.append(node)
                if first_title is None and tag == "title":
                    first_title = node
                if not self_closing and tag not in VOID_TAGS:
                    # full_attrs mode mirrors stdlib html.parser
                    # exactly: CDATA content applies to script/style
                    # ONLY (title/textarea markup is parsed as elements
                    # there, and the satellite goldens pin that
                    # reading); the default extraction mode keeps the
                    # wider RAWTEXT set
                    if tag in rawtext:
                        cm = _RAWTEXT_CLOSE[tag].search(src, pos)
                        body_end = cm.start() if cm else n
                        if body_end > pos:
                            node.children.append(
                                _Text(pos, body_end, node))
                        if cm:
                            gt = src.find(">", cm.start())
                            pos = (gt + 1) if gt != -1 else n
                        else:
                            pos = n
                        restart = True
                        break
                    stack.append(node)
            # else: comment/doctype/decl — skipped
    if pos < n:                          # trailing text after last tag
        ch = stack[-1].children
        last = ch[-1] if ch else None
        if type(last) is _Text and last.end == pos:
            last.end = n
        else:
            ch.append(_Text(pos, n, stack[-1]))
    root.title_node = first_title
    return root


# --- classification + scoring ---------------------------------------------

def _class_id(node: _Node) -> str:
    return (node.attrs.get("class") or "") + " " + (node.attrs.get("id") or "")


def _mark_dropped(node: _Node, src: str) -> None:
    """Post-order, single pass: drop flags + text/link/comma stats +
    Arc90 paragraph points per node.

    para_points(node) = sum over non-dropped PARA_TAGS descendants d of
    1 + commas(d) + min(own_text(d)/100, 3) — accumulated bottom-up so
    candidate scoring is O(nodes), not O(candidates x subtree)."""
    node_is_link = node.tag == "a" or node.in_link
    # accumulate in locals, store once per node: the slot += pairs
    # (LOAD_ATTR+STORE_ATTR per stat per child) were ~half this pass
    text = link = commas = 0
    para = 0.0
    for child in node.children:
        if type(child) is _Node:
            if child.tag in DROP_TAGS:
                child.dropped = True
                continue  # stats of dropped subtrees stay zero
            if child.attrs:     # attr-less nodes can't class-match
                ci = _class_id(child)
                if (ci.strip() and NEGATIVE_RE.search(ci)
                        and not POSITIVE_RE.search(ci)):
                    child.dropped = True
                    continue
            _mark_dropped(child, src)
            text += child.text_chars
            link += child.link_chars
            commas += child.commas
            para += child.para_points
            if child.tag in PARA_TAGS and child.text_chars > 0:
                own = child.text_chars - child.link_chars
                para += (1.0 + child.commas
                         + min(own / 100.0, 3.0))
        else:
            raw = src[child.start:child.end]
            stripped = raw.strip()
            n = len(stripped)
            if n == 0:
                continue
            text += n
            commas += (stripped.count(",") + stripped.count("，")
                       + stripped.count("、"))
            if node_is_link:
                link += n
    node.text_chars += text
    node.link_chars += link
    node.commas += commas
    node.para_points += para


def _link_density(node: _Node) -> float:
    if node.text_chars <= 0:
        return 0.0
    return node.link_chars / node.text_chars


def score_candidates(root: _Node) -> list[tuple[float, _Node]]:
    """(score, node) for every candidate container, Arc90-style.

    score = (tag_weight + class_bonus + paragraph_points)
            * (1 - link_density)

    paragraph_points were accumulated bottom-up in _mark_dropped, so
    this is one linear scan.
    """
    out: list[tuple[float, _Node]] = []
    # explicit inline walk (the _iter_nodes generator costs a resume
    # per node; this loop visits every non-dropped element)
    stack = [iter(root.children)]
    while stack:
        node = next(stack[-1], None)
        if node is None:
            stack.pop()
            continue
        if type(node) is not _Node or node.dropped:
            continue
        if node.children:
            stack.append(iter(node.children))
        if node.tag not in CANDIDATE_TAGS or node.text_chars <= 0:
            continue
        base = _TAG_WEIGHT.get(node.tag, 0.0)
        ci = _class_id(node)
        if ci.strip():
            if POSITIVE_RE.search(ci):
                base += 25.0
            if NEGATIVE_RE.search(ci):
                base -= 25.0
        score = (base + node.para_points) * (1.0 - _link_density(node))
        out.append((score, node))
    return out


def _kind_of(text: _Text, winner: _Node) -> str:
    cur = text.parent
    while cur is not None and cur is not winner.parent:
        if cur.tag in KIND_TAGS:
            return cur.tag
        cur = cur.parent
    return winner.tag


def _collect_segments(node: _Node, winner: _Node, src: str,
                      out: list[tuple[int, int, str]]) -> None:
    for child in node.children:
        if type(child) is _Node:
            if child.dropped:
                continue
            # prune high-link-density list/menu sub-blocks (text-density /
            # link-density classification per the north rule)
            if (child is not winner and child.text_chars > 0
                    and child.tag in _PRUNE_TAGS
                    and _link_density(child) > _LINK_DENSITY_PRUNE):
                continue
            _collect_segments(child, winner, src, out)
        else:
            raw = src[child.start:child.end]
            stripped = raw.strip()
            if not stripped:
                continue
            lead = len(raw) - len(raw.lstrip())
            start = child.start + lead
            end = start + len(stripped)
            out.append((start, end, _kind_of(child, winner)))


def _find_title(node: _Node, src: str) -> str | None:
    """First <title> text in document order (raw, stripped) — emitted as
    metadata even though the head subtree is dropped from body text."""
    for child in node.children:
        if not isinstance(child, _Node):
            continue
        if child.tag == "title":
            parts = [src[t.start:t.end] for t in child.children
                     if isinstance(t, _Text)]
            title = "".join(parts).strip()
            return title or None
        found = _find_title(child, src)
        if found is not None:
            return found
    return None


def extract_html(src: str) -> tuple[str, list[tuple[int, int, str]],
                                    float, str | None]:
    """(extracted_text, spans, score, title) for a decoded HTML source.

    extracted_text == "\\n".join(src[s:e] for (s, e, _) in spans)
    (the reference's A1 reassembly contract, ``base_parser.py:42``).
    """
    root = parse_dom(src)
    root.text_chars = root.link_chars = root.commas = 0
    _mark_dropped(root, src)
    candidates = score_candidates(root)
    if candidates:
        # max score; ties broken by earliest document order
        best_score, winner = max(
            candidates, key=lambda sn: (sn[0], -sn[1].order))
    else:
        best_score, winner = 0.0, root
    segments: list[tuple[int, int, str]] = []
    _collect_segments(winner, winner, src, segments)
    text = "\n".join(src[s:e] for s, e, _ in segments)
    # fast path: parse_dom recorded the first <title> in document order
    # (same node the preorder walk hits first). A NON-EMPTY first title
    # is what _find_title would return; the empty-first-title edge case
    # (where _find_title's early return prunes that level but later
    # subtrees are still searched) falls back to the exact walk.
    # roots built by another builder never set the slot -> always walk.
    tn = getattr(root, "title_node", False)
    if tn is None:                      # parse_dom saw NO title at all
        title = None
    elif tn is not False:
        parts = [src[t.start:t.end] for t in tn.children
                 if isinstance(t, _Text)]
        title = "".join(parts).strip() or None
        if title is None:               # empty first title: exact walk
            title = _find_title(root, src)
    else:
        title = _find_title(root, src)
    return text, segments, float(best_score), title
