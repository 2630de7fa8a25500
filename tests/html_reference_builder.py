"""Reference DOM builder on stdlib ``html.parser`` for the A/B tests.

``htmlx.parse_dom`` is a one-regex scanner that must build the same
tree (tags, attrs, order, text offsets) that this builder does.
Tests swap it in as ``htmlx.parse_dom`` and compare whole extraction
results, so every divergence of the fast path shows by input.
"""

from html.parser import HTMLParser

from historicaldatadocumentparsersystem_spark.extractor.htmlx import (
    _AUTOCLOSE, VOID_TAGS, _Node, _Text)


class _TreeBuilder(HTMLParser):
    """Build a DOM with exact char offsets into the decoded source."""

    def __init__(self, src: str) -> None:
        super().__init__(convert_charrefs=False)
        self.src = src
        # line -> char offset map for getpos() conversion (1-based lines)
        self._line_starts = [0]
        pos = src.find("\n")
        while pos != -1:
            self._line_starts.append(pos + 1)
            pos = src.find("\n", pos + 1)
        self._order = 0
        self.root = _Node("#root", {}, None, self._order)
        self._stack = [self.root]

    # -- helpers
    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def _open(self, tag: str, attrs, push: bool) -> None:
        for closer, closees in _AUTOCLOSE.items():
            if tag == closer:
                while (len(self._stack) > 1
                       and self._stack[-1].tag in closees):
                    self._stack.pop()
                break
        self._order += 1
        node = _Node(tag, dict(attrs), self._stack[-1], self._order)
        self._stack[-1].children.append(node)
        if push and tag not in VOID_TAGS:
            self._stack.append(node)

    # -- HTMLParser hooks
    def handle_starttag(self, tag, attrs):
        self._open(tag, attrs, push=True)

    def handle_startendtag(self, tag, attrs):
        self._open(tag, attrs, push=False)

    def handle_endtag(self, tag):
        # pop to the matching open tag; stray close tags are ignored
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def _add_text(self, start: int, end: int) -> None:
        if end <= start:
            return
        top = self._stack[-1]
        # merge contiguous runs (data + charref + data) into one segment
        if (top.children and isinstance(top.children[-1], _Text)
                and top.children[-1].end == start):
            top.children[-1].end = end
            return
        top.children.append(_Text(start, end, top))

    def handle_data(self, data):
        start = self._offset()
        self._add_text(start, start + len(data))

    def handle_entityref(self, name):
        start = self._offset()
        end = start + 1 + len(name)
        if self.src[end:end + 1] == ";":
            end += 1
        self._add_text(start, end)

    def handle_charref(self, name):
        start = self._offset()
        end = start + 2 + len(name)
        if self.src[end:end + 1] == ";":
            end += 1
        self._add_text(start, end)


def parse_dom_htmlparser(src: str) -> _Node:
    """The root of ``src``'s DOM, built by ``html.parser``."""
    builder = _TreeBuilder(src)
    try:
        builder.feed(src)
        builder.close()
    except Exception:
        # malformed pages must degrade, never crash (FIXTURES class 3)
        pass
    return builder.root
