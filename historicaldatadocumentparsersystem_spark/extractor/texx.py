"""LaTeX source reader — pure Python, from scratch (detex analog).

arXiv source dumps are a cornerstone science corpus; a crawl-scale
pipeline meets them as raw ``.tex`` payloads.  This member of the
loader family emits the SHARED (para, kind, level, text) element
schema, so heading-hierarchy section chunking composes unchanged
(as for ``outlinex``).

Deterministic subset (the detex-stable core):

- ``%`` comments to end-of-line (``\\%`` is a literal percent)
- ``verbatim``/``verbatim*`` environment content kept VERBATIM via
  NUL sentinels: the text is swapped out before any markup rule
  runs and swapped back after; ``\\verb|x|`` inline too
- math removed: ``$...$``, ``$$...$$``, ``\\(..\\)``, ``\\[..\\]``
  and the equation/align/displaymath/eqnarray/gather environments
- dropped-whole environments: tabular/figure/table wrappers vanish
  but their ``\\caption{..}`` text survives as its own paragraph
  (the detex behavior); comment env drops its content
- ``\\begin{document}`` body focus when present (preamble dropped);
  ``\\title{..}`` emits a level-0 heading, the abstract environment
  emits plain text
- sectioning -> heading levels: chapter 0, section 1, subsection 2,
  subsubsection 3, paragraph 4 (starred forms too)
- ``\\item`` -> list_item with itemize/enumerate/description nesting
  depth
- keep-argument commands (textbf/emph/textit/texttt/underline/
  mbox/url/texorpdfstring-first-arg/href-second-arg) unwrap; known
  drop-with-argument commands (cite/ref/label/includegraphics/
  usepackage/documentclass/bibliography*/input/include/footnote/
  vspace/hspace) vanish; any other ``\\command`` token drops, its
  braced text survives (detex's rule)
- accent macros (``\\'e`` etc.), special-char escapes
  (``\\& \\% \\$ \\_ \\# \\{ \\}``), ``~`` -> space, ``---``/``--``
  -> em/en dash, ``\\\\`` -> line break

Spark-free like the rest of ``extractor/`` (it IS the oracle).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

KIND_HEADING = "heading"
KIND_LIST_ITEM = "list_item"
KIND_TEXT = "text"


@dataclass
class TexElement:
    para: int
    kind: str
    level: int
    text: str


_SECTIONS = {"chapter": 0, "section": 1, "subsection": 2,
             "subsubsection": 3, "paragraph": 4}
_LIST_ENVS = frozenset(("itemize", "enumerate", "description"))
_MATH_ENVS = frozenset(("equation", "equation*", "align", "align*",
                        "displaymath", "eqnarray", "eqnarray*",
                        "gather", "gather*", "math"))
_DROP_BODY_ENVS = frozenset(("comment", "tikzpicture", "lstlisting",
                             "thebibliography"))
_KEEP_ARG = frozenset(("textbf", "emph", "textit", "texttt",
                       "textsc", "textrm", "textsf", "underline",
                       "mbox", "url", "section", "subsection",
                       "subsubsection", "chapter", "paragraph",
                       "title", "caption", "text"))
_DROP_ARG = frozenset(("cite", "citep", "citet", "ref", "eqref",
                       "pageref", "label", "includegraphics",
                       "usepackage", "documentclass", "bibliography",
                       "bibliographystyle", "input", "include",
                       "footnote", "vspace", "hspace", "author",
                       "date", "thanks", "setlength", "newcommand",
                       "renewcommand", "def"))
_ACCENTS = {"'": "\u0301", "`": "\u0300", '"': "\u0308",
            "^": "\u0302", "~": "\u0303", "=": "\u0304",
            ".": "\u0307", "c": "\u0327", "v": "\u030c",
            "u": "\u0306"}

_COMMENT = re.compile(r"(?<!\\)%[^\n]*")
_VERB_ENV = re.compile(
    r"\\begin\{(verbatim\*?)\}(.*?)\\end\{\1\}", re.S)
_VERB_INLINE = re.compile(r"\\verb\*?(?P<d>[^A-Za-z0-9\s])(.*?)(?P=d)")
_MATH_DISPLAY = re.compile(r"\$\$.*?\$\$|\\\[.*?\\\]", re.S)
_MATH_INLINE = re.compile(r"(?<!\\)\$[^$]*\$|\\\(.*?\\\)", re.S)
_CMD = re.compile(r"\\([A-Za-z]+)\*?\s*")
_SENTINEL = re.compile("\x00([0-9]+)\x00")
_STRUCT = re.compile(
    r"\\(begin|end)\{([A-Za-z*]+)\}"
    r"|\\(chapter|section|subsection|subsubsection|paragraph)"
    r"\*?\s*(?=\{)"
    r"|\\(title)\s*(?=\{)"
    r"|\\(item)\b"
    r"|\\(caption)\s*(?=\{)"
    r"|\n[ \t]*\n")


def _read_group(src: str, i: int) -> tuple[str, int]:
    """Balanced ``{...}`` starting at ``src[i] == '{'``; returns
    (content, index-after).  Unterminated groups run to EOF."""
    depth = 0
    j = i
    n = len(src)
    while j < n:
        c = src[j]
        if c == "\\" and j + 1 < n:
            j += 2
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return src[i + 1:j], j + 1
        j += 1
    return src[i + 1:], n


def _normalize(chunk: str, protected: list[str]) -> str:
    import unicodedata
    out: list[str] = []
    i, n = 0, len(chunk)
    while i < n:
        c = chunk[i]
        if c == "\\" and i + 1 < n:
            nxt = chunk[i + 1]
            if nxt in "&%$_#{}":
                out.append(nxt)
                i += 2
                continue
            if nxt == "\\":
                out.append("\n")
                i += 2
                continue
            if nxt in _ACCENTS and not (
                    nxt.isalpha() and i + 2 < n
                    and chunk[i + 2].isalpha()):
                # \'e or \'{e} / \c{c}; letter-named accents (\c \v
                # \u) only when NOT a longer command (\cite, \vspace)
                j = i + 2
                while j < n and chunk[j] in " {":
                    j += 1
                if j < n and chunk[j].isalpha():
                    out.append(unicodedata.normalize(
                        "NFC", chunk[j] + _ACCENTS[nxt]))
                    j += 1
                    while j < n and chunk[j] == "}":
                        j += 1
                    i = j
                    continue
                i += 2
                continue
            m = _CMD.match(chunk, i)
            if m:
                name = m.group(1)
                j = m.end()
                # optional [..] argument(s)
                while j < n and chunk[j] == "[":
                    k = chunk.find("]", j)
                    j = (k + 1) if k >= 0 else n
                if name in _DROP_ARG:
                    while j < n and chunk[j] == "{":
                        _, j = _read_group(chunk, j)
                    i = j
                    continue
                if name == "href":
                    # \href{url}{text} -> text
                    if j < n and chunk[j] == "{":
                        _, j = _read_group(chunk, j)
                    i = j
                    continue
                # keep-arg and unknown commands: drop the token,
                # braced text stays in the stream and unwraps below
                i = j
                continue
            out.append(c)
            i += 1
            continue
        if c == "~":
            out.append(" ")
            i += 1
            continue
        if c in "{}":
            i += 1
            continue
        out.append(c)
        i += 1
    text = "".join(out)
    text = text.replace("---", "\u2014").replace("--", "\u2013")
    text = _SENTINEL.sub(lambda m: protected[int(m.group(1))], text)
    text = re.sub(r"[ \t]+", " ", text)
    text = re.sub(r" ?\n ?", "\n", text)
    text = re.sub(r"\n{2,}", "\n", text)
    return text.strip()


def parse_latex(src: str) -> list[TexElement]:
    """Ordered elements in the shared office/outline schema."""
    if not src:
        return []
    src = src.replace("\x00", "\ufffd")
    protected: list[str] = []
    src = _VERB_ENV.sub(
        lambda m: (protected.append(m.group(2).strip("\n")),
                   f"\x00{len(protected) - 1}\x00")[1], src)
    src = _VERB_INLINE.sub(
        lambda m: (protected.append(m.group(2)),
                   f"\x00{len(protected) - 1}\x00")[1], src)
    src = _COMMENT.sub("", src)
    src = _MATH_DISPLAY.sub(" ", src)
    src = _MATH_INLINE.sub(" ", src)

    body = src
    m = re.search(r"\\begin\{document\}", src)
    if m:
        end = re.search(r"\\end\{document\}", src)
        # \title{..} usually sits in the preamble: carry it over
        tm = re.search(r"\\title\s*(?=\{)", src[:m.start()])
        pre = ""
        if tm:
            content, _ = _read_group(src[:m.start()], tm.end())
            pre = f"\\title{{{content}}}\n"
        body = pre + src[m.end():end.start() if end else len(src)]

    out: list[TexElement] = []
    para = 0
    plain: list[str] = []
    list_depth = 0
    drop_depth = 0

    def emit(kind: str, level: int, raw: str) -> None:
        nonlocal para
        text = _normalize(raw, protected)
        if text:
            out.append(TexElement(para, kind, level, text))
            para += 1

    def flush() -> None:
        nonlocal plain
        if plain:
            raw = " ".join(plain)
            if list_depth > 0:
                emit(KIND_LIST_ITEM, list_depth, raw)
            else:
                emit(KIND_TEXT, 0, raw)
            plain = []

    i, n = 0, len(body)
    while i < n:
        m = _STRUCT.search(body, i)
        if not m:
            if drop_depth == 0:
                plain.append(body[i:])
            break
        if drop_depth == 0 and body[i:m.start()].strip():
            plain.append(body[i:m.start()])
        tok = m.group(0)
        if m.group(1):                          # begin/end env
            env = m.group(2)
            which = m.group(1)
            i = m.end()
            if env in _MATH_ENVS or env in _DROP_BODY_ENVS:
                drop_depth += 1 if which == "begin" else -1
                drop_depth = max(drop_depth, 0)
                continue
            if drop_depth:
                continue
            if env in _LIST_ENVS:
                flush()
                list_depth += 1 if which == "begin" else -1
                list_depth = max(list_depth, 0)
                continue
            if env in ("figure", "figure*", "table", "table*",
                       "center", "quote", "quotation", "abstract"):
                flush()
                continue
            continue
        if drop_depth:
            i = m.end()
            continue
        if m.group(3) or m.group(4):            # sectioning / title
            flush()
            content, j = _read_group(body, m.end())
            if m.group(4):
                emit(KIND_HEADING, 0, content)
            else:
                emit(KIND_HEADING, _SECTIONS[m.group(3)], content)
            i = j
            continue
        if m.group(5):                          # \item
            flush()
            i = m.end()
            # optional [label]
            while i < n and body[i] in " \t":
                i += 1
            if i < n and body[i] == "[":
                k = body.find("]", i)
                i = (k + 1) if k >= 0 else n
            continue
        if m.group(6):                          # \caption
            flush()
            content, j = _read_group(body, m.end())
            emit(KIND_TEXT, 0, content)
            i = j
            continue
        flush()                                  # blank line
        i = m.end()
    flush()
    return out


def extract_latex(src: str) -> tuple[str, list[tuple[int, int, str]]]:
    """A1 form: elements joined with "\\n", one span per element."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for el in parse_latex(src or ""):
        if parts:
            pos += 1
        spans.append((pos, pos + len(el.text), el.kind))
        parts.append(el.text)
        pos += len(el.text)
    return "\n".join(parts), spans


def is_latex(payload: bytes | None) -> bool:
    """Cheap probe for raw .tex payloads (the tar-member case):
    a backslash-led command head plus a structural macro in the
    first KB."""
    if not payload:
        return False
    head = payload[:1024].lstrip(b" \t\r\n\x0c")
    if not head.startswith((b"\\", b"%")):
        return False
    return any(tok in head for tok in (
        b"\\documentclass", b"\\begin{document}", b"\\section{",
        b"\\chapter{", b"\\usepackage"))
