"""XLSX-subset reader (SpreadsheetML) — pure Python, stdlib only
(zip + XML), Spark-free like the rest of ``extractor/``.

Completes the OOXML loader family (S6 docx / S7 pptx; reference
analog ``loaders.py``'s per-format dispatch): spreadsheet exports
are the other tabular web modality next to CSV (S5) — each cell is
one flat (sheet, row, column, cell type, raw value) record, which a
downstream typing profile reads like any CSV table.

Deterministic subset:
- sheets in ``xl/workbook.xml`` document order; each worksheet part
  resolved through ``xl/_rels/workbook.xml.rels`` (fallback when the
  rels part or the r:id is missing: ``worksheets/sheet{N}.xml`` by
  position — the convention every mainstream writer follows);
- cell values by type: shared strings (``t="s"``; rich-text runs
  concatenated — ALL ``<t>`` descendants of the ``<si>``, phonetic
  runs included verbatim), inline strings (``t="inlineStr"``),
  formula strings (``t="str"``), booleans (``t="b"`` -> TRUE/FALSE),
  errors (``t="e"``), numbers (default: the raw ``<v>`` text — no
  style/date rendering, a number cell is what the file stores);
- ``A1`` refs parsed into 0-based (row, col); a cell or row missing
  ``r=`` places sequentially after the previous one (streaming
  writers omit refs); refs outside the format's own bounds
  (1..1048576 rows, 1..16384 cols) fall back to sequential
  placement (attribute-fed ints must never reach an Int32 column
  unclamped);
- empty cells (no ``<v>``/``<is>``, e.g. style-only) emit nothing;
  an unreadable worksheet part yields no cells for that sheet only;
- a shared-string index that is malformed or out of range emits the
  cell with a NULL value (the cell existed; its text is unknown).

``make_xlsx`` synthesizes minimal-but-real workbooks (zip parts,
content types, rels, optional sharedStrings) for tests and fixtures;
everything it writes must decode through ``extract_xlsx``.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

_M = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = ("http://schemas.openxmlformats.org/officeDocument/2006/"
      "relationships")
_PR = "http://schemas.openxmlformats.org/package/2006/relationships"

_WB_PART = "xl/workbook.xml"
_SS_PART = "xl/sharedStrings.xml"
_RELS_PART = "xl/_rels/workbook.xml.rels"

MAX_ROWS = 1_048_576
MAX_COLS = 16_384

_REF_RE = re.compile(r"^([A-Z]{1,3})([0-9]{1,7})$")


def is_xlsx(payload: bytes | None) -> bool:
    """Zip magic + the workbook part present."""
    if not payload or not payload.startswith(b"PK\x03\x04"):
        return False
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            return _WB_PART in zf.namelist()
    except Exception:
        return False


def col_letters(col: int) -> str:
    """0-based column index -> A1 letters (0 -> A, 26 -> AA)."""
    out = ""
    n = col + 1
    while n > 0:
        n, rem = divmod(n - 1, 26)
        out = chr(65 + rem) + out
    return out


def _parse_ref(ref: str | None) -> tuple[int, int] | None:
    """A1 ref -> 0-based (row, col), None when absent/malformed or
    outside the format's bounds."""
    if not ref:
        return None
    m = _REF_RE.match(ref)
    if not m:
        return None
    col = 0
    for ch in m.group(1):
        col = col * 26 + (ord(ch) - 64)
    row = int(m.group(2))
    if not (1 <= row <= MAX_ROWS and 1 <= col <= MAX_COLS):
        return None
    return row - 1, col - 1


def _item_text(el: ET.Element) -> str:
    """Concat of all <t> descendants (rich-text runs in order)."""
    return "".join(t.text or "" for t in el.iter(f"{{{_M}}}t"))


def _sheet_parts(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_part_path)] in workbook order."""
    wb = ET.fromstring(zf.read(_WB_PART))
    rels: dict[str, str] = {}
    try:
        relroot = ET.fromstring(zf.read(_RELS_PART))
        for rel in relroot.iter(f"{{{_PR}}}Relationship"):
            rid, target = rel.get("Id"), rel.get("Target")
            if rid and target:
                rels[rid] = target
    except (KeyError, ET.ParseError):
        pass
    out: list[tuple[str, str]] = []
    for i, sh in enumerate(wb.iter(f"{{{_M}}}sheet")):
        name = sh.get("name") or f"Sheet{i + 1}"
        target = rels.get(sh.get(f"{{{_R}}}id") or "")
        if target is None:
            target = f"worksheets/sheet{i + 1}.xml"
        part = target.lstrip("/") if target.startswith("/") \
            else "xl/" + target
        out.append((name, part))
    return out


def extract_xlsx(payload: bytes) -> dict:
    """XLSX payload -> {"sheets": [names], "cells": [(sheet, row,
    col, cell_type, value)]} with 0-based indexes; ``sheet`` indexes
    into ``sheets``. Raises on a non-zip payload (caller fallback);
    a workbook without a parseable workbook part yields no sheets.
    """
    cells: list[tuple[int, int, int, str, str | None]] = []
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        try:
            sheets = _sheet_parts(zf)
        except (KeyError, ET.ParseError):
            return {"sheets": [], "cells": []}
        shared: list[str] = []
        try:
            ss = ET.fromstring(zf.read(_SS_PART))
            shared = [_item_text(si) for si in ss.iter(f"{{{_M}}}si")]
        except (KeyError, ET.ParseError):
            pass
        for si, (name, part) in enumerate(sheets):
            try:
                ws = ET.fromstring(zf.read(part))
            except (KeyError, ET.ParseError):
                continue
            last_row = -1
            for row_el in ws.iter(f"{{{_M}}}row"):
                rref = row_el.get("r")
                row = (int(rref) - 1
                       if rref and rref.isdigit()
                       and 1 <= int(rref) <= MAX_ROWS
                       else last_row + 1)
                last_row = row
                last_col = -1
                for c in row_el.findall(f"{{{_M}}}c"):
                    rc = _parse_ref(c.get("r"))
                    col = rc[1] if rc is not None else last_col + 1
                    last_col = col
                    ctype = c.get("t") or "n"
                    v = c.find(f"{{{_M}}}v")
                    is_el = c.find(f"{{{_M}}}is")
                    if ctype == "inlineStr":
                        if is_el is None:
                            continue
                        cells.append((si, row, col, "inline",
                                      _item_text(is_el)))
                        continue
                    if v is None or v.text is None:
                        continue
                    raw = v.text
                    if ctype == "s":
                        idx = int(raw) if raw.strip().isdigit() \
                            else -1
                        val = shared[idx] if 0 <= idx < len(shared) \
                            else None
                        cells.append((si, row, col, "shared", val))
                    elif ctype == "str":
                        cells.append((si, row, col, "formula", raw))
                    elif ctype == "b":
                        cells.append((si, row, col, "bool",
                                      "TRUE" if raw.strip() == "1"
                                      else "FALSE"))
                    elif ctype == "e":
                        cells.append((si, row, col, "error", raw))
                    else:
                        cells.append((si, row, col, "number", raw))
    return {"sheets": [n for n, _ in sheets], "cells": cells}


def extract_xlsx_text(payload: bytes) -> tuple[str, list[tuple[int,
                                                               int,
                                                               str]]]:
    """A1-style reassembly (the contract of ``extract_docx_text``):
    one span per sheet (kind = ``sheet``), sheets joined with
    "\\n"; within a sheet rows join with "\\n" and cells with
    "\\t" in (row, col) order — a sheet with no cells contributes
    nothing."""
    d = extract_xlsx(payload)
    by_sheet: dict[int, dict[int, dict[int, str]]] = {}
    for si, row, col, _, val in d["cells"]:
        by_sheet.setdefault(si, {}).setdefault(row, {})[col] = \
            val if val is not None else ""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for si in sorted(by_sheet):
        rows = by_sheet[si]
        text = "\n".join(
            "\t".join(rows[r][c] for c in sorted(rows[r]))
            for r in sorted(rows))
        if not text:
            continue
        if parts:
            pos += 1
        spans.append((pos, pos + len(text), "sheet"))
        parts.append(text)
        pos += len(text)
    return "\n".join(parts), spans


# ------------------------------------------------------------------
# builder (the encode half — fixtures only, but must round-trip)

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"'
    '/></Types>')


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def make_xlsx(sheets: list[tuple[str, list[list]]],
              shared_strings: bool = True,
              write_refs: bool = True,
              extra_parts: dict[str, str] | None = None) -> bytes:
    """Build a workbook. ``sheets``: [(name, rows)] where each row is
    a list of cell values — str -> string cell (shared table when
    ``shared_strings`` else inline), int/float -> number, bool ->
    boolean, None -> gap (no cell emitted; refs keep the position
    when ``write_refs``, else the gap collapses — the streaming-
    writer shape)."""
    strings: list[str] = []
    sindex: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in sindex:
            sindex[s] = len(strings)
            strings.append(s)
        return sindex[s]

    ws_parts: list[str] = []
    for _, rows in sheets:
        body: list[str] = []
        for ri, row in enumerate(rows):
            rattr = f' r="{ri + 1}"' if write_refs else ""
            cs: list[str] = []
            for ci, val in enumerate(row):
                if val is None:
                    continue
                ref = (f' r="{col_letters(ci)}{ri + 1}"'
                       if write_refs else "")
                if isinstance(val, bool):
                    cs.append(f'<c{ref} t="b"><v>'
                              f'{1 if val else 0}</v></c>')
                elif isinstance(val, (int, float)):
                    cs.append(f"<c{ref}><v>{val!r}</v></c>")
                elif shared_strings:
                    cs.append(f'<c{ref} t="s"><v>{sref(val)}'
                              "</v></c>")
                else:
                    cs.append(f'<c{ref} t="inlineStr"><is><t>'
                              f"{_esc(val)}</t></is></c>")
            body.append(f"<row{rattr}>{''.join(cs)}</row>")
        ws_parts.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_M}"><sheetData>'
            f"{''.join(body)}</sheetData></worksheet>")

    wb_sheets = "".join(
        f'<sheet name="{_esc(n)}" sheetId="{i + 1}" '
        f'r:id="rId{i + 1}"/>'
        for i, (n, _) in enumerate(sheets))
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_M}" xmlns:r="{_R}">'
        f"<sheets>{wb_sheets}</sheets></workbook>")
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PR}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{_R}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets)))
        + (f'<Relationship Id="rIdSS" Type="{_R}/sharedStrings" '
           'Target="sharedStrings.xml"/>' if strings else "")
        + "</Relationships>")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr(_WB_PART, workbook)
        zf.writestr(_RELS_PART, rels)
        for i, part in enumerate(ws_parts):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", part)
        if strings:
            zf.writestr(_SS_PART, (
                '<?xml version="1.0" encoding="UTF-8" '
                'standalone="yes"?>'
                f'<sst xmlns="{_M}" count="{len(strings)}" '
                f'uniqueCount="{len(strings)}">'
                + "".join(f"<si><t>{_esc(s)}</t></si>"
                          for s in strings)
                + "</sst>"))
        for name, content in (extra_parts or {}).items():
            zf.writestr(name, content)
    return buf.getvalue()
