"""Extraction dispatcher: one row of the documents table -> ExtractResult.

This is THE single-process oracle (BASELINE.json correctness gate:
byte-identical extracted text per url). The Spark pipeline's
``mapInPandas`` UDF calls :func:`extract_document` per row inside an
Arrow batch — same code path, so equality is structural, not statistical.

Reference trace re-expressed (SURVEY.md §3.1): payload sniff (S1) ->
format-specific parse (S2/S3/S8) -> element classification (F1/F2) ->
reading-order reassembly with "\\n" (A1, ``base_parser.py:42``) ->
structured record with provenance (``base_parser.py:75-81``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .cfbx import (extract_doc_text, extract_ppt_text, is_cfb, is_doc,
                   is_ppt)
from .docx import extract_docx_text, is_docx
from .epubx import extract_epub_text, is_epub
from .htmlx import decode_payload, extract_html
from .odtx import extract_odt_text, is_odt
from .pdfx import extract_pdf
from .pptx import extract_pptx_text, is_pptx
from .rtfx import extract_rtf_text
from .sniff import (KIND_EMPTY, KIND_HTML, KIND_PDF, KIND_RTF, KIND_ZIP,
                    sniff_kind)

KIND_PPTX = "pptx"
KIND_PPT = "ppt"
KIND_DOC = "doc"
KIND_DOCX = "docx"
KIND_EPUB = "epub"
KIND_ODT = "odt"

# span struct field order used everywhere (Spark schema + oracle tuples)
SPAN_FIELDS = ("start", "end", "kind")

# zip containers, in probe order: S7 pptx subset (reference
# loaders.py:30-37 -> partition_pptx), S6 docx subset
# (unstructured_chunker.py:79-91, Docx2txt), ODF text (mimetype-gated,
# so no overlap with OOXML), e-book (spine-ordered chapters through the
# same DOM pipeline). A zip that none of them claims is a fallback row,
# not a fail.
_ZIP_KINDS = ((KIND_PPTX, is_pptx, extract_pptx_text),
              (KIND_DOCX, is_docx, extract_docx_text),
              (KIND_ODT, is_odt, extract_odt_text),
              (KIND_EPUB, is_epub, extract_epub_text))


@dataclass
class ExtractResult:
    doc_kind: str
    extracted_text: str
    spans: list[tuple[int, int, str]] = field(default_factory=list)
    n_blocks: int = 0
    score: float = 0.0
    failed: bool = False
    title: str | None = None  # html <title> metadata (None elsewhere)

    def spans_as_dicts(self) -> list[dict]:
        return [dict(zip(SPAN_FIELDS, s)) for s in self.spans]


def extract_document(payload: bytes | None, fallback_text: str | None
                     ) -> ExtractResult:
    """Extract main content from one document payload.

    - html  : DOM parse + Arc90-style boilerplate classification
    - pdf   : PDF-subset layout pass
    - rtf   : legacy-office RTF text
    - pptx, docx, odt, epub : zip containers, probed in that order
    - ppt, doc : legacy OLE2/CFB office
    - empty : fall back to the row's ``text`` column (reference F5:
      unparseable inputs return empty records, never crash —
      ``llm_support_kickoff_parser.py:28-30``); counted as a fallback
      row in lineage metrics. Any other payload (a non-office zip or
      OLE container, JSON, mail, tar, TeX source, random bytes) lands
      here with ``failed=False``; a recognised format whose parser
      finds nothing or raises lands here with ``failed=True``.
    """
    kind = sniff_kind(payload)
    try:
        if kind == KIND_HTML:
            src = decode_payload(payload)  # type: ignore[arg-type]
            text, spans, score, title = extract_html(src)
            return ExtractResult(KIND_HTML, text, spans, len(spans), score,
                                 title=title)
        if kind == KIND_PDF:
            text, spans, score = extract_pdf(payload)  # type: ignore[arg-type]
            if score == 0.0 and not spans:
                # %PDF- header but no parseable page (truncated payload):
                # fallback row, counted in lineage failed_rows
                return _fallback(fallback_text, failed=True)
            return ExtractResult(KIND_PDF, text, spans, len(spans), score)
        if kind == KIND_RTF:
            # legacy-office text (extractor/rtfx.py — from-scratch
            # tokenizer; decades of .rtf sit in web archives)
            text, spans = extract_rtf_text(payload)  # type: ignore[arg-type]
            return _office(KIND_RTF, text, spans, fallback_text)
        if kind == KIND_ZIP:
            for office_kind, probe, extract in _ZIP_KINDS:
                if probe(payload):
                    text, spans = extract(payload)
                    return _office(office_kind, text, spans,
                                   fallback_text)
            return _fallback(fallback_text, failed=False)
        # legacy OLE2/CFB office (extractor/cfbx.py — the reference's
        # .ppt branch, loaders.py:18-37 partition_ppt, plus Word 97;
        # magic-byte probe on otherwise-empty payloads)
        if kind == KIND_EMPTY and is_cfb(payload):
            if is_ppt(payload):
                text, spans = extract_ppt_text(payload)
                if spans:
                    return ExtractResult(KIND_PPT, text, spans,
                                         len(spans), 0.0)
                # is_ppt substring-probes the whole container, but a
                # Word .doc with an EMBEDDED PowerPoint OLE object
                # carries the marker under ObjectPool/ while only the
                # top-level streams are extractable — fall through to
                # the Word piece table before declaring failure (r6,
                # ADVICE r5)
                if not is_doc(payload):
                    return _fallback(fallback_text, failed=True)
            if is_doc(payload):
                text, spans = extract_doc_text(payload)
                return _office(KIND_DOC, text, spans, fallback_text)
            # other OLE container: fallback, not a fail
            return _fallback(fallback_text, failed=False)
    except Exception:
        # degrade to fallback, mark failed (lineage failed_rows)
        return _fallback(fallback_text, failed=True)
    return _fallback(fallback_text, failed=False)


def _office(kind: str, text: str, spans: list[tuple[int, int, str]],
            fallback_text: str | None) -> ExtractResult:
    """An office parser's (text, spans): no spans is a failed fallback
    row; otherwise one block per span and no score."""
    if not spans:
        return _fallback(fallback_text, failed=True)
    return ExtractResult(kind, text, spans, len(spans), 0.0)


def _fallback(fallback_text: str | None, failed: bool) -> ExtractResult:
    text = fallback_text or ""
    spans = [(0, len(text), "fallback")] if text else []
    return ExtractResult(KIND_EMPTY, text, spans, len(spans), 0.0,
                         failed=failed)
