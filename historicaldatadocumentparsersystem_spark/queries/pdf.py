"""PDF sources: the info dictionary, object streams and the outline."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_PDF_MODERN = _fixture("golden_pdf_modern_seed42_n40.parquet")
_GOLDEN_PDF_OUTLINE = _fixture("golden_pdf_outline_seed42_n30.parquet")
_GOLDEN_PDFINFO = _fixture("golden_pdfinfo_seed42_n300.parquet")


# --- PDF document-information dictionary (provenance metadata;
# /Info object + trailer refs, incremental-update aware, UTF-16BE
# strings, D: dates -> ISO). Golden pinned by tests/test_pdfinfo.py
# pdf /Info dictionaries: committed golden parquet pinned by
# tests/test_pdfinfo.py against the pure re-derivation
@query("pdf_info", oracle=lambda: f"""
            SELECT url, title, author, subject, keywords, creator,
                   producer, creation_date, mod_date
            FROM read_parquet('{_GOLDEN_PDFINFO}')""")
def q_pdf_info(spark, sf_dir):
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    return sources.read_pdf_info(
        docs.select("url", F.col("html").alias("payload")))


# --- MODERN PDFs (object streams + xref streams, PDF 1.5+):
# the same /Info surface read through ObjStm expansion —
# classic==modern parity pinned by tests/test_pdf_modern.py
# modern-PDF info: committed golden pinned by
# tests/test_pdf_modern.py against the pure re-derivation
@query("pdf_modern_info", oracle=lambda: f"""
            SELECT url, title, author, subject, keywords, creator,
                   producer, creation_date, mod_date
            FROM read_parquet('{_GOLDEN_PDF_MODERN}')
            ORDER BY url""")
def q_pdf_modern_info(spark, sf_dir):
    df = _payload_df(spark, fixtures.pdf_modern_rows(40), 8)
    return sources.read_pdf_info(df).orderBy("url")


# --- PDF document outline (bookmarks, 12.3.3 — the docling-analog
# heading surface for PDFs): preorder tree walk over the /Outlines
# linked list; golden pinned by tests/test_pdf_outline.py
# pdf bookmarks: committed golden parquet pinned by
# tests/test_pdf_outline.py against the pure re-derivation
@query("pdf_outline", oracle=lambda: f"""
            SELECT url, pos, depth, title
            FROM read_parquet('{_GOLDEN_PDF_OUTLINE}')""")
def q_pdf_outline(spark, sf_dir):
    df = _payload_df(spark, fixtures.pdf_outline_rows(30), 8)
    return sources.read_pdf_outline(df)
