"""Embedded structured data: JSON-LD, microdata, RDFa, mf2."""

from .. import fixtures
from ..operators import pagemeta
from . import _fixture, query


_GOLDEN_MICRODATA = _fixture("golden_microdata_seed42_n120.parquet")
_GOLDEN_RDFA = _fixture("golden_rdfa_seed42_n120.parquet")
_GOLDEN_MF2 = _fixture("golden_mf2_seed42_n120.parquet")
_GOLDEN_JSONLD = _fixture("golden_jsonld_seed42_n120.parquet")


# --- schema.org microdata (itemscope/itemprop — the third
# structured-data syntax next to meta tags and JSON-LD) —
# hash-checked against the committed golden microdata parquet
# microdata: committed golden parquet pinned by
# tests/test_microdata.py against the pure re-derivation
@query("extract_microdata", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_MICRODATA}')
            ORDER BY url, item_idx, prop_idx""")
def q_microdata(spark, sf_dir):
    docs = fixtures.microdata_pages_df(spark, 120)
    return (pagemeta.extract_microdata_df(docs)
            .orderBy("url", "item_idx", "prop_idx"))


# --- typed microdata records — reads the GOLDEN on both sides
# (extraction==golden is proven by extract_microdata; this isolates
# the two declaration self-joins: item typing + nested-ref
# resolution)
# typed records: golden on both sides; the same two
# declaration self-joins (item typing + nested-ref resolution)
@query("microdata_records", oracle=lambda: f"""
            WITH g AS (
              SELECT * FROM read_parquet('{_GOLDEN_MICRODATA}')
            ), decl AS (
              SELECT url, item_idx, itemtype FROM g
              WHERE kind = 'item'
            )
            SELECT p.url, p.item_idx, d.itemtype, p.prop_idx, p.prop,
                   p.value, p.kind, c.itemtype AS ref_itemtype
            FROM g p
            JOIN decl d USING (url, item_idx)
            LEFT JOIN decl c
              ON p.kind = 'ref' AND c.url = p.url
             AND c.item_idx = TRY_CAST(p.value AS INTEGER)
            WHERE p.kind <> 'item'
            ORDER BY url, item_idx, prop_idx""")
def q_microdata_records(spark, sf_dir):
    md = spark.read.parquet(_GOLDEN_MICRODATA)
    return (pagemeta.microdata_records(md)
            .orderBy("url", "item_idx", "prop_idx"))


# --- RDFa Lite (vocab/typeof/property — the fourth structured-
# data syntax; completes the extruct surface with meta/JSON-LD/
# microdata) — hash-checked against the committed golden parquet
# RDFa: committed golden parquet pinned by tests/test_rdfa.py
# against the pure re-derivation
@query("extract_rdfa", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_RDFA}')
            ORDER BY url, item_idx, prop_idx""")
def q_rdfa(spark, sf_dir):
    docs = fixtures.rdfa_pages_df(spark, 120)
    return (pagemeta.extract_rdfa_df(docs)
            .orderBy("url", "item_idx", "prop_idx"))


# --- typed RDFa records — golden on both sides (the shared
# _typed_records self-join path, (typeof, vocab) typing)
# typed RDFa records: golden both sides, same self-join shape
# as microdata_records with (typeof, vocab) typing
@query("rdfa_records", oracle=lambda: f"""
            WITH g AS (
              SELECT * FROM read_parquet('{_GOLDEN_RDFA}')
            ), decl AS (
              SELECT url, item_idx, typeof, vocab FROM g
              WHERE kind = 'item'
            )
            SELECT p.url, p.item_idx, d.typeof, d.vocab, p.prop_idx,
                   p.prop, p.value, p.kind, c.typeof AS ref_typeof
            FROM g p
            JOIN decl d USING (url, item_idx)
            LEFT JOIN decl c
              ON p.kind = 'ref' AND c.url = p.url
             AND c.item_idx = TRY_CAST(p.value AS INTEGER)
            WHERE p.kind <> 'item'
            ORDER BY url, item_idx, prop_idx""")
def q_rdfa_records(spark, sf_dir):
    md = spark.read.parquet(_GOLDEN_RDFA)
    return (pagemeta.rdfa_records(md)
            .orderBy("url", "item_idx", "prop_idx"))


# --- microformats2 (h-entry/h-card class markup — the fifth and
# last extruct syntax) — hash-checked against the committed golden
# mf2: committed golden parquet pinned by tests/test_mf2.py
# against the pure re-derivation
@query("extract_mf2", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_MF2}')
            ORDER BY url, item_idx, prop_idx""")
def q_mf2(spark, sf_dir):
    docs = fixtures.mf2_pages_df(spark, 120)
    return (pagemeta.extract_mf2_df(docs)
            .orderBy("url", "item_idx", "prop_idx"))


# --- typed mf2 records — golden on both sides (shared
# _typed_records self-join path, mf_type typing)
# typed mf2 records: golden both sides, the shared self-join
@query("mf2_records", oracle=lambda: f"""
            WITH g AS (
              SELECT * FROM read_parquet('{_GOLDEN_MF2}')
            ), decl AS (
              SELECT url, item_idx, mf_type FROM g WHERE kind = 'item'
            )
            SELECT p.url, p.item_idx, d.mf_type, p.prop_idx, p.prop,
                   p.value, p.kind, c.mf_type AS ref_mf_type
            FROM g p
            JOIN decl d USING (url, item_idx)
            LEFT JOIN decl c
              ON p.kind = 'ref' AND c.url = p.url
             AND c.item_idx = TRY_CAST(p.value AS INTEGER)
            WHERE p.kind <> 'item'
            ORDER BY url, item_idx, prop_idx""")
def q_mf2_records(spark, sf_dir):
    md = spark.read.parquet(_GOLDEN_MF2)
    return (pagemeta.mf2_records(md)
            .orderBy("url", "item_idx", "prop_idx"))


# --- JSON-LD structured-data extraction (schema.org mining) —
# hash-checked against the committed golden jsonld parquet
# JSON-LD blocks: committed golden parquet pinned by
# tests/test_pagemeta.py against the pure re-derivation
@query("extract_jsonld", oracle=lambda: f"""
            SELECT * FROM read_parquet('{_GOLDEN_JSONLD}')
            ORDER BY url, block_idx""")
def q_jsonld(spark, sf_dir):
    docs = fixtures.jsonld_pages_df(spark, 120)
    return (pagemeta.extract_jsonld_df(docs)
            .orderBy("url", "block_idx"))
