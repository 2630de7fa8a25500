"""Page-structure operators: metadata and table cells per page.

Spark wrapper over the Spark-free ``extractor/metax.py`` (the
correctness oracle — golden-parquet parity is structural, same
pattern as extract_links). Reference analog: the engine's web loader
keeps document title/metadata alongside the extracted body.

Scale: map-only 1->1 mapInPandas over (url, html); the narrow select
keeps column pruning at the scan, output rows are ~100s of bytes, and
there is no shuffle — the 100 TB cost is exactly one pass over the
payload bytes. Downstream, ``canonical`` is the cheap pre-dedup key
(groupBy canonical before any content hashing) and ``robots``
noindex gating is a codegen'd filter.
"""
from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                               StructField, StructType)

from ..extractor import metax, tablex
from ..flatmap import flat_map

META_SCHEMA = StructType(
    [StructField("url", StringType(), False)]
    + [StructField(f, StringType(), True) for f in metax.META_FIELDS])


def _flat_map_operator(docs: DataFrame, extract, schema: StructType,
                       nullable_int_cols: tuple[str, ...] = ()
                       ) -> DataFrame:
    """Shared mapInPandas wrapper for every satellite family whose
    pure extractor yields ROW TUPLES per page: map-only 1->N over a
    pruned (url, html) projection, empty payloads yield no row (the
    extract_links contract), malformed pages degrade inside the
    extractor (F5). ``nullable_int_cols`` stay pandas nullable-int so
    a batch mixing null and non-null never upcasts to float."""
    import pandas as pd
    cols = [f.name for f in schema.fields]

    def batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for u, payload in zip(pdf["url"], pdf["html"]):
                if not payload:
                    continue
                for r in extract(payload, u):
                    rows.append((u, *r))
            out = pd.DataFrame(rows, columns=cols)
            for c in nullable_int_cols:
                out[c] = out[c].astype("Int32")
            yield out

    return docs.select("url", "html").mapInPandas(batch, schema)


def extract_meta_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> (url, title, description,
    keywords, robots, canonical, og_*, lang). Empty payloads yield no
    row (the extract_links contract); malformed pages degrade to null
    fields, never fail the task (F5)."""
    def one_row(payload, u):
        m = metax.extract_meta(payload, u)
        yield tuple(m[f] for f in metax.META_FIELDS)
    return _flat_map_operator(docs, one_row, META_SCHEMA)


TABLES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("table_idx", IntegerType(), False),
    StructField("row_idx", IntegerType(), False),
    StructField("col_idx", IntegerType(), False),
    StructField("is_header", BooleanType(), False),
    StructField("colspan", IntegerType(), False),
    StructField("rowspan", IntegerType(), False),
    StructField("cell_text", StringType(), False),
])


def extract_tables_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per table CELL
    (url, table_idx, row_idx, col_idx, is_header, colspan, rowspan,
    cell_text) — the structured-data pass over the same DOM
    (extractor/tablex.py is the Spark-free oracle). Map-only 1->N,
    same scale shape as extract_links: one pass over payload bytes,
    no shuffle; downstream pivots/joins key on (url, table_idx)."""
    return _flat_map_operator(
        docs, lambda payload, u: tablex.extract_tables(payload),
        TABLES_SCHEMA)


def table_records(cells: DataFrame) -> DataFrame:
    """Header-keyed records from extract_tables_df output: for every
    table whose FIRST row contains at least one <th>, each later row
    becomes a record and each cell a (key, value) pair keyed by the
    header cell in its column (falling back to ``colN`` where a data
    row is wider than the header). The tables -> structured-records
    step a training pipeline feeds to schema inference / KV corpora.

    Plan: the header side is a tiny projection of row 0; one equi-join
    on (url, table_idx) to gate eligibility + one left join on
    (url, table_idx, col_idx) to attach keys — both plain hash joins
    on the table's natural key, no UDF, no explode.
    """
    row0 = cells.where(F.col("row_idx") == 0)
    eligible = (row0.groupBy("url", "table_idx")
                .agg(F.max(F.col("is_header").cast("int")).alias("_h"))
                .where(F.col("_h") == 1).drop("_h"))
    header = row0.select("url", "table_idx", "col_idx",
                         F.col("cell_text").alias("key"))
    data = cells.where(F.col("row_idx") > 0).join(
        eligible, ["url", "table_idx"])
    return (data.join(header, ["url", "table_idx", "col_idx"], "left")
            .select("url", "table_idx",
                    (F.col("row_idx") - F.lit(1)).alias("record_idx"),
                    "col_idx",
                    F.coalesce(F.col("key"),
                               F.concat(F.lit("col"), F.col("col_idx")))
                    .alias("key"),
                    F.col("cell_text").alias("value")))


def canonical_dedup(meta: DataFrame) -> DataFrame:
    """Canonical-URL pre-dedup over extract_meta_df output: drop
    robots-noindex pages (codegen filter), then group by the page's
    declared canonical (falling back to its own url) keeping the
    lexicographically-first member. The CHEAP first dedup pass — one
    shuffle on a short string key, no content hashing; syndicated
    copies that declare the same canonical collapse before MinHash
    ever sees their bytes."""
    return (meta
            .where(F.col("robots").isNull()
                   | ~F.lower(F.col("robots")).contains("noindex"))
            .groupBy(F.coalesce(F.col("canonical"), F.col("url"))
                     .alias("canonical_key"))
            .agg(F.min("url").alias("kept_url"),
                 F.count("*").cast("long").alias("n_copies")))


def stitch_pagination(pages: DataFrame, url_col: str = "url",
                      next_col: str = "rel_next",
                      text_col: str = "body_text",
                      max_pages: int = 16) -> DataFrame:
    """Reassemble multi-page articles from ``rel=next`` chains:
    (chain_id, n_pages, full_text) per article, pages joined with
    blank lines in link order — the de-pagination pass a training
    corpus wants BEFORE dedup/chunking (page 2 of an article is
    neither a duplicate nor a document of its own).

    Semantics (mirrored exactly by the DuckDB twin):
    - a HEAD is a page no other page points to via rel_next; every
      head starts a chain (single pages are 1-page chains);
    - the walk follows rel_next up to ``max_pages`` hops; a broken
      link (target not in the corpus) simply ends the chain;
    - a page reached by several chains (or revisited through a cycle)
      counts once: first visit wins — min (pos, chain_id);
    - cycle members no head reaches are dropped entirely (every node
      has an in-edge, so none is a head).

    Scale: chains are bounded short (``max_pages``); each round is a
    hash equi-join of the shrinking frontier (#chains rows, only
    pages that HAVE a next link survive a round) against the pruned
    (url, next, text) projection, with the frontier localCheckpointed
    per round — plan size stays linear in rounds, never nested (the
    host_hits lesson). The final stitch is ONE groupBy(chain_id)."""
    base = (pages.select(F.col(url_col).alias("url"),
                         F.col(next_col).alias("rel_next"),
                         F.col(text_col).alias("body_text"))
            .localCheckpoint(eager=False))
    in_edges = (base.where(F.col("rel_next").isNotNull())
                .select(F.col("rel_next").alias("url")).distinct())
    heads = base.join(in_edges, "url", "left_anti")
    frontier = heads.select(
        F.col("url").alias("chain_id"), "url",
        F.lit(0).alias("pos"), "rel_next", "body_text").localCheckpoint()
    parts = [frontier]
    for pos in range(1, max_pages):
        hop = (frontier.where(F.col("rel_next").isNotNull())
               .select("chain_id", F.col("rel_next").alias("url"))
               .join(base, "url")
               .select("chain_id", "url", F.lit(pos).alias("pos"),
                       "rel_next", "body_text"))
        frontier = hop.localCheckpoint()  # eager: bounds the plan AND
        if frontier.rdd.isEmpty():        # makes the emptiness probe
            break                         # reuse the materialized rows
        parts.append(frontier)
    walk = parts[0]
    for p in parts[1:]:
        walk = walk.unionByName(p)
    first_visit = Window.partitionBy("url").orderBy("pos", "chain_id")
    dedup = (walk.withColumn("__rk", F.row_number().over(first_visit))
             .where(F.col("__rk") == 1))
    ordered = F.array_sort(F.collect_list(F.struct("pos", "body_text")))
    return (dedup.groupBy("chain_id")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.array_join(
                     F.transform(ordered, lambda s: s["body_text"]),
                     "\n\n").alias("full_text")))


def table_shapes(cells: DataFrame) -> DataFrame:
    """Per-table shape stats over extract_tables_df output: row/col
    extents, cell count, header-cell count. One map-side-combinable
    groupBy on (url, table_idx) — the feature table a downstream
    'is this a data table or a layout table' gate keys on."""
    return (cells.groupBy("url", "table_idx")
            .agg((F.max("row_idx") + F.lit(1)).alias("n_rows"),
                 (F.max("col_idx") + F.lit(1)).alias("n_cols"),
                 F.count("*").cast("long").alias("n_cells"),
                 F.sum(F.col("is_header").cast("int")).cast("long")
                 .alias("n_header_cells")))


JSONLD_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("block_idx", IntegerType(), False),
    StructField("json_text", StringType(), False),
    StructField("valid", BooleanType(), False),
    StructField("root_type", StringType(), True),
    StructField("schema_context", StringType(), True),
])


def extract_jsonld_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per JSON-LD block
    (url, block_idx, json_text, valid, root_type, schema_context).
    Map-only 1->N over (url, html) like extract_links; the schema.org
    mining pass — downstream filters on root_type ('Product',
    'Recipe', ...) are codegen'd string equality over a tiny column,
    and json_text feeds from_json with a per-type schema only for the
    rows that survive."""
    from ..extractor import jsonldx
    return _flat_map_operator(
        docs, lambda payload, u: jsonldx.extract_jsonld(payload),
        JSONLD_SCHEMA)


MICRODATA_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("item_idx", IntegerType(), False),
    StructField("parent_idx", IntegerType(), True),
    StructField("itemtype", StringType(), True),
    StructField("itemid", StringType(), True),
    StructField("prop_idx", IntegerType(), False),
    StructField("prop", StringType(), True),
    StructField("value", StringType(), True),
    StructField("kind", StringType(), False),
])


def extract_microdata_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per microdata item
    declaration / property (url, item_idx, parent_idx, itemtype,
    itemid, prop_idx, prop, value, kind) — the itemscope/itemprop
    structured-data pass over the same DOM (extractor/microdatax.py
    is the Spark-free oracle; see its module contract). Map-only 1->N
    like extract_jsonld_df: one pass over payload bytes, no shuffle;
    (url, item_idx, prop_idx) is the unique downstream key, and
    per-type mining filters on the tiny ``itemtype`` column before
    touching values. A production swap for full itemref support would
    drop in an extruct-style resolver behind the same schema."""
    from ..extractor import microdatax
    return _flat_map_operator(docs, microdatax.extract_microdata,
                              MICRODATA_SCHEMA, ("parent_idx",))


def _typed_records(md: DataFrame, type_cols: list[str],
                   ref_out: str) -> DataFrame:
    """Shared records builder for the microdata and RDFa flat row
    streams: each property row gains its item's type columns and, for
    nested-item refs, the referenced child's primary type. Plan: two
    self-joins of the prop stream against the tiny declaration slice,
    both plain hash joins on (url, item_idx) — declarations are ~1%
    of rows, so both build sides broadcast at any scale."""
    decl = (md.where(F.col("kind") == "item")
            .select("url", "item_idx", *type_cols))
    props = (md.where(F.col("kind") != "item")
             .select("url", "item_idx", "prop_idx", "prop", "value",
                     "kind"))
    child = (md.where(F.col("kind") == "item")
             .select(F.col("url").alias("c_url"),
                     F.col("item_idx").alias("c_idx"),
                     F.col(type_cols[0]).alias(ref_out)))
    return (props.join(decl, ["url", "item_idx"])
            .join(child,
                  (F.col("url") == F.col("c_url"))
                  & (F.col("kind") == F.lit("ref"))
                  & (F.col("value").try_cast("int") == F.col("c_idx")),
                  "left")
            .select("url", "item_idx", *type_cols, "prop_idx", "prop",
                    "value", "kind", ref_out))


def microdata_records(md: DataFrame) -> DataFrame:
    """Typed property records from extract_microdata_df output — the
    flat (itemtype, prop, value) table a schema.org mining pass feeds
    to per-type parsers, with nested refs resolved to the child's
    ``itemtype`` (see _typed_records for the plan)."""
    return _typed_records(md, ["itemtype"], "ref_itemtype")


def rdfa_records(md: DataFrame) -> DataFrame:
    """Typed property records from extract_rdfa_df output — same
    shape as microdata_records with (typeof, vocab) typing and nested
    refs resolved to the child's ``typeof``."""
    return _typed_records(md, ["typeof", "vocab"], "ref_typeof")


RDFA_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("item_idx", IntegerType(), False),
    StructField("parent_idx", IntegerType(), True),
    StructField("typeof", StringType(), True),
    StructField("vocab", StringType(), True),
    StructField("resource", StringType(), True),
    StructField("prop_idx", IntegerType(), False),
    StructField("prop", StringType(), True),
    StructField("value", StringType(), True),
    StructField("kind", StringType(), False),
])


def extract_rdfa_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per RDFa Lite item
    declaration / property (url, item_idx, parent_idx, typeof, vocab,
    resource, prop_idx, prop, value, kind) — the vocab/typeof/property
    structured-data pass over the same DOM (extractor/rdfax.py is the
    Spark-free oracle; see its module contract). Map-only 1->N like
    extract_microdata_df; (url, item_idx, prop_idx) is the unique
    downstream key and per-vocabulary mining filters on the tiny
    ``vocab``/``typeof`` columns before touching values."""
    from ..extractor import rdfax
    return _flat_map_operator(docs, rdfax.extract_rdfa,
                              RDFA_SCHEMA, ("parent_idx",))


MF2_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("item_idx", IntegerType(), False),
    StructField("parent_idx", IntegerType(), True),
    StructField("mf_type", StringType(), True),
    StructField("prop_idx", IntegerType(), False),
    StructField("prop", StringType(), True),
    StructField("value", StringType(), True),
    StructField("kind", StringType(), False),
])


def extract_mf2_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per microformats2 item
    declaration / property (url, item_idx, parent_idx, mf_type,
    prop_idx, prop, value, kind) — the class-token structured-data
    pass over the same DOM (extractor/mf2x.py is the Spark-free
    oracle; see its module contract). Map-only 1->N like the other
    satellite families; (url, item_idx, prop_idx) is the unique
    downstream key."""
    from ..extractor import mf2x
    return _flat_map_operator(docs, mf2x.extract_mf2,
                              MF2_SCHEMA, ("parent_idx",))


def mf2_records(md: DataFrame) -> DataFrame:
    """Typed property records from extract_mf2_df output — same shape
    as microdata_records/rdfa_records via the shared _typed_records
    self-join path, with ``mf_type`` typing and nested refs resolved
    to the child's ``mf_type``."""
    return _typed_records(md, ["mf_type"], "ref_mf_type")


DATES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("source", StringType(), False),
    StructField("raw", StringType(), False),
    StructField("date_iso", StringType(), False),
])


def extract_dates_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per publication-date
    CANDIDATE (url, pos, source, raw, date_iso) — the htmldate-analog
    temporal pass (extractor/datex.py is the Spark-free oracle; see
    its precedence contract). Map-only 1->N over (url, html); the
    winner pick is a downstream aggregation (``publish_date``), so
    policy changes never touch the payload pass."""
    from ..extractor import datex
    return _flat_map_operator(docs, datex.extract_date_candidates,
                              DATES_SCHEMA)


def publish_date(cands: DataFrame) -> DataFrame:
    """Winner per page from extract_dates_df output: the lowest-``pos``
    candidate (datex emits candidates pre-sorted by source precedence,
    so min(pos) IS the precedence policy). ONE map-side-combinable
    min_by groupBy on url — no join, no window shuffle beyond the url
    exchange; at 100 TB this is the cheapest possible resolution over
    a candidates table a fraction of the corpus size."""
    return (cands.groupBy("url")
            .agg(F.expr("min_by(date_iso, pos)").alias("published"),
                 F.expr("min_by(source, pos)").alias("source"),
                 F.count("*").cast("long").alias("n_candidates")))


CODE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("lang_hint", StringType(), True),
    StructField("lang", StringType(), False),
    StructField("n_lines", IntegerType(), False),
    StructField("n_chars", IntegerType(), False),
    StructField("text", StringType(), False),
])


def extract_code_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per <pre> code block
    (url, pos, lang_hint, lang, n_lines, n_chars, text) — the
    code-routing pass a training pipeline runs to split source code
    out of the prose stream (extractor/codex.py is the Spark-free
    oracle; see its block/hint/heuristic contract). Map-only 1->N
    over a pruned (url, html) projection; language mixtures are
    downstream aggregations over this table, never a payload re-read."""
    from ..extractor import codex

    def rows(payload, u):
        return codex.extract_code(payload)
    return _flat_map_operator(docs, rows, CODE_SCHEMA)


IMAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("src_url", StringType(), True),
    StructField("alt", StringType(), True),
    StructField("title", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("caption", StringType(), True),
    StructField("in_link", BooleanType(), False),
])


def extract_images_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per <img>
    (url, pos, src_url, alt, title, width, height, caption, in_link)
    — the image-text pair mining pass (LAION/CLIP recipe): every
    image with its text candidates attached, pairs selected
    downstream in SQL (extractor/figx.py is the Spark-free oracle;
    see its src/caption/dimension contract). Map-only 1->N over a
    pruned (url, html) projection; the reference consumes images
    alongside text in its multimodal stage
    (``utils/multimodal_RAG_methods.py:313-352``)."""
    from ..extractor import figx

    def rows(payload, u):
        return figx.extract_images(payload, u)
    return _flat_map_operator(docs, rows, IMAGES_SCHEMA,
                              nullable_int_cols=("width", "height"))


def image_text_pairs(images: DataFrame, min_text_chars: int = 8,
                     min_dim: int = 64) -> DataFrame:
    """extract_images rows -> (url, pos, src_url, text, text_source)
    CLIP-candidate pairs (the LAION selection recipe):

    - text precedence caption > alt > title, first NON-EMPTY wins
      (a decorative ``alt=""`` never beats a present title);
    - images without a resolvable src, with text shorter than
      ``min_text_chars``, or DECLARED smaller than ``min_dim`` on
      either axis (trackers/thumbnails) are dropped — an absent
      dimension attribute passes (unknown is not small);
    - one pair per image URL corpus-wide: the first occurrence by
      (url, pos) wins, so repeated logos/avatars collapse to one row.

    Plan: a codegen'd filter+projection, then ONE exchange on
    src_url for the first-occurrence window — at 100 TB the dedup
    shuffle carries only the selected pair rows, never the corpus."""
    nonempty = lambda c: F.coalesce(F.col(c), F.lit("")) != ""
    text = (F.when(nonempty("caption"), F.col("caption"))
             .when(nonempty("alt"), F.col("alt"))
             .when(nonempty("title"), F.col("title")))
    source = (F.when(nonempty("caption"), F.lit("caption"))
               .when(nonempty("alt"), F.lit("alt"))
               .when(nonempty("title"), F.lit("title")))
    ok_dim = lambda c: F.col(c).isNull() | (F.col(c) >= min_dim)
    cand = (images
            .where(F.col("src_url").isNotNull()
                   & ok_dim("width") & ok_dim("height"))
            .select("url", "pos", "src_url", text.alias("text"),
                    source.alias("text_source"))
            .where(F.col("text").isNotNull()
                   & (F.length("text") >= min_text_chars)))
    first = Window.partitionBy("src_url").orderBy("url", "pos")
    return (cand.withColumn("rn", F.row_number().over(first))
            .where(F.col("rn") == 1).drop("rn"))


AV_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("src_url", StringType(), True),
    StructField("src_type", StringType(), True),
    StructField("poster_url", StringType(), True),
    StructField("title", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("caption", StringType(), True),
    StructField("track_url", StringType(), True),
    StructField("track_lang", StringType(), True),
    StructField("n_sources", IntegerType(), False),
    StructField("in_link", BooleanType(), False),
])


def extract_av_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per <video>/<audio>/
    <iframe> (url, pos, kind, src_url, src_type, poster_url, title,
    width, height, caption, track_url, track_lang, n_sources,
    in_link) — the video-side analog of extract_images: every media
    asset with its text candidates (caption/title), transcript handle
    (subtitle/caption track) and source list attached
    (extractor/avx.py is the Spark-free oracle; see its src/track
    precedence contract). Map-only 1->N over a pruned (url, html)
    projection."""
    from ..extractor import avx

    def rows(payload, u):
        return avx.extract_av(payload, u)
    return _flat_map_operator(docs, rows, AV_SCHEMA,
                              nullable_int_cols=("width", "height"))


def av_text_pairs(av: DataFrame, min_text_chars: int = 8) -> DataFrame:
    """extract_av rows -> (url, pos, kind, src_url, text, text_source)
    video/audio-text candidate pairs (the image_text_pairs recipe for
    time-based media): text precedence caption > title with the first
    NON-EMPTY winning, pairs shorter than ``min_text_chars`` dropped,
    one pair per asset URL corpus-wide (first occurrence by url, pos).
    No dimension gate — tracker iframes are filtered by the provider
    pass, not by declared size. Plan: codegen filter+projection, then
    ONE exchange on src_url for the first-occurrence window."""
    nonempty = lambda c: F.coalesce(F.col(c), F.lit("")) != ""
    text = (F.when(nonempty("caption"), F.col("caption"))
             .when(nonempty("title"), F.col("title")))
    source = (F.when(nonempty("caption"), F.lit("caption"))
               .when(nonempty("title"), F.lit("title")))
    cand = (av
            .where(F.col("src_url").isNotNull())
            .select("url", "pos", "kind", "src_url",
                    text.alias("text"), source.alias("text_source"))
            .where(F.col("text").isNotNull()
                   & (F.length("text") >= min_text_chars)))
    first = Window.partitionBy("src_url").orderBy("url", "pos")
    return (cand.withColumn("rn", F.row_number().over(first))
            .where(F.col("rn") == 1).drop("rn"))


# Known third-party player hosts and the path marker whose next
# segment is the asset id. The oracle SQL is GENERATED from these
# constants (the _W_SQL precedent) — never retyped.
EMBED_PROVIDERS = (
    ("youtube", ("www.youtube.com", "youtube.com",
                 "www.youtube-nocookie.com", "youtube-nocookie.com"),
     "/embed/"),
    ("vimeo", ("player.vimeo.com",), "/video/"),
    ("dailymotion", ("www.dailymotion.com", "dailymotion.com"),
     "/embed/video/"),
)


def embed_providers(av: DataFrame) -> DataFrame:
    """extract_av iframe rows with a src -> (url, pos, src_url, host,
    provider, video_id, title): third-party embed resolution. Host =
    the authority between '://' and the next '/', port stripped,
    lowercased; provider by exact host membership in EMBED_PROVIDERS
    (unknown hosts keep provider='other'); video_id = the path
    segment after the provider's marker, cut at '?' or '/', NULL when
    the marker is absent/empty. Map-only string ops — the fetch plan
    for the video corpus joins on (provider, video_id)."""
    def seg_after(marker: str):
        tail = F.try_element_at(F.split(F.col("src_url"), marker),
                                F.lit(2))
        seg = F.substring_index(F.substring_index(tail, "?", 1),
                                "/", 1)
        return F.when(F.col("src_url").contains(marker)
                      & (seg != ""), seg)

    host = F.lower(F.substring_index(F.substring_index(
        F.try_element_at(F.split(F.col("src_url"), "://"), F.lit(2)),
        "/", 1), ":", 1))
    provider = F.lit("other")
    video_id = F.lit(None).cast("string")
    for name, hosts, marker in reversed(EMBED_PROVIDERS):
        is_p = F.col("host").isin(*hosts)
        provider = F.when(is_p, F.lit(name)).otherwise(provider)
        video_id = F.when(is_p, seg_after(marker)).otherwise(video_id)
    return (av
            .where((F.col("kind") == "iframe")
                   & F.col("src_url").isNotNull())
            .withColumn("host", host)
            .select("url", "pos", "src_url", "host",
                    provider.alias("provider"),
                    video_id.alias("video_id"), "title"))


FORMS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("action_url", StringType(), True),
    StructField("method", StringType(), False),
    StructField("n_controls", IntegerType(), False),
    StructField("n_password", IntegerType(), False),
    StructField("n_email", IntegerType(), False),
    StructField("n_hidden", IntegerType(), False),
    StructField("n_file", IntegerType(), False),
    StructField("n_text", IntegerType(), False),
    StructField("n_submit", IntegerType(), False),
    StructField("has_search", BooleanType(), False),
])


def extract_forms_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per <form>
    (url, pos, action_url, method, control census, has_search) — the
    interactive-page profile whose downstream gates are pure integer
    SQL (extractor/formx.py is the Spark-free oracle; see its
    census/default contract). Map-only 1->N over a pruned (url, html)
    projection."""
    from ..extractor import formx

    def rows(payload, u):
        return formx.extract_forms(payload, u)
    return _flat_map_operator(docs, rows, FORMS_SCHEMA)


def form_page_flags(forms: DataFrame) -> DataFrame:
    """extract_forms rows -> one row per url with the page-function
    flags a quality gate consumes: n_forms, has_login (some form
    carries exactly one password control — the login-wall shape),
    has_signup (some form carries two or more — confirm-password),
    has_search_form, has_upload. ONE shuffle on url (map-side
    combinable aggregates); the gate that drops login walls and
    template chrome is then a codegen filter on this tiny table."""
    return (forms.groupBy("url").agg(
        F.count("*").cast("long").alias("n_forms"),
        F.bool_or(F.col("n_password") == 1).alias("has_login"),
        F.bool_or(F.col("n_password") >= 2).alias("has_signup"),
        F.bool_or(F.col("has_search")).alias("has_search_form"),
        F.bool_or(F.col("n_file") >= 1).alias("has_upload")))


OUTLINE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("para", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("level", IntegerType(), False),
    StructField("text", StringType(), False),
])


def extract_outline_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per structural element
    (url, para, kind, level, text) — the HTML member of the SHARED
    per-format element schema the docx/odt/rtf loaders emit, so
    ``chunking.section_chunks`` sections a web page exactly like an
    office document (extractor/outlinex.py is the Spark-free oracle;
    see its one-owner contract). Map-only 1->N."""
    from ..extractor import outlinex

    def rows(payload, u):
        return outlinex.extract_outline(payload)
    return _flat_map_operator(docs, rows, OUTLINE_SCHEMA)


MARKDOWN_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("markdown", StringType(), False),
])


def extract_markdown_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> (url, markdown): the whole page
    serialized to the GFM subset (extractor/mdx.py is the Spark-free
    oracle — see its determinism contract). Map-only 1->1 over the
    pruned (url, html) projection; the structured emission format a
    training pipeline hands to the tokenizer when it wants headings/
    lists/tables/code preserved instead of flat text. Reference
    analog: doc_processor.py hands flat Document text to the splitter;
    this is the structure-preserving upgrade."""
    from ..extractor import mdx
    return _flat_map_operator(
        docs, lambda payload, u: [(mdx.to_markdown(payload),)],
        MARKDOWN_SCHEMA)


def markdown_stats(md: DataFrame) -> DataFrame:
    """Structural profile per serialized page: heading/link/image/
    fence/table-row/list-item counts plus char length — the cheap
    layout census over extract_markdown_df output (the markdown IS
    the structure, so this is pure line/substring arithmetic: one
    codegen projection, no shuffle, no second payload read)."""
    lines = F.split(F.col("markdown"), "\n")
    def n_match(rx: str):
        return F.size(F.filter(lines, lambda ln: ln.rlike(rx)))
    return md.select(
        "url",
        F.length("markdown").cast("long").alias("n_chars"),
        n_match(r"^#{1,6} ").cast("long").alias("n_headings"),
        # indent is always plain spaces — '^ *' avoids the Java-vs-RE2
        # \s divergence entirely
        n_match(r"^ *(- |[0-9]+\. )").cast("long").alias("n_list_items"),
        # data rows = pipe lines minus the header-separator lines
        # (no lookahead: the oracle's RE2 doesn't support it)
        (n_match(r"^\| ") - n_match(r"^\|( --- \|)+$"))
        .cast("long").alias("n_table_rows"),
        # fences come in open/close pairs; integer div (== DuckDB //
        # on non-negatives) keeps floats out of the driver hash
        F.expr("cast(size(filter(split(markdown, '\\n'), "
               "ln -> ln rlike '^`{3}')) as long) div 2")
        .alias("n_code_blocks"),
        n_match(r"^>").cast("long").alias("n_quote_lines"),
        (F.size(F.split(F.col("markdown"), r"\]\(", -1)) - F.lit(1))
        .cast("long").alias("n_links"),
    )


SHAPES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("skeleton", StringType(), False),
    StructField("n_tags", IntegerType(), False),
    StructField("max_depth", IntegerType(), False),
    StructField("truncated", BooleanType(), False),
])


def page_shapes(docs: DataFrame, max_tags: int = 500) -> DataFrame:
    """documents (url, html, ...) -> DOM-shape skeleton per page
    (extractor/shapex.py is the Spark-free oracle). Map-only 1->1;
    the skeleton is bounded (<= max_tags short tokens) so the output
    row is KBs regardless of page size — the cheap layout fingerprint
    feeding template discovery."""
    from ..extractor import shapex
    return _flat_map_operator(
        docs,
        lambda payload, u: [shapex.dom_skeleton(payload, max_tags)],
        SHAPES_SCHEMA)


def template_clusters(shapes: DataFrame) -> DataFrame:
    """Template discovery over page_shapes output: pages of the same
    HOST sharing a DOM skeleton are one template cluster. Hashing the
    skeleton (64-bit md5 prefix) keeps the groupBy key short; one
    map-side-combinable shuffle on (host, shape_hash). At 100 TB the
    cluster table is |templates|-sized — tiny — and per-host chrome
    stripping joins back on the same key."""
    from .webtext import url_host
    shape_hash = F.expr(
        "cast(conv(substr(md5(skeleton), 1, 12), 16, 10) as bigint)")
    return (shapes
            .select(url_host("url").alias("host"),
                    shape_hash.alias("shape_hash"), "url")
            .groupBy("host", "shape_hash")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.min("url").alias("sample_url")))


HREFLANG_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("hreflang", StringType(), False),
    StructField("href", StringType(), False),
])


def extract_hreflang_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per declared language
    alternate (url, pos, hreflang, href). Map-only 1->N; downstream,
    grouping by href yields language-mirror clusters so per-language
    corpora keep one member instead of 30 near-identical locales."""
    return _flat_map_operator(docs, metax.extract_hreflang,
                              HREFLANG_SCHEMA)


def _artifacts_schema() -> StructType:
    from pyspark.sql.types import ArrayType
    from ..extractor import metax
    meta_struct = StructType(
        [StructField(f, StringType(), True) for f in metax.META_FIELDS])
    link_struct = StructType([
        StructField("link_pos", IntegerType(), False),
        StructField("href", StringType(), False),
        StructField("anchor", StringType(), False)])
    hreflang_struct = StructType([
        StructField("pos", IntegerType(), False),
        StructField("hreflang", StringType(), False),
        StructField("href", StringType(), False)])
    cell_struct = StructType([
        StructField("table_idx", IntegerType(), False),
        StructField("row_idx", IntegerType(), False),
        StructField("col_idx", IntegerType(), False),
        StructField("is_header", BooleanType(), False),
        StructField("colspan", IntegerType(), False),
        StructField("rowspan", IntegerType(), False),
        StructField("cell_text", StringType(), False)])
    jsonld_struct = StructType([
        StructField("block_idx", IntegerType(), False),
        StructField("json_text", StringType(), False),
        StructField("valid", BooleanType(), False),
        StructField("root_type", StringType(), True),
        StructField("schema_context", StringType(), True)])
    microdata_struct = StructType([
        StructField("item_idx", IntegerType(), False),
        StructField("parent_idx", IntegerType(), True),
        StructField("itemtype", StringType(), True),
        StructField("itemid", StringType(), True),
        StructField("prop_idx", IntegerType(), False),
        StructField("prop", StringType(), True),
        StructField("value", StringType(), True),
        StructField("kind", StringType(), False)])
    date_struct = StructType([
        StructField("pos", IntegerType(), False),
        StructField("source", StringType(), False),
        StructField("raw", StringType(), False),
        StructField("date_iso", StringType(), False)])
    rdfa_struct = StructType([
        StructField("item_idx", IntegerType(), False),
        StructField("parent_idx", IntegerType(), True),
        StructField("typeof", StringType(), True),
        StructField("vocab", StringType(), True),
        StructField("resource", StringType(), True),
        StructField("prop_idx", IntegerType(), False),
        StructField("prop", StringType(), True),
        StructField("value", StringType(), True),
        StructField("kind", StringType(), False)])
    mf2_struct = StructType([
        StructField("item_idx", IntegerType(), False),
        StructField("parent_idx", IntegerType(), True),
        StructField("mf_type", StringType(), True),
        StructField("prop_idx", IntegerType(), False),
        StructField("prop", StringType(), True),
        StructField("value", StringType(), True),
        StructField("kind", StringType(), False)])
    code_struct = StructType([
        StructField("pos", IntegerType(), False),
        StructField("lang_hint", StringType(), True),
        StructField("lang", StringType(), False),
        StructField("n_lines", IntegerType(), False),
        StructField("n_chars", IntegerType(), False),
        StructField("text", StringType(), False)])
    outline_struct = StructType([
        StructField("para", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("level", IntegerType(), False),
        StructField("text", StringType(), False)])
    image_struct = StructType([
        StructField("pos", IntegerType(), False),
        StructField("src_url", StringType(), True),
        StructField("alt", StringType(), True),
        StructField("title", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("caption", StringType(), True),
        StructField("in_link", BooleanType(), False)])
    av_struct = StructType([
        StructField("pos", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("src_url", StringType(), True),
        StructField("src_type", StringType(), True),
        StructField("poster_url", StringType(), True),
        StructField("title", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("caption", StringType(), True),
        StructField("track_url", StringType(), True),
        StructField("track_lang", StringType(), True),
        StructField("n_sources", IntegerType(), False),
        StructField("in_link", BooleanType(), False)])
    form_struct = StructType([
        StructField("pos", IntegerType(), False),
        StructField("action_url", StringType(), True),
        StructField("method", StringType(), False),
        StructField("n_controls", IntegerType(), False),
        StructField("n_password", IntegerType(), False),
        StructField("n_email", IntegerType(), False),
        StructField("n_hidden", IntegerType(), False),
        StructField("n_file", IntegerType(), False),
        StructField("n_text", IntegerType(), False),
        StructField("n_submit", IntegerType(), False),
        StructField("has_search", BooleanType(), False)])
    return StructType([
        StructField("url", StringType(), False),
        StructField("meta", meta_struct, False),
        StructField("hreflang", ArrayType(hreflang_struct), False),
        StructField("links", ArrayType(link_struct), False),
        StructField("cells", ArrayType(cell_struct), False),
        StructField("jsonld", ArrayType(jsonld_struct), False),
        StructField("microdata", ArrayType(microdata_struct), False),
        StructField("rdfa", ArrayType(rdfa_struct), False),
        StructField("mf2", ArrayType(mf2_struct), False),
        StructField("dates", ArrayType(date_struct), False),
        StructField("code", ArrayType(code_struct), False),
        StructField("outline", ArrayType(outline_struct), False),
        StructField("images", ArrayType(image_struct), False),
        StructField("av", ArrayType(av_struct), False),
        StructField("forms", ArrayType(form_struct), False),
        StructField("skeleton", StringType(), False),
        StructField("n_tags", IntegerType(), False),
        StructField("max_depth", IntegerType(), False),
        StructField("truncated", BooleanType(), False),
    ])


ARTIFACTS_SCHEMA = _artifacts_schema()


def page_artifacts(docs: DataFrame, max_tags: int = 500) -> DataFrame:
    """ALL artifact families from ONE decode + ONE DOM parse per page
    (extractor/pagex.py) — the combined pass a pipeline runs when it
    wants several artifact tables: at 100 TB the parse dominates, so
    five separate satellite passes pay ~5x this cost. One row per
    page; array<struct> per family; downstream explodes only what it
    consumes. Outputs are definitionally identical to the individual
    operators (same *_from_root functions, equivalence pytest-pinned)."""
    import pandas as pd
    from ..extractor import metax, pagex

    def batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ["url", "meta", "hreflang", "links", "cells", "jsonld",
                "microdata", "rdfa", "mf2", "dates", "code", "outline",
                "images", "av", "forms", "skeleton", "n_tags",
                "max_depth", "truncated"]
        for pdf in it:
            rows = []
            for u, payload in zip(pdf["url"], pdf["html"]):
                if not payload:
                    continue
                a = pagex.extract_page_artifacts(payload, u, max_tags)
                rows.append((
                    u,
                    tuple(a["meta"][f] for f in metax.META_FIELDS),
                    a["hreflang"], a["links"], a["cells"], a["jsonld"],
                    a["microdata"], a["rdfa"], a["mf2"], a["dates"],
                    a["code"], a["outline"], a["images"], a["av"],
                    a["forms"], a["skeleton"], a["n_tags"],
                    a["max_depth"], a["truncated"]))
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("url", "html").mapInPandas(
        batch, ARTIFACTS_SCHEMA)


def meta_robots_gate(meta: DataFrame) -> DataFrame:
    """In-page ``<meta name=robots>`` directive gate — the third leg
    of the robots trio (robots.txt rules: operators/robots.py;
    X-Robots-Tag header: webtext.header_robots_gate).  Token-level:
    comma-split, trim, lowercase; ``noindex``/``nofollow`` flip their
    flag, ``none`` flips both, an absent/empty directive defaults to
    index,follow (the spec's rule).

    Map-only JVM built-ins; the DuckDB twin re-expresses the same
    token pipeline — a true dual-engine check.
    """
    toks = F.transform(
        F.split(F.coalesce(F.col("robots"), F.lit("")), ","),
        lambda x: F.lower(F.trim(x)))

    def has(t: str):
        return F.exists(toks, lambda x: x == t)

    return meta.select(
        "url", "robots",
        (~(has("noindex") | has("none"))).alias("indexable"),
        (~(has("nofollow") | has("none"))).alias("followable"))


def srcset_candidates(df: DataFrame, srcset_col: str = "srcset",
                      url_col: str = "url") -> DataFrame:
    """(url, srcset attribute) rows -> one row per image candidate
    (url, pos, img_url, kind 'w'|'x', val) via the spec microsyntax
    in ``extractor/figx.parse_srcset`` (exact milli-density integers,
    clamped widths). Map-only 1->N Arrow pass; malformed candidates
    drop (F5)."""
    from ..extractor.figx import parse_srcset

    def rows_of(url, raw):
        for pos, img, kind, val in parse_srcset(raw):
            yield url, pos, img, kind, val

    return flat_map(df, [url_col, srcset_col],
                    "url string, pos int, img_url string, kind string, "
                    "val bigint", rows_of)


def srcset_best(cands: DataFrame) -> DataFrame:
    """Per page, the candidate a fetch planner should take: the
    largest width if any ``w`` candidate exists, else the largest
    density, first-declared on ties — one window over the url key
    (== the DuckDB QUALIFY twin)."""
    w = Window.partitionBy("url").orderBy(
        (F.col("kind") == "w").desc(), F.col("val").desc(),
        F.col("pos").asc())
    return (cands
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("url", "img_url", "kind", "val"))
