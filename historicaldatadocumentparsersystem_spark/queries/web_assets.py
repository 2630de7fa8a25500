"""Web assets: CSS references, JS source maps and web app manifests."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..extractor import manifestx
from . import _fixture, _payload_df, query


def _webmanifest_sql(icons: bool) -> str:
    """Oracles for webmanifest_rows / webmanifest_icons: the PURE
    parser feeds the VALUES rows (subset pinned by
    tests/test_bookmarks.py vectors)."""

    def s(v):
        return ("NULL" if v is None
                else "'" + v.replace("'", "''") + "'")

    rows = []
    for r in fixtures.manifest_file_rows(12):
        d = manifestx.parse_manifest(r["payload"])
        if d is None:
            continue
        if icons:
            for pos, src, sizes, typ, purpose in d["icons"]:
                rows.append(f"({s(r['url'])}, {pos}::int, {s(src)}, "
                            f"{s(sizes)}, {s(typ)}, {s(purpose)})")
        else:
            rows.append(
                f"({s(r['url'])}, {s(d['name'])}, "
                f"{s(d['short_name'])}, {s(d['start_url'])}, "
                f"{s(d['scope'])}, {s(d['display'])}, "
                f"{s(d['theme_color'])}, "
                f"{s(d['background_color'])}, {s(d['lang'])}, "
                f"{len(d['icons'])}::int)")
    vals = ",\n".join(rows)
    if icons:
        return f"""
            SELECT * FROM (VALUES {vals})
            AS t(url, pos, src, sizes, type, purpose)
            ORDER BY url, pos"""
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, name, short_name, start_url, scope, display,
             theme_color, background_color, lang, n_icons)
        ORDER BY url"""


_GOLDEN_CSS = _fixture("golden_css_seed42_n12.parquet")
_GOLDEN_SOURCEMAPS = _fixture("golden_sourcemaps_seed42_n12.parquet")


# --- CSS reference miner + JS source maps (the asset-side
# discovery channels: fonts/images via stylesheets, original
# file inventories via VLQ source maps)
# CSS references: committed golden pinned by
# tests/test_css_srcmap.py against the pure re-derivation
@query("css_refs", oracle=lambda: f"""
            SELECT url, pos, kind, ref, is_data
            FROM read_parquet('{_GOLDEN_CSS}')""")
def q_css_refs(spark, sf_dir):
    df = _payload_df(spark, fixtures.css_file_rows(12), 8)
    return sources.read_css_refs(df)


@query("css_ref_profile", oracle=lambda: f"""
            SELECT kind, count(*)::bigint AS n_refs,
                   sum(CASE WHEN is_data THEN 1 ELSE 0
                       END)::bigint AS n_data_uris,
                   count(DISTINCT url)::bigint AS n_sheets
            FROM read_parquet('{_GOLDEN_CSS}')
            GROUP BY kind ORDER BY kind""")
def q_css_profile(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_CSS)
    return (g.groupBy("kind")
            .agg(F.count(F.lit(1)).cast("long").alias("n_refs"),
                 F.sum(F.col("is_data").cast("long"))
                 .cast("long").alias("n_data_uris"),
                 F.countDistinct("url").cast("long")
                 .alias("n_sheets"))
            .orderBy("kind"))


# source maps: committed golden pinned by
# tests/test_css_srcmap.py (incl. the VLQ codec round trip)
@query("sourcemap_sources", oracle=lambda: f"""
            SELECT url, file, source_root, pos, source,
                   has_content, n_segments
            FROM read_parquet('{_GOLDEN_SOURCEMAPS}')""")
def q_sourcemap_sources(spark, sf_dir):
    df = _payload_df(spark, fixtures.sourcemap_file_rows(12), 8)
    return sources.read_sourcemap_sources(df)


@query("sourcemap_stats", oracle=lambda: f"""
            SELECT url, file, count(*)::bigint AS n_sources,
                   sum(CASE WHEN has_content THEN 1 ELSE 0
                       END)::bigint AS n_with_content,
                   sum(n_segments)::bigint AS n_segments
            FROM read_parquet('{_GOLDEN_SOURCEMAPS}')
            GROUP BY url, file ORDER BY url""")
def q_sourcemap_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_SOURCEMAPS)
    return (g.groupBy("url", "file")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_sources"),
                 F.sum(F.col("has_content").cast("long"))
                 .cast("long").alias("n_with_content"),
                 F.sum("n_segments").cast("long")
                 .alias("n_segments"))
            .orderBy("url"))


@query("webmanifest_rows", oracle=lambda: _webmanifest_sql(icons=False))
def q_webmanifests(spark, sf_dir):
    df = _payload_df(spark, fixtures.manifest_file_rows(12), 8)
    return sources.read_webmanifests(df)


@query("webmanifest_icons", oracle=lambda: _webmanifest_sql(icons=True))
def q_manifest_icons(spark, sf_dir):
    df = _payload_df(spark, fixtures.manifest_file_rows(12), 8)
    return sources.read_manifest_icons(df)
