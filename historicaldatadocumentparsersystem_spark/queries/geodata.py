"""Geodata: KML, GPX and GeoJSON."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_GPX = _fixture("golden_gpx_seed42_n12.parquet")
_GOLDEN_GEOJSON = _fixture("golden_geojson_seed42_n12.parquet")
_GOLDEN_KML = _fixture("golden_kml_seed42_n5.parquet")


# --- GeoJSON feature index (rows golden-pinned; the stats
# census reads the golden on BOTH sides — bbox is min/max only,
# comparisons not arithmetic, so doubles are bit-stable)
# GeoJSON: committed golden pinned by tests/test_geojson.py
# against the pure re-derivation
@query("geojson_features", oracle=lambda: f"""
            SELECT url, pos, gtype, n_geoms, n_points, minx, miny,
                   maxx, maxy, name, n_props
            FROM read_parquet('{_GOLDEN_GEOJSON}')""")
def q_geojson_features(spark, sf_dir):
    df = _payload_df(spark, fixtures.geojson_file_rows(12), 8)
    return sources.read_geojson_features(df)


@query("geojson_geometry_stats", oracle=lambda: f"""
            SELECT gtype, count(*)::bigint AS n_features,
                   sum(coalesce(n_points, 0))::bigint
                     AS points_total,
                   count(name)::bigint AS n_named,
                   min(minx) AS west, min(miny) AS south,
                   max(maxx) AS east, max(maxy) AS north
            FROM read_parquet('{_GOLDEN_GEOJSON}')
            GROUP BY gtype ORDER BY gtype""")
def q_geojson_geometry_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_GEOJSON)
    return (g.groupBy("gtype")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_features"),
                 F.sum(F.coalesce("n_points", F.lit(0)))
                 .cast("long").alias("points_total"),
                 F.count("name").cast("long").alias("n_named"),
                 F.min("minx").alias("west"),
                 F.min("miny").alias("south"),
                 F.max("maxx").alias("east"),
                 F.max("maxy").alias("north"))
            .orderBy("gtype"))


# --- GPX geotrack source (the geodata modality) — point rows
# hash-checked against the committed golden; track stats read
# the golden on BOTH sides (bbox/count/duration only — exact
# math, no transcendentals near the driver hash)
# GPX point rows: committed golden pinned by
# tests/test_gpx.py against the pure re-derivation
@query("gpx_points", oracle=lambda: f"""
            SELECT url, kind, trk, trk_name, seg, pt, name, lat,
                   lon, ele, time, epoch
            FROM read_parquet('{_GOLDEN_GPX}')""")
def q_gpx_points(spark, sf_dir):
    df = _payload_df(spark, fixtures.gpx_file_rows(12), 8)
    return sources.read_gpx_points(df)


# track stats: golden both sides; min/max on doubles and
# bigint epoch diffs are exact in both engines
@query("gpx_track_stats", oracle=lambda: f"""
            SELECT url, trk, max(trk_name) AS trk_name,
                   count(*)::bigint AS n_points,
                   count(DISTINCT seg)::bigint AS n_segments,
                   min(lat) AS lat_min, max(lat) AS lat_max,
                   min(lon) AS lon_min, max(lon) AS lon_max,
                   max(epoch) - min(epoch) AS duration_s,
                   sum(CASE WHEN epoch IS NOT NULL THEN 1 ELSE 0
                       END)::bigint AS n_timed
            FROM read_parquet('{_GOLDEN_GPX}')
            WHERE kind = 'trkpt'
            GROUP BY url, trk ORDER BY url, trk""")
def q_gpx_track_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_GPX)
    return (g.where(F.col("kind") == "trkpt")
            .groupBy("url", "trk")
            .agg(F.max("trk_name").alias("trk_name"),
                 F.count(F.lit(1)).cast("long").alias("n_points"),
                 F.countDistinct("seg").cast("long")
                 .alias("n_segments"),
                 F.min("lat").alias("lat_min"),
                 F.max("lat").alias("lat_max"),
                 F.min("lon").alias("lon_min"),
                 F.max("lon").alias("lon_max"),
                 (F.max("epoch") - F.min("epoch"))
                 .alias("duration_s"),
                 F.sum(F.col("epoch").isNotNull().cast("long"))
                 .cast("long").alias("n_timed"))
            .orderBy("url", "trk"))


# KML placemarks — the gpxx geodata sibling (lon,lat order)
# KML: committed golden pinned by tests/test_kmlx.py
@query("kml_placemarks", oracle=lambda: f"""
            SELECT url, pos, folder, name, gtype, n_points,
                   min_lon, min_lat, max_lon, max_lat,
                   t_begin, t_end
            FROM read_parquet('{_GOLDEN_KML}')""")
def q_kml_placemarks(spark, sf_dir):
    df = _payload_df(spark, fixtures.kml_file_rows(), 4)
    return sources.read_kml_placemarks(df)


@query("kml_folder_stats", oracle=lambda: f"""
            SELECT url, folder,
                   count(*)::bigint AS n_placemarks,
                   sum(n_points)::bigint AS n_vertices,
                   min(min_lon) AS bbox_min_lon,
                   min(min_lat) AS bbox_min_lat,
                   max(max_lon) AS bbox_max_lon,
                   max(max_lat) AS bbox_max_lat,
                   min(t_begin) AS earliest,
                   max(t_end) AS latest
            FROM read_parquet('{_GOLDEN_KML}')
            GROUP BY url, folder ORDER BY url, folder""")
def q_kml_folder_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_KML)
    return (g.groupBy("url", "folder")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_placemarks"),
                 F.sum("n_points").cast("long")
                 .alias("n_vertices"),
                 F.min("min_lon").alias("bbox_min_lon"),
                 F.min("min_lat").alias("bbox_min_lat"),
                 F.max("max_lon").alias("bbox_max_lon"),
                 F.max("max_lat").alias("bbox_max_lat"),
                 F.min("t_begin").alias("earliest"),
                 F.max("t_end").alias("latest"))
            .orderBy("url", "folder"))
