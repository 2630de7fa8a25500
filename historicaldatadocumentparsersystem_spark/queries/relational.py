"""Relational operator analogs over the events, TPC-H and bbox data."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import asof, layout, rollup, routing, skew, spans
from . import _t, query


def _zorder_sql() -> str:
    """DuckDB twin of layout.zorder_events: identical integer math,
    expression strings generated by the shared builders."""
    b = layout.ZORDER_BITS
    qx = layout.quantize_expr("user_id", "xmin", "xmax", b, div="//")
    qy = layout.quantize_expr("epoch_us(ts)", "ymin", "ymax", b,
                              div="//")
    z = layout.interleave_expr("qx", "qy", b, div="//")
    return f"""
        WITH mm AS (
          SELECT min(user_id)::bigint AS xmin,
                 max(user_id)::bigint AS xmax,
                 min(epoch_us(ts))::bigint AS ymin,
                 max(epoch_us(ts))::bigint AS ymax
          FROM events)
        SELECT event_id, qx, qy, ({z})::bigint AS zkey
        FROM (SELECT event_id, ({qx})::bigint AS qx, ({qy})::bigint AS qy
              FROM events, mm) q"""


# deterministic bbox micro-fixture (FIXTURES.md §4) shared by the Spark
# query and the oracle VALUES CTE
_BBOX_ROWS = [
    # url, page, x0, y0, x1, y1, kind
    ("u1", 1, 0.0, 0.0, 100.0, 100.0, "page"),
    ("u1", 1, 10.0, 10.0, 50.0, 50.0, "para"),      # inside page -> drop
    ("u1", 1, 60.0, 60.0, 90.0, 90.0, "figure"),    # inside page -> drop
    ("u1", 2, 0.0, 0.0, 30.0, 30.0, "para"),
    ("u1", 2, 40.0, 0.0, 80.0, 30.0, "para"),       # disjoint -> keep
    ("u1", 2, 5.0, 5.0, 25.0, 25.0, "caption"),     # inside first -> drop
    ("u2", 1, 0.0, 0.0, 10.0, 10.0, "para"),        # other url -> keep
    ("u2", 1, 2.0, 2.0, 30.0, 30.0, "big"),         # overlap, not nested
]
_BBOX_VALUES = ", ".join(
    f"('{u}', {p}, {x0}, {y0}, {x1}, {y1}, '{k}')"
    for u, p, x0, y0, x1, y1, k in _BBOX_ROWS)

_SPAN_ROWS = [
    ("u1", 1, 0, 10), ("u1", 1, 12, 40), ("u1", 2, 100, 160),
    ("u2", 1, 5, 9), ("u2", 1, 9, 20),
]
_SPAN_VALUES = ", ".join(f"('{u}', {p}, {s}, {e})"
                         for u, p, s, e in _SPAN_ROWS)


def _bbox_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _BBOX_ROWS, "url string, page int, x0 double, y0 double, "
                    "x1 double, y1 double, kind string")


def _span_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _SPAN_ROWS, "url string, page int, start long, end long")


# --- window top-k (W2) — SQL-checked
@query("events_topk", oracle=lambda: """
            SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id ASC) AS rk
            FROM events QUALIFY rk <= 5""")
def q_events_topk(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id"))
    return (ev.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("event_type", "event_id", "value", "rk"))


# --- skew-salted host aggregation — SQL-checked (identical result to
# direct groupBy; salting is an internal two-stage plan detail)
@query("host_stats_salted", oracle=lambda: """
            SELECT source AS host, count(*) AS n_docs,
                   sum(n_chars)::bigint AS total_chars
            FROM documents GROUP BY source""")
def q_host_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    return skew.salted_host_stats(docs, size_col="n_chars") \
        .withColumnRenamed("total_bytes", "total_chars")


# --- J1 nested-bbox anti-join — SQL-checked (VALUES both sides)
@query("bbox_remove_nested", oracle=lambda: f"""
            WITH boxes(url, page, x0, y0, x1, y1, kind) AS (
              VALUES {_BBOX_VALUES}
            ), sized AS (
              SELECT *, (x1 - x0) * (y1 - y0) AS area FROM boxes
            )
            SELECT a.url, a.page, a.x0, a.y0, a.x1, a.y1, a.kind
            FROM sized a
            WHERE NOT EXISTS (
              SELECT 1 FROM sized b
              WHERE b.url = a.url AND b.page = a.page
                AND b.x0 <= a.x0 AND b.y0 <= a.y0
                AND a.x1 <= b.x1 AND a.y1 <= b.y1
                AND a.area < b.area)""")
def q_bbox(spark, sf_dir):
    return spans.remove_nested_bboxes(_bbox_df(spark))


# --- J2 enclosing union / span merge — SQL-checked
@query("bbox_enclosing", oracle=lambda: f"""
            WITH boxes(url, page, x0, y0, x1, y1, kind) AS (
              VALUES {_BBOX_VALUES}
            )
            SELECT url, page, min(x0) AS x0, min(y0) AS y0,
                   max(x1) AS x1, max(y1) AS y1, count(*) AS n_boxes
            FROM boxes GROUP BY url, page""")
def q_enclose(spark, sf_dir):
    return spans.enclosing_bbox(_bbox_df(spark))


@query("span_merge", oracle=lambda: f"""
            WITH s(url, page, "start", "end") AS (VALUES {_SPAN_VALUES})
            SELECT url, page, min("start")::bigint AS span_start,
                   max("end")::bigint AS span_end,
                   sum("end" - "start")::bigint AS covered_chars
            FROM s GROUP BY url, page""")
def q_span_merge(spark, sf_dir):
    return spans.merge_spans(_span_df(spark), ["url", "page"])


# --- F6 rename + F7 defaulting — SQL-checked
@query("column_mapping", oracle=lambda: """
            SELECT doc_id AS id, text AS content,
                   coalesce(source, 'Not specified') AS source, lang
            FROM documents""")
def q_colmap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return routing.apply_column_mapping(
        docs.select("doc_id", "text", "source", "lang"),
        {"doc_id": "id", "text": "content"},
        defaults={"source": "Not specified"})


# --- F9 sentinel routing + U1 union — SQL-checked
@query("route_sentinels", oracle=lambda: """
            SELECT doc_id, text, n_chars, 'text' AS kind
            FROM documents WHERE NOT (n_chars < 150)
            UNION ALL
            SELECT doc_id, '' AS text, n_chars, 'stub' AS kind
            FROM documents WHERE n_chars < 150""")
def q_route(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "text", "n_chars")
    return routing.route_sentinels(docs, F.col("n_chars") < 150)


# --- U3 set operations — SQL-checked
@query("lang_set_ops", oracle=lambda: """
            SELECT lang, 'intersect' AS op FROM (
              SELECT lang FROM documents WHERE n_chars > 400
              INTERSECT
              SELECT lang FROM documents WHERE n_chars < 100)
            UNION ALL
            SELECT lang, 'except' AS op FROM (
              SELECT lang FROM documents WHERE n_chars > 400
              EXCEPT
              SELECT lang FROM documents WHERE n_chars < 100)""")
def q_setops(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    big = docs.where(F.col("n_chars") > 400).select("lang").distinct()
    small = docs.where(F.col("n_chars") < 100).select("lang").distinct()
    inter = big.intersect(small).withColumn("op", F.lit("intersect"))
    exc = big.subtract(small).withColumn("op", F.lit("except"))
    return inter.unionByName(exc)


# --- as-of join (custom operator; union+window, no range blowup)
@query("asof_join", oracle=lambda: """
            SELECT p.event_id, p.user_id,
                   l.event_id AS prior_login_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events
                            WHERE event_type IN ('login', 'signup')) l
              ON p.user_id = l.user_id AND p.ts >= l.ts""")
def q_asof(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    logins = ev.where(F.col("event_type").isin("login", "signup")) \
        .select("user_id", "ts", "event_id")
    return (asof.asof_join(purchases, logins, key="user_id",
                           time_col="ts", value_cols=["event_id"])
            .select("event_id", "user_id",
                    F.col("asof_event_id").alias("prior_login_id")))


# --- multi-dimensional agg (cube) — SQL-checked
@query("events_cube", oracle=lambda: """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(hour(ts), -1) AS hour,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events
            GROUP BY CUBE (event_type, hour(ts))""")
def q_cube(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "hour", F.hour("ts"))
    return (ev.cube("event_type", "hour")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.coalesce("event_type", F.lit("ALL"))
                    .alias("event_type"),
                    F.coalesce("hour", F.lit(-1)).alias("hour"),
                    "n", "total_value"))


# --- sessionization (gap-based windows over event time) — SQL-checked
@query("event_sessions", oracle=lambda: """
            WITH gaps AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT *, sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING)::bigint AS session_no
              FROM gaps
            )
            SELECT user_id, session_no, count(*) AS n_events,
                   min(event_id) AS first_event,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY user_id, session_no""")
def q_sessions(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap in integer MICROSECONDS on both sides (ts is TIMESTAMP_NTZ;
    # Spark timestampdiff == DuckDB epoch_us difference, exactly)
    ev = ev.withColumn("lag_ts", F.lag("ts").over(w))
    gap = F.expr("timestampdiff(MICROSECOND, lag_ts, ts)")
    sess = (ev.withColumn(
                "new_sess",
                F.when(gap.isNull() | (gap > 1_800_000_000), 1)
                .otherwise(0))
            .withColumn("session_no",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          0))))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.round(F.sum("value"), 2).alias("session_value")))


# --- range (overlap) join via grid binning — SQL-checked (theta
# self-join oracle on the shared VALUES fixture)
@query("bbox_overlap_pairs", oracle=lambda: f"""
            WITH boxes(url, page, x0, y0, x1, y1, kind) AS (
              VALUES {_BBOX_VALUES}
            )
            SELECT a.url, a.page, a.kind AS kind_a, b.kind AS kind_b
            FROM boxes a JOIN boxes b
              ON a.url = b.url AND a.page = b.page
             AND greatest(a.x0, b.x0) < least(a.x1, b.x1)
             AND greatest(a.y0, b.y0) < least(a.y1, b.y1)
             AND (a.x0, a.y0, a.x1, a.y1, a.kind)
                 < (b.x0, b.y0, b.x1, b.y1, b.kind)""")
def q_overlap(spark, sf_dir):
    return spans.overlapping_bbox_pairs(_bbox_df(spark), cell=20.0)


# --- hypertable cascade: hourly level derived from minute level;
# oracle aggregates hourly DIRECTLY from raw — equality proves the
# decomposable-merge cascade correct
@query("hypertable_rollup", oracle=lambda: """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
                   event_type, count(*) AS n,
                   round(sum(value::decimal(20,6)), 2)::double AS total,
                   round(min(value::decimal(20,6)), 2)::double AS vmin,
                   round(max(value::decimal(20,6)), 2)::double AS vmax
            FROM events GROUP BY 1, 2""")
def q_rollup(spark, sf_dir):
    # value aggregated as DECIMAL: exact and associative, so the
    # re-summed per-minute partials equal the oracle's direct sum
    # bit-for-bit — no reliance on round(2) absorbing double
    # reassociation error (verified: Spark/DuckDB double->decimal
    # casts agree on every sf0.01 and sf0.1 events row)
    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(20,6)"))
    levels = rollup.cascade(ev, lengths=("1 minute", "1 hour"))
    hourly = levels[1]
    return hourly.select(
        "bucket_start", F.col("key").alias("event_type"), "n",
        F.round("total", 2).cast("double").alias("total"),
        F.round("vmin", 2).cast("double").alias("vmin"),
        F.round("vmax", 2).cast("double").alias("vmax"))


# --- Z-order layout clustering (Delta OPTIMIZE ZORDER analog):
# Morton key over the (user, time) plane so a range-partitioned
# write prunes BOTH dimensions via footer stats; key math is
# engine-exact integer arithmetic generated by the same Python
# code as the DuckDB twin (operators/layout.py)
# Z-order Morton keys: quantize + interleave strings GENERATED
# by the same operators/layout.py builders the Spark side
# runs (div='//' is DuckDB's truncating division on the
# non-negative operands used here); time as epoch MICROseconds
# (exact int64 both engines — second-granularity casts round
# vs truncate differently)
@query("zorder_layout", oracle=_zorder_sql)
def q_zorder(spark, sf_dir):
    return layout.zorder_events(_t(spark, sf_dir, "events"))


# --- TPC-H-style relational coverage — SQL-checked
@query("tpch_q1_pricing", oracle=lambda: """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount))
                     AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""")
def q_tpch1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum("l_extendedprice").alias("sum_base_price"),
                 F.sum(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")))
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


@query("segment_revenue", oracle=lambda: """
            SELECT c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""")
def q_revenue_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .groupBy("c_mktsegment")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2)
                .alias("revenue"),
                F.countDistinct("o_orderkey").alias("n_orders")))
    return rev
