"""Multi-dimensional Z-order (Morton-curve) layout clustering.

At 100 TB the scan you never run is the cheapest: a table range-
partitioned on ONE key prunes that key only, while analytical
predicates are usually multi-dimensional (user x time, host x crawl
date). Interleaving the bits of the quantized dimensions into a single
Morton key and range-partitioning the write on it keeps each output
file's bounding rectangle small in EVERY dimension, so any engine that
does footer-stats file/row-group skipping (Spark's parquet reader,
Trino, DuckDB) prunes on all of them — the Delta Lake ``OPTIMIZE
ZORDER BY`` idea, built from plain DataFrame ops.

Engine-exact by construction: quantization and interleave use only
``+ * %`` and truncating integer division on NON-NEGATIVE operands
(Spark ``div`` == DuckDB ``//`` there; bit operators differ in
availability, so none are used), and the expression strings are
GENERATED by the same Python code for both engines — the oracle twin
is a transcription, never a retype. Dimension min/max ride in as a
lazy 1-row aggregate crossJoin broadcast (the tfidf pattern — no eager
driver action at plan-build time), so the whole key computation is one
map-only projection over the scan.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 6  # per-dimension default: 4096 cells, plenty per file


def quantize_expr(x: str, xmin: str, xmax: str, bits: int,
                  div: str = "div") -> str:
    """Portable integer SQL quantizing ``x`` into [0, 2**bits) over the
    closed range [xmin, xmax]; constant ranges degrade to cell 0."""
    top = (1 << bits) - 1
    return (f"((({x}) - ({xmin})) * {top}) "
            f"{div} greatest(({xmax}) - ({xmin}), 1)")


def interleave_expr(qx: str, qy: str, bits: int, div: str = "div") -> str:
    """Portable integer SQL for the Morton interleave of two
    ``bits``-wide non-negative ints (x in the odd bit positions).
    2*bits small terms — flat integer arithmetic, codegen-friendly."""
    terms = []
    for i in range(bits):
        terms.append(
            f"((({qx}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(
            f"((({qy}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def zorder_keys(df: DataFrame, x_col: str, y_col: str,
                bits: int = ZORDER_BITS) -> DataFrame:
    """Append (qx, qy, zkey) for two integer-valued columns. The
    min/max normalizers are a lazy 1-row crossJoin broadcast; the key
    itself is a map-only projection."""
    mm = df.agg(F.min(x_col).cast("long").alias("__xmin"),
                F.max(x_col).cast("long").alias("__xmax"),
                F.min(y_col).cast("long").alias("__ymin"),
                F.max(y_col).cast("long").alias("__ymax"))
    qx = quantize_expr(x_col, "__xmin", "__xmax", bits)
    qy = quantize_expr(y_col, "__ymin", "__ymax", bits)
    return (df.crossJoin(F.broadcast(mm))
            .withColumn("qx", F.expr(qx).cast("long"))
            .withColumn("qy", F.expr(qy).cast("long"))
            .drop("__xmin", "__xmax", "__ymin", "__ymax")
            .withColumn("zkey", F.expr(
                interleave_expr("qx", "qy", bits)).cast("long")))


def zorder_events(df: DataFrame, bits: int = ZORDER_BITS) -> DataFrame:
    """(event_id, qx, qy, zkey) over the events table, clustering the
    (user_id, event time) plane — the classic "this user, that week"
    access pattern neither a user- nor a time-sort serves alone.
    Time enters as MICROseconds since the naive epoch (exact int64 in
    both engines; second-granularity epoch casts round vs truncate
    differently): the parquet column is TIMESTAMP_NTZ, so the
    timezone-free timestampdiff mirrors DuckDB's naive epoch_us —
    unix_micros would reject NTZ and a cast would drag the session
    timezone in."""
    with_t = df.withColumn("__t_us", F.expr(
        "timestampdiff(MICROSECOND, "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
    return (zorder_keys(with_t, "user_id", "__t_us", bits)
            .select("event_id", "qx", "qy", "zkey"))
