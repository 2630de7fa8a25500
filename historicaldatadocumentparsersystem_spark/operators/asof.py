"""As-of join: for each left row, the latest right row at-or-before it.

Spark lacks a native as-of join; the scalable form avoids any range
self-join blowup: union both sides tagged, one window sorted by
(key, time, side-priority), carry the last right value forward with
last(..., ignorenulls=True), then keep left rows. One shuffle on the
key, O(n log n) per key group, no candidate explosion — the standard
big-data as-of pattern (vs. a theta-join that degenerates at scale).

Verified against DuckDB's native ASOF JOIN in the driver contract
(query ``asof_join`` in ``queries/relational.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, key: str, time_col: str,
              value_cols: list[str]) -> DataFrame:
    """left columns + ``asof_<v>`` for each v in value_cols, taken from
    the most recent right row with ``right.time_col <= left.time_col``
    within the same ``key``.

    Ties (equal timestamps) resolve to the right row (side priority 0
    sorts before the left row's 1) — ASOF JOIN ``>=`` semantics.

    Tie rule among RIGHT rows sharing (key, time): the row with the
    greatest value tuple wins (the window ordering ends with the value
    columns ascending, so ``last`` picks the largest). Without this
    the relative order of equal-time right rows would be whatever the
    shuffle produced — nondeterministic across runs/cluster sizes.
    """
    lcols = left.columns
    rtypes = dict(right.dtypes)
    ltypes = dict(left.dtypes)

    l_side = left.withColumn("_side", F.lit(1))
    for v in value_cols:
        l_side = l_side.withColumn(f"_rv_{v}",
                                   F.lit(None).cast(rtypes[v]))

    r_side = right.select(key, time_col,
                          *[F.col(v).alias(f"_rv_{v}")
                            for v in value_cols]) \
        .withColumn("_side", F.lit(0))
    for c in lcols:
        if c not in (key, time_col):
            r_side = r_side.withColumn(c, F.lit(None).cast(ltypes[c]))

    unioned = l_side.unionByName(r_side.select(l_side.columns))
    w = (Window.partitionBy(key)
         .orderBy(F.col(time_col).asc(), F.col("_side").asc(),
                  *[F.col(f"_rv_{v}").asc_nulls_first()
                    for v in value_cols])
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = unioned
    for v in value_cols:
        carried = carried.withColumn(
            f"asof_{v}", F.last(f"_rv_{v}", ignorenulls=True).over(w))
    return (carried.where(F.col("_side") == 1)
            .select(*lcols, *[f"asof_{v}" for v in value_cols]))
