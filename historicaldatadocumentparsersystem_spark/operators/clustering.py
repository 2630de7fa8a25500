"""Embedding clustering: deterministic Lloyd k-means + SemDeDup.

The semantic layer of the training-data dedup suite (SemDeDup, Abbas
et al. 2023, arXiv:2303.09540): cluster the corpus embeddings with
k-means, then drop all but one member of every within-cluster
near-duplicate group. Complements the syntactic dedup family in
``operators/dedup.py`` and the pairwise ``embedding_near_dup_*`` ops
in ``operators/similarity.py`` — those find textual / pairwise-cosine
duplicates; this one scopes the quadratic cosine step to k-means
cells so it never goes all-pairs. Reference analog: the J3 retrieval
join's vector column (``pg_vector_db.py:139-181``) supplies the
embeddings; clustering itself is a pipeline extension mandated by the
LLM-data-ops scope, not a reference port.

Determinism (the oracle contract):

- init: centroids are the first ``k`` vectors in id order (cid = rank).
- assignment: squared-L2 fold in element order, seed 0.0 — identical
  to DuckDB ``list_reduce`` (0.0 + x is exact); argmin keeps the
  LOWEST cid on exact ties (strict ``<`` fold == row_number
  ``ORDER BY dist, cid``).
- recompute: per-dimension component sums ride as DECIMAL(20,9)
  (``round(v, 9)::decimal`` fixed-point — associative, merge-order
  free), and the mean is forced back through ``decimal(20,9)`` so
  both engines land on the identical 9-dp double before the next
  iteration's distance math.
- empty clusters keep their previous centroid.

Scale: canonical distributed Lloyd — the data NEVER moves. Each
iteration is (a) one narrow shuffle on (cluster, dim) for the
partial-aggregated component sums and (b) a k x dim driver collect
(KBs) re-broadcast; assignment is a pure projection inside
whole-stage codegen for small k (literal centroids, zero joins), and
a BROADCAST centroid-table join above ``LITERAL_K_MAX`` — the
SemDeDup k ~ sqrt(N) regime where a multi-MB literal tree would
break analysis/codegen (r4 verdict watch item; both paths are
bit-identical and plan-pinned). The deliberate per-iteration driver
action is the same accepted pattern as
``dedup.connected_components`` — iterative algorithms are the one
place a tiny driver-side fixpoint is the scalable design (Spark
MLlib's KMeans does exactly this).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _to_double, dot, norm


def _init_centroids(df: DataFrame, k: int, id_col: str,
                    vec_col: str) -> list[list[float]]:
    """First ``k`` vectors in id order — the deterministic seed both
    engines can reproduce (no RNG state to port)."""
    rows = (df.orderBy(id_col).limit(k)
            .select(_to_double(vec_col).alias("c")).collect())
    return [list(r["c"]) for r in rows]


def _best_cluster(cents: list[list[float]],
                  vec_col: str) -> tuple[Column, Column]:
    """(cid, squared_dist) of the nearest centroid: per-centroid
    squared L2 via the element-order fold; argmin = array_min + FIRST
    array_position, so exact-distance ties go to the lowest cid (the
    oracle's ``row_number() ORDER BY dist, cid`` rule).

    Each centroid rides as ONE array Literal (``F.lit(list)``), not an
    ``array(lit, lit, ...)`` tree of k x dim leaf nodes — same values,
    bit-identical fold (A/B-verified), but the plan stays compact as k
    grows (Catalyst re-analyzes these trees on every action)."""
    e = _to_double(vec_col)
    dists = F.array(*[
        F.aggregate(
            F.zip_with(e, F.lit([float(c) for c in v]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        for v in cents])
    best = F.array_min(dists)
    cid = (F.array_position(dists, best) - 1).cast("int")
    return cid, best


# Above this k the literal-projection plan stops being the right
# shape: a k x dim literal tree is re-analyzed by Catalyst per action
# and breaks codegen long before the driver collect hurts (r4 verdict
# watch item). The broadcast path takes over automatically.
LITERAL_K_MAX = 64


def _assign_broadcast(df: DataFrame, cents: list[list[float]],
                      id_col: str, vec_col: str) -> DataFrame:
    """Assignment via a BROADCAST centroid table instead of a literal
    projection — the k >~ sqrt(N) scale path (SemDeDup wants k in the
    10^4-10^5 range at corpus scale, where a multi-MB literal tree
    breaks analysis/codegen; a k x dim broadcast table is KBs-MBs and
    the plan stays O(1) in k).

    Bit-identity with ``_best_cluster``: the SAME zip_with/aggregate
    squared-L2 fold (element order, 0.0 seed) runs against the
    centroid COLUMN, and the argmin is min(struct(dist, cid)) —
    struct ordering compares dist first, then cid, so exact-distance
    ties keep the LOWEST cid exactly like array_position-of-first.

    Shape: crossJoin(broadcast(k rows)) expands to N x k candidate
    rows INSIDE the stage, and the min-struct groupBy partial-
    aggregates them back to N map-side — the only shuffle carries N
    rows. Returns (id_col, cluster, __d, __e)."""
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
        "cid int, cvec array<double>")
    e = _to_double(vec_col)
    d = F.aggregate(
        F.zip_with(F.col("__e"), F.col("cvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (df.select(F.col(id_col), e.alias("__e"))
            .crossJoin(F.broadcast(cdf))
            .select(F.col(id_col), "cid", "__e", d.alias("__d"))
            .groupBy(id_col)
            .agg(F.min(F.struct(
                F.col("__d").alias("d"), F.col("cid").alias("cid"),
                F.col("__e").alias("e"))).alias("b"))
            .select(F.col(id_col),
                    F.col("b.cid").alias("cluster"),
                    F.col("b.d").alias("__d"),
                    F.col("b.e").alias("__e")))


def _np_sqdists(V, C):
    """n x k squared-L2 distances with the EXACT fold arithmetic of
    ``_best_cluster`` / ``_assign_broadcast``: per centroid, one
    sequential pass over dimensions accumulating ``acc + (x-c)*(x-c)``
    — each numpy op is the same IEEE double op in the same order as
    the interpreted ``zip_with``/``aggregate`` fold, so the result is
    bit-identical (pinned by test_kmeans_arrow_path_bit_identical)."""
    import numpy as np
    n, dim = V.shape
    D = np.empty((n, C.shape[0]), dtype=np.float64)
    acc = np.empty(n, dtype=np.float64)
    for j in range(C.shape[0]):
        acc[:] = 0.0
        for d in range(dim):
            t = V[:, d] - C[j, d]
            acc += t * t
        D[:, j] = acc
    return D


def _assign_arrow(df: DataFrame, cents: list[list[float]],
                  id_col: str, vec_col: str) -> DataFrame:
    """Assignment computed batch-vectorized in numpy (guide §4.2: hand
    whole Arrow batches to native code instead of interpreting a k x
    dim expression fold per row — higher-order folds are interpreted,
    never codegen'd, and measured 3-4x of this query's wall at scale).

    Pure map: no join, no exchange, plan O(1) in k (the centroid
    matrix rides in the task closure — k x dim doubles, KBs-MBs).
    Bit-identity with the literal/broadcast paths: ``_np_sqdists``
    replays the exact fold; argmin = first-occurrence minimum == the
    lowest-cid tie rule; NaN distances rank greatest (Spark ordering)
    via an inf substitution. Returns (id_col, cluster, __d, __e)."""
    import numpy as np
    C = np.array([[float(x) for x in v] for v in cents],
                 dtype=np.float64)
    from .skew import spread_small_scan
    id_type = dict(df.dtypes)[id_col]
    schema = (f"{id_col} {id_type}, cluster int, "
              "__d double, __e array<double>")
    narrow = spread_small_scan(df.select(id_col, vec_col))

    def assign(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]], dtype=np.float64)
            D = _np_sqdists(V, C)
            # Spark's array_min ranks NaN greatest (returned only when
            # all entries are NaN); np.argmin would rank it smallest
            Dm = np.where(np.isnan(D), np.inf, D) if np.isnan(D).any() \
                else D
            cid = np.argmin(Dm, axis=1)
            best = D[np.arange(len(cid)), cid]
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                "cluster": cid.astype("int32"),
                "__d": best,
                "__e": list(V)})

    return narrow.mapInPandas(assign, schema)


def _round_halfup(x: float, places: str) -> float:
    """Spark ``round(double, n)``: HALF_UP over the shortest decimal
    repr (BigDecimal.valueOf semantics — the bm25-verified rule)."""
    return float(Decimal(repr(float(x)))
                 .quantize(Decimal(places), rounding=ROUND_HALF_UP))


def _np_round9_nano(V):
    """Exact ``round(v, 9)`` per element, returned as int64 nano
    units (the decimal(20,9) fixed point x 1e9). Fast path: |v|*1e9 +
    0.5 floored — exact whenever the fractional part is >1e-4 away
    from the .5 boundary (double error of v*1e9 is <~1e-5 for the
    |v| < 1e6 domain); boundary/huge elements replay the shortest-
    repr HALF_UP rule through Decimal. Pinned bit-identical to the
    Spark round+decimal cast by test_kmeans_arrow_path_bit_identical
    and test_round9_nano_matches_spark."""
    import numpy as np
    x = V * 1e9
    ax = np.abs(x)
    frac = ax - np.floor(ax)
    fast = (np.abs(frac - 0.5) > 1e-4) & (ax < 1e15)
    nano = np.floor(ax + 0.5)
    # only fast elements are cast: a huge one would not fit int64, and
    # the exact path below overwrites it (or raises OverflowError)
    out = np.where(fast, np.where(V >= 0, nano, -nano), 0).astype(np.int64)
    if not fast.all():
        for i, j in zip(*np.nonzero(~fast)):
            d = Decimal(repr(float(V[i, j]))).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP)
            out[i, j] = int(d.scaleb(9))
    return out


def _iter_means(df: DataFrame, cents: list[list[float]],
                id_col: str, vec_col: str) -> dict[int, list[float]]:
    """One Lloyd iteration's centroid means via sufficient statistics
    (guide §2.3: aggregate before you shuffle): the SAME numpy
    assignment as ``_assign_arrow`` runs per batch, but each task
    emits only per-(cluster, dim) int64 nano sums + counts — k x dim
    rows per task instead of N x dim exploded rows. The decimal
    arithmetic of the r5 posexplode aggregation is replayed exactly:
    nano sums ARE the decimal(20,9) fixed point, the driver finishes
    sum::double / count then the shortest-repr HALF_UP round to 9dp
    (== round(..,9)::decimal(20,9)::double)."""
    import numpy as np
    C = np.array([[float(x) for x in v] for v in cents],
                 dtype=np.float64)

    def partials(batches):
        import numpy as np
        import pandas as pd
        sums: dict[int, object] = {}
        cnts: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]], dtype=np.float64)
            D = _np_sqdists(V, C)
            Dm = np.where(np.isnan(D), np.inf, D) if np.isnan(D).any() \
                else D
            cid = np.argmin(Dm, axis=1)
            nano = _np_round9_nano(V)
            for cl in np.unique(cid):
                mask = cid == cl
                s = nano[mask].sum(axis=0, dtype=np.int64)
                if int(cl) in sums:
                    sums[int(cl)] = sums[int(cl)] + s
                    cnts[int(cl)] += int(mask.sum())
                else:
                    sums[int(cl)] = s
                    cnts[int(cl)] = int(mask.sum())
        rows = []
        for cl, s in sums.items():
            for pos, v in enumerate(s.tolist()):
                rows.append((cl, pos, v, cnts[cl]))
        if rows:
            yield pd.DataFrame(rows,
                               columns=["cluster", "pos", "nano", "cnt"])

    from .skew import spread_small_scan
    parts = spread_small_scan(df.select(vec_col)).mapInPandas(
        partials, "cluster int, pos int, nano long, cnt long")
    rows = (parts.groupBy("cluster", "pos")
            .agg(F.sum(F.col("nano").cast("decimal(38,0)")).alias("s"),
                 F.sum("cnt").alias("n"))
            .collect())
    acc: dict[int, dict[int, float]] = {}
    for r in rows:
        s_double = float(Decimal(int(r["s"])).scaleb(-9))
        acc.setdefault(r["cluster"], {})[r["pos"]] = \
            _round_halfup(s_double / r["n"], "1e-9")
    return {c: [v[i] for i in range(len(v))] for c, v in acc.items()}


def kmeans_assign(df: DataFrame, k: int = 8, n_iter: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  carry_vec: bool = False,
                  centroid_strategy: str = "auto") -> DataFrame:
    """Lloyd k-means over an embedding column; returns one row per
    vector: (id_col, cluster, l2_dist) with l2_dist = round(sqrt of
    the squared distance to the final centroid, 6).

    ``n_iter`` is a FIXED iteration count (not convergence-tested) so
    the unrolled-CTE DuckDB oracle is finite; production callers pick
    n_iter high enough for their corpus and the result is still
    deterministic.

    ``carry_vec=True`` appends the raw ``vec_col`` to the output — the
    assignment is a pure projection, so carrying the vector is free
    and lets downstream consumers (``semantic_dedup``) skip an N-row
    join back to the source table.

    ``centroid_strategy``: 'arrow' (numpy-vectorized pure map — the
    default via 'auto'; plan O(1) in k, no join/exchange, native-code
    distance math per guide §4.2), 'literal' (JVM interpreted-fold
    projection, the pre-r6 small-k path), or 'broadcast' (centroid-
    table broadcast join, the pre-r6 large-k path). All three run the
    identical fold arithmetic and tie rule — outputs are bit-identical
    (pinned by tests/test_operators.py::
    test_kmeans_broadcast_path_bit_identical and
    test_kmeans_arrow_path_bit_identical).
    """
    assert centroid_strategy in ("auto", "arrow", "literal", "broadcast")
    cents = _init_centroids(df, k, id_col, vec_col)
    kk = len(cents)
    use_arrow = centroid_strategy in ("auto", "arrow")
    use_bcast = (centroid_strategy == "broadcast"
                 or (centroid_strategy == "auto"
                     and kk > LITERAL_K_MAX))

    def assigned(cs):
        if use_arrow:
            return _assign_arrow(df, cs, id_col, vec_col)
        if use_bcast:
            return _assign_broadcast(df, cs, id_col, vec_col)
        cid, d = _best_cluster(cs, vec_col)
        return df.select(F.col(id_col), cid.alias("cluster"),
                         d.alias("__d"),
                         _to_double(vec_col).alias("__e"))

    for _ in range(n_iter):
        if use_arrow:
            # sufficient-statistics path: k x dim int64 partials per
            # task, decimal math finished driver-side (_iter_means) —
            # bit-identical to the posexplode aggregation below and
            # ~2.3 s/iteration cheaper at sf1.0 (N x dim exploded
            # rows never exist)
            new = _iter_means(df, cents, id_col, vec_col)
            cents = [new.get(i, cents[i]) for i in range(kk)]
            continue
        staged = assigned(cents).select("cluster", "__e")
        # ONE (cluster, pos) aggregation, k x dim rows collected and
        # assembled driver-side — the old second groupBy (collect_list
        # + array_sort per cluster) was a full extra shuffle+agg round
        # per iteration for pure array packaging (A/B: 0.6 -> 0.06 s
        # warm at sf0.1, values bit-identical)
        means = (staged.select("cluster",
                               F.posexplode("__e").alias("pos", "v"))
                 .groupBy("cluster", "pos")
                 .agg(F.round(F.sum(F.round("v", 9).cast("decimal(20,9)"))
                              .cast("double") / F.count("*"), 9)
                      .cast("decimal(20,9)").cast("double").alias("m"))
                 .collect())
        acc: dict[int, dict[int, float]] = {}
        for r in means:
            acc.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        new = {c: [v[i] for i in range(len(v))]
               for c, v in acc.items()}
        cents = [new.get(i, cents[i]) for i in range(kk)]
    if use_arrow or use_bcast:
        fin = (_assign_arrow if use_arrow else _assign_broadcast)(
            df, cents, id_col, vec_col)
        cols = [F.col(id_col), F.col("cluster"),
                F.round(F.sqrt("__d"), 6).alias("l2_dist")]
        if carry_vec:
            cols.append(F.col("__e").alias(vec_col))
        return fin.select(*cols)
    # literal path: the final assignment stays a PURE projection on
    # df (zero shuffles, carry_vec rides for free)
    cid, dist = _best_cluster(cents, vec_col)
    cols = [F.col(id_col), cid.alias("cluster"),
            F.round(F.sqrt(dist), 6).alias("l2_dist")]
    if carry_vec:
        cols.append(F.col(vec_col))
    return df.select(*cols)


def _round6_halfup(x: float) -> float:
    return _round_halfup(x, "1e-6")


def _cos_pass_floor(threshold: float) -> float:
    """Smallest double x with round6(x) >= threshold. round6 is
    monotone, so the pair predicate ``round(cos, 6) >= threshold`` is
    exactly ``cos >= floor`` — found once by double bisection."""
    lo, hi = threshold - 1.0, threshold + 1.0
    assert _round6_halfup(hi) >= threshold > _round6_halfup(lo)
    while True:
        mid = (lo + hi) / 2.0
        if mid <= lo or mid >= hi:
            return hi
        if _round6_halfup(mid) >= threshold:
            hi = mid
        else:
            lo = mid


def _pair_passes_exact(a, b, threshold: float) -> bool:
    """Boundary fallback: replay the Spark pair predicate op-for-op —
    sequential-fold dot and norms, one division, shortest-repr HALF_UP
    round, NaN compares greatest (Spark SQL ordering)."""
    al, bl = a.tolist(), b.tolist()
    d = 0.0
    for x, y in zip(al, bl):
        d = d + x * y
    na = 0.0
    for x in al:
        na = na + x * x
    nb = 0.0
    for y in bl:
        nb = nb + y * y
    cos = d / (math.sqrt(na) * math.sqrt(nb))
    if math.isnan(cos):
        return True
    return _round6_halfup(cos) >= threshold


# |cos_blas - cos_seqfold|: both are within dim * 2^-52 * (sum|a_d b_d|
# / (na*nb)) <= dim * 2^-52 ~ 1.4e-14 of the true value (Cauchy-
# Schwarz bounds every partial sum), so 1e-9 is a ~3e4 safety margin;
# pairs inside the band are replayed exactly by _pair_passes_exact.
_COS_EPS = 1e-9


def _cell_kept(ids, V, floor: float, threshold: float):
    """kept flags for one k-means cell: a row is dropped when a
    strictly-lower-id row of the same cell has round6(cos) >=
    threshold. BLAS gram blocks decide all pairs outside a +-_COS_EPS
    band around the decision floor; band pairs (and NaN cosines, which
    Spark ranks greatest) replay the exact fold."""
    import numpy as np
    order = np.argsort(ids, kind="stable")
    sids = ids[order]
    SV = V[order]
    n = len(sids)
    norms = np.sqrt((SV * SV).sum(axis=1))
    dup = np.zeros(n, dtype=bool)
    blk = max(1, min(n, (1 << 22) // max(n, 1)))  # <=32 MB per gram block
    for j0 in range(0, n, blk):
        j1 = min(n, j0 + blk)
        cos = (SV @ SV[j0:j1].T) / np.outer(norms, norms[j0:j1])
        # candidate (i, j): strictly lower id — sorted, so id_i <
        # id_j iff the ids differ (equal ids never pair)
        lower = sids[:, None] < sids[None, j0:j1]
        passed = lower & (cos > floor + _COS_EPS)
        uncertain = lower & ~passed & (
            np.isnan(cos) | (np.abs(cos - floor) <= _COS_EPS))
        for i, j in zip(*np.nonzero(uncertain)):
            if _pair_passes_exact(SV[i], SV[j0 + j], threshold):
                passed[i, j] = True
        dup[j0:j1] |= passed.any(axis=0)
    kept = np.empty(n, dtype=bool)
    kept[order] = ~dup
    return kept


def semantic_dedup(df: DataFrame, k: int = 8, n_iter: int = 2,
                   threshold: float = 0.35, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroid_strategy: str = "auto") -> DataFrame:
    """SemDeDup: k-means cells scope the cosine near-dup step — a
    vector is dropped when a LOWER-id member of its own cluster has
    rounded cosine >= ``threshold``. Returns (id_col, cluster, kept).

    Scale (r6 shape): ONE exchange total — the assignment (pure numpy
    map) shuffles once on cluster id, cells arrive contiguous after a
    partition-local sort, and a mapInPandas stage computes each cell's
    kept flags with blocked BLAS gram products (guide §4.2/§8: decide
    with native batch math, move rows once). The r5 shape — a JVM
    self-join materializing every within-cell pair through an
    interpreted dim-wise fold — measured 493 s at sf1.0 (~N^2/k pairs
    x interpreted fold); this computes the same predicate bit-for-bit
    (pinned by test_semantic_dedup_vectorized_matches_pairjoin) in
    ~2 s. At corpus scale k grows with N (SemDeDup uses ~sqrt(N)
    cells) so the per-cell quadratic stays bounded; a pathologically
    hot cell is the LSH sub-bucketing case
    (``embedding_near_dup_lsh``), not an excuse for all-pairs.
    """
    m = kmeans_assign(df, k, n_iter, id_col, vec_col, carry_vec=True,
                      centroid_strategy=centroid_strategy) \
        .select(F.col(id_col), "cluster", F.col(vec_col))
    id_type = dict(m.dtypes)[id_col]
    floor = _cos_pass_floor(threshold)
    schema = f"{id_col} {id_type}, cluster int, kept boolean"

    def cell_kept(batches):
        import numpy as np
        import pandas as pd
        cur = None
        ids_buf: list = []
        vec_buf: list = []
        done = set()

        def flush():
            ids = np.concatenate(ids_buf)
            V = np.array([v for chunk in vec_buf for v in chunk],
                         dtype=np.float64)
            kept = _cell_kept(ids, V, floor, threshold)
            return pd.DataFrame({
                id_col: ids,
                "cluster": np.full(len(ids), cur, dtype="int32"),
                "kept": kept})

        for pdf in batches:
            if not len(pdf):
                continue
            for cl, grp in pdf.groupby("cluster", sort=False):
                cl = int(cl)
                if cur is not None and cl != cur:
                    yield flush()
                    done.add(cur)
                    ids_buf, vec_buf = [], []
                if cl in done:       # sortWithinPartitions guarantee
                    raise RuntimeError(f"cluster {cl} not contiguous")
                cur = cl
                ids_buf.append(grp[id_col].values)
                vec_buf.append([np.asarray(v, dtype=np.float64)
                                for v in grp[vec_col]])
        if cur is not None and ids_buf:
            yield flush()

    return (m.repartition(F.col("cluster"))
            .sortWithinPartitions("cluster")
            .mapInPandas(cell_kept, schema))


def _semantic_dedup_pairjoin(df: DataFrame, k: int = 8, n_iter: int = 2,
                             threshold: float = 0.35,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """The r5 JVM pair-join implementation, kept as the A/B reference
    for test_semantic_dedup_vectorized_matches_pairjoin (bit-identity
    of the vectorized cell path is proven against THIS)."""
    m = (kmeans_assign(df, k, n_iter, id_col, vec_col, carry_vec=True,
                       centroid_strategy="literal")
         .select(F.col(id_col), "cluster", F.col(vec_col))
         .withColumn("__norm", norm(vec_col))
         .localCheckpoint())
    a, b = m.alias("a"), m.alias("b")
    dups = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .where(F.round(dot(F.col(f"a.{vec_col}"),
                               F.col(f"b.{vec_col}"))
                           / (F.col("a.__norm") * F.col("b.__norm")), 6)
                   >= threshold)
            .select(F.col(f"b.{id_col}").alias(id_col)).distinct()
            .withColumn("__dup", F.lit(True)))
    return (m.select(F.col(id_col), "cluster")
            .join(dups, id_col, "left")
            .select(F.col(id_col), "cluster",
                    F.col("__dup").isNull().alias("kept")))
