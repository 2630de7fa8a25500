"""Embedding search: exact and approximate top-k, k-means, SemDeDup."""

from pyspark.sql import functions as F

from ..operators import clustering, similarity
from . import _flit, _t, query


_EMB_PLANES, _EMB_TABLES = 4, 6  # near-dup LSH config (query + oracle)


def _sig_sql(vec: str, planes: list[list[float]]) -> str:
    """DuckDB twin of similarity.hyperplane_signature: sign bits of
    dot(vec, plane_i) packed into a bigint, with the plane constants
    inlined as double literals (same values the Spark side uses) and
    the same left fold order (0.0-init aggregate == list_reduce)."""
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(_flit(p) for p in plane) + "]"
        d = (f"list_reduce(list_transform(generate_series(1, {len(plane)}),"
             f" i -> {vec}[i]::double * ({arr})[i]::double),"
             f" (x, y) -> x + y)")
        terms.append(f"(CASE WHEN {d} > 0 THEN {2 ** i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::bigint"


def _cos_sql(u: str, v: str) -> str:
    """cosine(u, v) with the exact fold order the Spark side uses
    (aggregate starting at 0.0 == list_reduce first-element init,
    IEEE-identical for these inputs)."""
    d = (f"list_reduce(list_transform(generate_series(1, len({u})), "
         f"i -> {u}[i]::double * {v}[i]::double), (x, y) -> x + y)")
    nu = (f"sqrt(list_reduce(list_transform({u}, z -> z::double * "
          f"z::double), (x, y) -> x + y))")
    nv = (f"sqrt(list_reduce(list_transform({v}, z -> z::double * "
          f"z::double), (x, y) -> x + y))")
    return f"(({d}) / ({nu} * {nv}))"


def _near_dup_oracle() -> str:
    """DuckDB twin of similarity.embedding_near_dup_lsh: same plane
    constants, same per-(table, signature) candidate equi-join, same
    rounded-cosine threshold."""
    tables = [similarity.make_planes(64, _EMB_PLANES, 42 + t)
              for t in range(_EMB_TABLES)]
    sig_rows = "\n              UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS t, {_sig_sql('e', planes)} AS sig FROM c"
        for t, planes in enumerate(tables))
    return f"""
            WITH c AS (SELECT vec_id, embedding AS e FROM embeddings
                       WHERE vec_id < 500),
            sigs AS (
              {sig_rows}
            ),
            cand AS (
              SELECT DISTINCT s1.vec_id AS id_a, s2.vec_id AS id_b
              FROM sigs s1 JOIN sigs s2
                ON s1.t = s2.t AND s1.sig = s2.sig
               AND s1.vec_id < s2.vec_id
            )
            SELECT id_a, id_b, round({_cos_sql('a.e', 'b.e')}, 6) AS cos_sim
            FROM cand JOIN c a ON a.vec_id = cand.id_a
                      JOIN c b ON b.vec_id = cand.id_b
            WHERE round({_cos_sql('a.e', 'b.e')}, 6) >= 0.35"""


# k-means / SemDeDup config (query + oracle share these)
_KMEANS_K, _KMEANS_ITER, _KMEANS_DIM = 8, 2, 64
_SEMDEDUP_THR = 0.35


def _kmeans_ctes(k: int, n_iter: int, dim: int) -> str:
    """DuckDB twin of clustering.kmeans_assign as an unrolled CTE
    chain ending in ``fin(vec_id, cid, dist)``: c0 = first-k-by-id
    init, each iteration = argmin assignment (row_number ORDER BY
    dist, cid == Spark's array_min + first array_position) + the
    DECIMAL(20,9) fixed-point per-dimension mean (identical 9-dp
    double both engines); empty clusters keep the previous centroid."""
    d = (f"list_reduce(list_transform(generate_series(1, {dim}), "
         "i -> (m.e[i] - c.c[i]) * (m.e[i] - c.c[i])), "
         "(x, y) -> x + y)")
    parts = [
        "emb AS (SELECT vec_id, list_transform(embedding, x -> x::double)"
        " AS e FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,"
        f" e AS c FROM emb ORDER BY vec_id LIMIT {k})",
    ]
    for t in range(1, n_iter + 1):
        parts.append(f"""a{t} AS (
              SELECT vec_id, cid FROM (
                SELECT m.vec_id, c.cid,
                       row_number() OVER (PARTITION BY m.vec_id
                                          ORDER BY {d}, c.cid) AS rk
                FROM emb m CROSS JOIN c{t - 1} c) WHERE rk = 1)""")
        parts.append(f"""s{t} AS (
              SELECT a.cid, u.i,
                     round(sum(round(m.e[u.i], 9)::decimal(20,9))::double
                           / count(*), 9)::decimal(20,9)::double AS mm
              FROM a{t} a JOIN emb m USING (vec_id),
                   unnest(generate_series(1, {dim})) AS u(i)
              GROUP BY a.cid, u.i)""")
        parts.append(f"""c{t} AS (
              SELECT cid, list(mm ORDER BY i) AS c FROM s{t} GROUP BY cid
              UNION ALL
              SELECT cid, c FROM c{t - 1}
              WHERE cid NOT IN (SELECT cid FROM s{t}))""")
    parts.append(f"""fin AS (
              SELECT vec_id, cid, dist FROM (
                SELECT m.vec_id, c.cid, {d} AS dist,
                       row_number() OVER (PARTITION BY m.vec_id
                                          ORDER BY {d}, c.cid) AS rk
                FROM emb m CROSS JOIN c{n_iter} c) WHERE rk = 1)""")
    return "WITH " + ",\n            ".join(parts)


def _lsh_topk_oracle() -> str:
    """DuckDB twin of similarity.lsh_topk (k=5, 8 planes x 2 tables,
    queries vec_id < 5): candidates share a bucket in ANY table."""
    t0 = similarity.make_planes(64, 8, 42)
    t1 = similarity.make_planes(64, 8, 43)
    return f"""
            WITH c AS (SELECT vec_id, embedding AS e FROM embeddings),
            cs AS (SELECT vec_id, e, {_sig_sql('e', t0)} AS sig0,
                          {_sig_sql('e', t1)} AS sig1 FROM c),
            qs AS (SELECT vec_id AS query_id, e AS qe, sig0, sig1
                   FROM cs WHERE vec_id < 5),
            j AS (
              SELECT qs.query_id, cs.vec_id AS neighbor_id,
                     round({_cos_sql('cs.e', 'qs.qe')}, 6) AS cos_sim
              FROM cs JOIN qs
                ON (cs.sig0 = qs.sig0 OR cs.sig1 = qs.sig1)
               AND cs.vec_id <> qs.query_id)
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM j QUALIFY rk <= 5"""


_DOT = ("list_reduce(list_transform(generate_series(1, len(a.e)), "
        "i -> a.e[i]::double * b.e[i]::double), (x, y) -> x + y)")

_NRM = ("sqrt(list_reduce(list_transform({v}, z -> z::double * "
        "z::double), (x, y) -> x + y))")

_COS = (f"({_DOT}) / "
        f"({_NRM.format(v='a.e')} * {_NRM.format(v='b.e')})")


# --- similarity search (J3/W2 analogs) — SQL-checked
@query("cosine_topk", oracle=lambda: f"""
            WITH c AS (SELECT vec_id, embedding AS e FROM embeddings),
            j AS (
              SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                     round({_COS}, 6) AS cos_sim
              FROM c a JOIN c b ON b.vec_id < 5 AND a.vec_id <> b.vec_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM j
            QUALIFY rk <= 5""")
def q_ann(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"),
                          "embedding"))
    return similarity.brute_force_topk(emb, queries_df, k=5)


# J3 with metadata pre-filter ($in) before the distance top-k
# (pg_vector_db.py:158-172 filter builder + ORDER BY LIMIT k)
@query("cosine_topk_filtered", oracle=lambda: f"""
            WITH c AS (SELECT vec_id, embedding AS e FROM embeddings
                       WHERE label IN (1, 3, 5, 7)),
            q AS (SELECT vec_id, embedding AS e FROM embeddings
                  WHERE vec_id < 3),
            j AS (
              SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                     round({_COS}, 6) AS cos_sim
              FROM c a JOIN q b ON a.vec_id <> b.vec_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM j
            QUALIFY rk <= 4""")
def q_ann_filtered(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("label").isin(1, 3, 5, 7))
    queries_df = (emb.where(F.col("vec_id") < 3)
                  .select(F.col("vec_id").alias("query_id"),
                          "embedding"))
    return similarity.brute_force_topk(corpus, queries_df, k=4)


@query("l2_topk", oracle=lambda: """
            WITH q AS (SELECT embedding AS qe FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   round(sqrt(list_reduce(list_transform(
                     generate_series(1, len(embedding)),
                     i -> (embedding[i]::double - qe[i]::double)
                        * (embedding[i]::double - qe[i]::double)),
                     (x, y) -> x + y)), 6) AS l2_dist
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY l2_dist ASC, vec_id ASC LIMIT 10""")
def q_l2(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q0 = emb.where(F.col("vec_id") == 0) \
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qe"))
    return (emb.crossJoin(F.broadcast(q0))
            .where(F.col("vec_id") != F.col("query_id"))
            .select("vec_id",
                    F.round(similarity.l2_distance("embedding", "qe"), 6)
                    .alias("l2_dist"))
            .orderBy(F.asc("l2_dist"), F.asc("vec_id")).limit(10))


# --- deterministic Lloyd k-means over embeddings — SQL-checked
# (unrolled-CTE twin; decimal fixed-point centroid means)
# Lloyd k-means: unrolled-CTE iteration twin (_kmeans_ctes);
# assignment tie-break ORDER BY dist, cid == array_min + first
# array_position; centroid means fixed-pointed to decimal(20,9)
@query("kmeans_clusters", oracle=lambda: f"""
            {_kmeans_ctes(_KMEANS_K, _KMEANS_ITER, _KMEANS_DIM)}
            SELECT vec_id, cid AS cluster,
                   round(sqrt(dist), 6) AS l2_dist
            FROM fin""")
def q_kmeans(spark, sf_dir):
    return clustering.kmeans_assign(
        _t(spark, sf_dir, "embeddings"),
        k=_KMEANS_K, n_iter=_KMEANS_ITER)


# --- SemDeDup: within-cluster cosine near-dup removal — SQL-checked
# SemDeDup: same kmeans chain; a vector is dropped when a
# lower-id member of its cluster has rounded cosine >= thr
@query("semantic_dedup", oracle=lambda: f"""
            {_kmeans_ctes(_KMEANS_K, _KMEANS_ITER, _KMEANS_DIM)},
            dup AS (
              SELECT DISTINCT b.vec_id
              FROM fin a JOIN fin b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              JOIN emb ea ON ea.vec_id = a.vec_id
              JOIN emb eb ON eb.vec_id = b.vec_id
              WHERE round({_cos_sql('ea.e', 'eb.e')}, 6)
                    >= {_flit(_SEMDEDUP_THR)})
            SELECT f.vec_id, f.cid AS cluster,
                   (d.vec_id IS NULL) AS kept
            FROM fin f LEFT JOIN dup d USING (vec_id)""")
def q_semdedup(spark, sf_dir):
    return clustering.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        k=_KMEANS_K, n_iter=_KMEANS_ITER, threshold=_SEMDEDUP_THR)


# --- int8-quantized ANN: integer-score ranking (bit-exact) +
# float-cosine rerank of the winners — SQL-checked
@query("quantized_topk", oracle=lambda: f"""
            WITH c AS (SELECT vec_id, embedding AS e FROM embeddings),
            sq AS (
              SELECT vec_id, e,
                     greatest(floor(list_max(list_transform(e,
                       x -> abs(x::double))) * 1000000.0)::bigint,
                       1) AS s_micro
              FROM c
            ), qc AS (
              SELECT vec_id, s_micro,
                     list_transform(e, x -> floor(x::double
                       * 127000000.0 / s_micro::double + 0.5)::int)
                       AS q
              FROM sq
            ), qq AS (
              SELECT vec_id AS query_id, q AS qv FROM qc
              WHERE vec_id < 5
            ), cand AS (
              SELECT qq.query_id, qc.vec_id AS neighbor_id,
                     (list_sum(list_transform(
                        generate_series(1, len(qc.q)),
                        i -> (qc.q[i] * qq.qv[i])::bigint))
                      * qc.s_micro)::bigint AS score_q
              FROM qc JOIN qq ON qc.vec_id <> qq.query_id
            ), topk AS (
              SELECT query_id, neighbor_id, score_q,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score_q DESC, neighbor_id ASC) AS rk
              FROM cand QUALIFY rk <= 5
            )
            SELECT t.query_id, t.neighbor_id, t.score_q, t.rk,
                   round({_COS}, 6) AS cos_sim
            FROM topk t
            JOIN c a ON a.vec_id = t.neighbor_id
            JOIN c b ON b.vec_id = t.query_id""")
def q_qtopk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"),
                          "embedding"))
    return similarity.quantized_topk(emb, queries_df, k=5)


# --- embedding-cosine near-dup (training-data dedup) — SQL-checked;
# LSH-bucketed candidates (equi-join per (table, signature) bucket;
# no all-pairs cartesian anywhere in the plan — see test_plans.py).
# The id bound keeps bench wall-time flat across sf.
@query("embedding_near_dup", oracle=_near_dup_oracle)
def q_embdup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    return similarity.embedding_near_dup_lsh(
        emb, threshold=0.35, dim=64, n_planes=_EMB_PLANES,
        n_tables=_EMB_TABLES, seed=42)


# --- LSH-bucketed ANN top-k (scale path, portable signatures) —
# SQL-checked: the oracle embeds the same hyperplane constants
@query("lsh_topk", oracle=_lsh_topk_oracle)
def q_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"),
                          "embedding"))
    return similarity.lsh_topk(emb, queries_df, k=5, dim=64,
                               n_planes=8, n_tables=2, seed=42)


# --- IVF-bucketed ANN (scale path) — SQL-checked
@query("ivf_topk", oracle=lambda: f"""
            WITH c AS (SELECT vec_id, embedding AS e FROM embeddings),
            cents AS (
              SELECT vec_id AS cent_id, e AS cent_vec FROM c
              ORDER BY vec_id LIMIT 16),
            assigned AS (
              SELECT vec_id, e, cent_id FROM (
                SELECT a.vec_id, a.e, cents.cent_id,
                       row_number() OVER (PARTITION BY a.vec_id
                         ORDER BY {_cos_sql('a.e', 'cents.cent_vec')} DESC,
                                  cents.cent_id ASC) AS rc
                FROM c a CROSS JOIN cents)
              WHERE rc = 1),
            probes AS (
              SELECT query_id, qe, cent_id FROM (
                SELECT b.vec_id AS query_id, b.e AS qe, cents.cent_id,
                       row_number() OVER (PARTITION BY b.vec_id
                         ORDER BY {_cos_sql('b.e', 'cents.cent_vec')} DESC,
                                  cents.cent_id ASC) AS rq
                FROM c b CROSS JOIN cents WHERE b.vec_id < 5)
              WHERE rq <= 2),
            j AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     round({_cos_sql('a.e', 'p.qe')}, 6) AS cos_sim
              FROM assigned a JOIN probes p USING (cent_id)
              WHERE a.vec_id <> p.query_id)
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM j QUALIFY rk <= 5""")
def q_ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"),
                          "embedding"))
    return similarity.ivf_topk(emb, queries_df, k=5, n_centroids=16,
                               n_probe=2)
