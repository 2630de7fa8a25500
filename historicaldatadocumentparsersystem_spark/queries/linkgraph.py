"""The link graph: outlinks, anchor text, PageRank, HITS, TrustRank."""

from pyspark.sql import functions as F

from .. import fixtures
from ..operators import linkgraph
from . import _GOLDEN_LINKS, _t, query


# shared synthetic host-graph derivation (ring edges off documents),
# used by the PageRank and HITS oracle twins
_HOSTGRAPH_SQL = """h AS (
          SELECT source, row_number() OVER (ORDER BY source) - 1 AS r
          FROM (SELECT DISTINCT source FROM documents)
        ), nn AS (SELECT count(*)::bigint AS n FROM h),
        e AS (
          SELECT DISTINCT h1.source AS src_host, h2.source AS dst_host
          FROM documents dd
          JOIN h h1 ON dd.source = h1.source
          CROSS JOIN nn
          JOIN h h2 ON h2.r =
            (h1.r + 1 + (dd.doc_id * 31) % (nn.n - 1)) % nn.n
          WHERE dd.doc_id % 17 = 0
        ),
        hosts AS (SELECT src_host AS host FROM e
                  UNION SELECT dst_host FROM e)"""


def _hits_sql(iters: int) -> str:
    """DuckDB twin of the host_hits query: same derived host graph,
    ``iters`` HITS rounds unrolled as chained CTEs — L1 rescale to
    HITS_SCALE in pure int64 floor division (// == Spark div)."""
    scale = linkgraph.HITS_SCALE
    ctes = [f"""
        WITH {{_HOSTGRAPH_SQL}},
        h0 AS (SELECT host, {scale} // nn.n AS hub_micro
               FROM hosts CROSS JOIN nn)"""]
    prev = "h0"
    for k in range(1, iters + 1):
        ctes.append(f"""
        ar{k} AS (
          SELECT e.dst_host AS host, sum(p.hub_micro)::bigint AS raw
          FROM e JOIN {prev} p ON e.src_host = p.host
          GROUP BY e.dst_host),
        at{k} AS (SELECT sum(raw)::bigint AS t FROM ar{k}),
        a{k} AS (
          SELECT hosts.host,
                 (CASE WHEN t > 0
                  THEN (coalesce(raw, 0) * {scale}) // t
                  ELSE 0 END)::bigint AS auth_micro
          FROM hosts CROSS JOIN at{k}
          LEFT JOIN ar{k} ON hosts.host = ar{k}.host),
        hr{k} AS (
          SELECT e.src_host AS host, sum(a.auth_micro)::bigint AS raw
          FROM e JOIN a{k} a ON e.dst_host = a.host
          GROUP BY e.src_host),
        ht{k} AS (SELECT sum(raw)::bigint AS t FROM hr{k}),
        h{k} AS (
          SELECT hosts.host,
                 (CASE WHEN t > 0
                  THEN (coalesce(raw, 0) * {scale}) // t
                  ELSE 0 END)::bigint AS hub_micro
          FROM hosts CROSS JOIN ht{k}
          LEFT JOIN hr{k} ON hosts.host = hr{k}.host)""")
        prev = f"h{k}"
    body = ",".join(ctes) + f"""
        SELECT h{iters}.host AS host,
               hub_micro::bigint AS hub_micro,
               auth_micro::bigint AS auth_micro
        FROM h{iters} JOIN a{iters} USING (host)"""
    return body.replace("{_HOSTGRAPH_SQL}", _HOSTGRAPH_SQL)


def _pagerank_sql(iters: int) -> str:
    """DuckDB twin of the host_pagerank query: derive the deterministic
    ring edge table from documents, then unroll ``iters`` PageRank
    iterations as chained CTEs in pure int64 floor division (``//`` ==
    Spark ``div`` on non-negative values). Dangling mass (rank held by
    hosts with no outlinks) is summed per round and redistributed
    uniformly, mirroring linkgraph.pagerank_hosts term-for-term."""
    scale, d = linkgraph.PAGERANK_SCALE, linkgraph.DAMPING_PCT
    ctes = [f"""
        WITH {_HOSTGRAPH_SQL},
        od AS (SELECT src_host, count(*)::bigint AS out_deg
               FROM e GROUP BY src_host),
        r0 AS (SELECT host, {scale} // nn.n AS rank_micro
               FROM hosts CROSS JOIN nn)"""]
    prev = "r0"
    for k in range(1, iters + 1):
        ctes.append(f"""
        i{k} AS (
          SELECT e.dst_host AS host,
                 sum({prev}.rank_micro // od.out_deg)::bigint AS in_sum
          FROM e JOIN {prev} ON e.src_host = {prev}.host
                 JOIN od ON e.src_host = od.src_host
          GROUP BY e.dst_host
        ),
        g{k} AS (
          SELECT coalesce(sum(rank_micro), 0)::bigint AS dang
          FROM {prev}
          WHERE {prev}.host NOT IN (SELECT src_host FROM od)
        ),
        r{k} AS (
          SELECT hosts.host,
                 ({scale} * {100 - d}) // (100 * nn.n)
                 + ({d} * (coalesce(i{k}.in_sum, 0)
                           + g{k}.dang // nn.n)) // 100 AS rank_micro
          FROM hosts CROSS JOIN nn CROSS JOIN g{k}
          LEFT JOIN i{k} ON hosts.host = i{k}.host
        )""")
        prev = f"r{k}"
    return (",".join(ctes)
            + f"\n        SELECT host, rank_micro::bigint AS rank_micro"
              f" FROM {prev}")


def _trustrank_sql(iters: int, n_seeds: int = 4) -> str:
    """DuckDB twin of the host_trustrank query: the _pagerank_sql
    unroll with teleport + dangling redistribution restricted to the
    seed set (lexicographically-smallest ``n_seeds`` hosts), mirroring
    linkgraph.trustrank_hosts term-for-term in int64 floor division."""
    scale, d = linkgraph.PAGERANK_SCALE, linkgraph.DAMPING_PCT
    ctes = [f"""
        WITH {_HOSTGRAPH_SQL},
        od AS (SELECT src_host, count(*)::bigint AS out_deg
               FROM e GROUP BY src_host),
        sd AS (SELECT host FROM hosts ORDER BY host LIMIT {n_seeds}),
        ns AS (SELECT count(*)::bigint AS n FROM sd),
        hs AS (SELECT hosts.host,
                      hosts.host IN (SELECT host FROM sd) AS is_seed
               FROM hosts),
        r0 AS (SELECT host, is_seed,
                      CASE WHEN is_seed THEN {scale} // ns.n
                           ELSE 0 END AS rank_micro
               FROM hs CROSS JOIN ns)"""]
    prev = "r0"
    for k in range(1, iters + 1):
        ctes.append(f"""
        i{k} AS (
          SELECT e.dst_host AS host,
                 sum({prev}.rank_micro // od.out_deg)::bigint AS in_sum
          FROM e JOIN {prev} ON e.src_host = {prev}.host
                 JOIN od ON e.src_host = od.src_host
          GROUP BY e.dst_host
        ),
        g{k} AS (
          SELECT coalesce(sum(rank_micro), 0)::bigint AS dang
          FROM {prev}
          WHERE {prev}.host NOT IN (SELECT src_host FROM od)
        ),
        r{k} AS (
          SELECT hs.host, hs.is_seed,
                 CASE WHEN hs.is_seed
                      THEN ({scale} * {100 - d}) // (100 * ns.n)
                      ELSE 0 END
                 + ({d} * (coalesce(i{k}.in_sum, 0)
                           + CASE WHEN hs.is_seed
                                  THEN g{k}.dang // ns.n
                                  ELSE 0 END)) // 100 AS rank_micro
          FROM hs CROSS JOIN ns CROSS JOIN g{k}
          LEFT JOIN i{k} ON hs.host = i{k}.host
        )""")
        prev = f"r{k}"
    return (",".join(ctes)
            + f"\n        SELECT host, is_seed,"
              f" rank_micro::bigint AS trust_micro FROM {prev}")


# --- host-level PageRank (integer fixed-point, 3 iterations) —
# SQL-checked bit-for-bit: the oracle unrolls the same iterations
# as chained CTEs; edges derive deterministically from the
# documents table (SPARSE ring: only doc_id % 17 == 0 docs emit an
# edge, offset by doc_id * 31, so in/out-degrees genuinely vary —
# a dense derivation yields the complete graph and uniform ranks)
# so the whole query is SQL-expressible
def _synth_host_edges(spark, sf_dir):
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    hosts = (docs.select("source").distinct()
             .withColumn("r", F.row_number().over(
                 Window.orderBy("source")) - 1))
    n1 = hosts.agg(F.count("*").alias("__n"))
    return (docs.select("doc_id", "source")
            .where(F.col("doc_id") % 17 == 0)
            .join(hosts, "source")
            .crossJoin(F.broadcast(n1))
            .select(F.col("source").alias("src_host"),
                    ((F.col("r") + 1 + (F.col("doc_id") * 31)
                      % (F.col("__n") - 1)) % F.col("__n"))
                    .alias("dst_r"))
            .join(hosts.select(F.col("source").alias("dst_host"),
                               F.col("r").alias("dst_r")), "dst_r")
            .select("src_host", "dst_host"))


# --- outlink extraction (link graph layer) — hash-checked against
# the committed golden links parquet (same oracle pattern as
# extract_corpus: the Spark UDF calls the Spark-free extractor)
# outlink extraction: oracle = committed golden links parquet
# (pure-Python linkx over the same seed-42 corpus; pinned by
# tests/test_links.py the same way test_golden pins extraction)
@query("extract_links", oracle=lambda: f"""
            SELECT url, link_pos, href, anchor
            FROM read_parquet('{_GOLDEN_LINKS}')
            ORDER BY url, link_pos""")
def q_links(spark, sf_dir):
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    return (linkgraph.extract_links_df(docs)
            .orderBy("url", "link_pos"))


# host PageRank: same derived ring edges, 3 iterations unrolled
# as chained CTEs, all int64 floor division — bit-exact twin
@query("host_pagerank", oracle=lambda: _pagerank_sql(3))
def q_pagerank(spark, sf_dir):
    return linkgraph.pagerank_hosts(
        _synth_host_edges(spark, sf_dir), iters=3)


# --- HITS hubs/authorities over the same derived host graph —
# SQL-checked (unrolled-CTE twin, int64 fixed point like PageRank)
# HITS hubs/authorities: same derived graph, unrolled rounds,
# int64 L1 rescale — bit-exact twin like PageRank
@query("host_hits", oracle=lambda: _hits_sql(3))
def q_hits(spark, sf_dir):
    return linkgraph.hits_hosts(
        _synth_host_edges(spark, sf_dir), iters=3)


# --- TrustRank (seed-biased teleport: the spam-demotion signal)
# over the same derived host graph — SQL-checked bit-for-bit like
# PageRank; seeds = 4 lexicographically-smallest hosts (a
# deterministic stand-in for a curated trust list)
# TrustRank: seed-restricted teleport, unrolled like PageRank
@query("host_trustrank", oracle=lambda: _trustrank_sql(3))
def q_trustrank(spark, sf_dir):
    edges = _synth_host_edges(spark, sf_dir)
    hosts = (edges.select(F.col("src_host").alias("host"))
             .union(edges.select(F.col("dst_host").alias("host")))
             .distinct())
    seeds = hosts.orderBy("host").limit(4)
    return linkgraph.trustrank_hosts(edges, seeds, iters=3)


# --- anchor-text aggregation per target host — SQL-checked over
# the committed golden links parquet on BOTH sides (link
# extraction==golden is proven by extract_links; this isolates the
# aggregation), same top-k tie rule as tfidf_top_terms
# anchor-text terms per dst host over the golden links table
@query("anchor_text_terms", oracle=lambda: f"""
            WITH l AS (
              SELECT lower(regexp_extract(href,
                       '^[^:/?#]+://([^/?#:@]+)', 1)) AS target,
                     anchor
              FROM read_parquet('{_GOLDEN_LINKS}')
            ), tok AS (
              SELECT target, lower(t) AS term
              FROM l, unnest(list_filter(regexp_split_to_array(
                     trim(anchor), '\\s+'), x -> x != '')) AS u(t)
              WHERE target != ''
            ), c AS (
              SELECT target, term, count(*) AS n
              FROM tok GROUP BY target, term
            )
            SELECT target, term, n,
                   row_number() OVER (PARTITION BY target
                     ORDER BY n DESC, term ASC) AS rk
            FROM c QUALIFY rk <= 3""")
def q_anchor(spark, sf_dir):
    links = spark.read.parquet(_GOLDEN_LINKS)
    return linkgraph.anchor_text_terms(links, k=3)
