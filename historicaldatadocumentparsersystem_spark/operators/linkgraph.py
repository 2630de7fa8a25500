"""Link-graph operators: outlink table, integer PageRank.

Common Crawl ships a host-level web graph + rank alongside the text
corpus because curation wants graph priors (seed lists, spam demotion,
crawl frontier ordering). These are those operators, Spark-first:

- ``extract_links_df``: documents -> (url, link_pos, href, anchor)
  via an Arrow-batched mapInPandas over the Spark-free extractor
  (``extractor/linkx.py`` — the same oracle pattern as the flagship
  extraction stage: byte-identity with the golden parquet is
  structural because the UDF calls the oracle's own functions).
- ``pagerank_hosts``: fixed-iteration PageRank over an edge table in
  PURE INT64 fixed-point (micro-rank units, truncating division via
  SQL ``div``), so Spark and the DuckDB oracle agree bit-for-bit —
  no float reassociation anywhere. Production at float precision is
  the same plan with the casts removed.

Scale: links explode ~50x rows but only (url, href, anchor) columns.
Each PageRank iteration is one equi-join ranks-to-edges on src_host +
one groupBy on dst_host — the standard Spark PageRank shape; the rank
table is |hosts| rows (millions, not trillions) so iterations never
touch document data. ``localCheckpoint`` every few rounds would
truncate lineage for deep iteration counts (the connected_components
move); at the default 3 iterations the plan stays shallow enough
to leave lazy, which keeps the whole query oracle-checkable.
"""
from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from ..extractor import linkx
from .webtext import url_host

LINKS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("link_pos", IntegerType(), False),
    StructField("href", StringType(), False),
    StructField("anchor", StringType(), False),
])

PAGERANK_SCALE = 10 ** 12   # 1.0 of rank mass, in rank-micro units
DAMPING_PCT = 85            # 0.85 as an integer percentage
HITS_SCALE = 10 ** 6        # 1.0 of hub/auth mass (int64-safe rescale)


def extract_links_df(docs: DataFrame) -> DataFrame:
    """documents (url, html, ...) -> one row per navigable outlink.

    Narrow select first so column pruning reaches the scan; 1->N rows
    per document (F5 contract: malformed pages yield fewer links,
    never fail the task).
    """
    import pandas as pd

    def batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            urls = pdf["url"].tolist()
            payloads = pdf["html"].tolist()
            out_url, out_pos, out_href, out_anchor = [], [], [], []
            for u, payload in zip(urls, payloads):
                if not payload:
                    continue
                for pos, href, anchor in linkx.extract_links(payload, u):
                    out_url.append(u)
                    out_pos.append(pos)
                    out_href.append(href)
                    out_anchor.append(anchor)
            yield pd.DataFrame({"url": out_url, "link_pos": out_pos,
                                "href": out_href, "anchor": out_anchor})

    return (docs.select("url", "html")
            .mapInPandas(batch, LINKS_SCHEMA))


def pagerank_hosts(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-point integer PageRank over (src_host, dst_host) edges.

    rank_0 = SCALE div n  per host;  each iteration:
        contrib(e)   = rank(src) div out_deg(src)           (int64)
        dangling     = sum of rank over hosts w/o outlinks  (1 row)
        rank'(host)  = (SCALE * (100-d)) div (100 * n)
                     + (d * (sum incoming contrib
                             + dangling div n)) div 100     (int64)
    Truncating division on non-negative int64 is identical in Spark
    (``div``) and DuckDB (``//``), so the whole computation is
    bit-exact across engines — the property the correctness gate
    needs; production would run the same joins on doubles. Dangling
    hosts (no outlinks) redistribute their mass uniformly each round
    (the standard correction) instead of leaking it, so total rank
    stays SCALE up to integer-truncation dust; the dangling sum is a
    1-row aggregate broadcast into the update — no extra shuffle of
    the rank table.

    Returns (host, rank_micro) with sum(rank) == SCALE - O(truncation).
    """
    # the three iteration-invariant tables are re-read every round;
    # persist them so each iteration recomputes neither the distinct
    # nor the degree aggregate (|hosts|-row tables — cheap to cache)
    e = (edges.select("src_host", "dst_host").distinct()
         .persist())
    hosts = (e.select(F.col("src_host").alias("host"))
             .union(e.select(F.col("dst_host").alias("host")))
             .distinct().persist())
    n1 = hosts.agg(F.count("*").alias("__n_hosts"))
    out_deg = e.groupBy("src_host").agg(
        F.count("*").cast("long").alias("out_deg")).persist()
    base = F.expr(f"({PAGERANK_SCALE}::long * {100 - DAMPING_PCT}) "
                  f"div (100 * __n_hosts)")
    ranks = (hosts.crossJoin(F.broadcast(n1))
             .select("host", "__n_hosts",
                     F.expr(f"{PAGERANK_SCALE}::long div __n_hosts")
                     .alias("rank_micro")))
    for it in range(iters):
        # localCheckpoint each iteration's rank table: the dangling
        # aggregate and the contribution join BOTH read it, and the
        # lazy chain nests the full previous-iteration DAG per
        # consumer — plan SIZE (not just compute) grows exponentially
        # in iters. persist() is not enough: it caches blocks but
        # keeps the logical plan, and plan-tree stringification alone
        # OOMs the driver at sf0.1. Checkpoint truncates lineage to a
        # scan of the materialized |hosts|-row table.
        ranks = ranks.localCheckpoint()
        contrib = (e.join(ranks.withColumnRenamed("host", "src_host"),
                          "src_host")
                   .join(out_deg, "src_host")
                   .select(F.col("dst_host").alias("host"),
                           F.expr("rank_micro div out_deg")
                           .alias("contrib")))
        incoming = contrib.groupBy("host").agg(
            F.sum("contrib").cast("long").alias("in_sum"))
        dang = (ranks.join(out_deg.withColumnRenamed("src_host", "host"),
                           "host", "left_anti")
                .agg(F.coalesce(F.sum("rank_micro"), F.lit(0))
                     .cast("long").alias("__dang")))
        ranks = (hosts.crossJoin(F.broadcast(n1))
                 .crossJoin(F.broadcast(dang))
                 .join(incoming, "host", "left")
                 .select("host", "__n_hosts",
                         (base + F.expr(
                             f"({DAMPING_PCT} * (coalesce(in_sum, 0::long)"
                             f" + __dang div __n_hosts)) div 100"))
                         .alias("rank_micro")))
    return ranks.select("host", F.col("rank_micro").cast("long")
                        .alias("rank_micro"))


def trustrank_hosts(edges: DataFrame, seeds: DataFrame,
                    iters: int = 3) -> DataFrame:
    """Fixed-point integer TrustRank (Gyongyi et al. 2004): PageRank
    with the teleport vector restricted to a TRUSTED seed set — trust
    flows out of curated hosts along links, so link-spam farms (which
    good hosts don't link to) score near zero even when their own
    interlinking would inflate plain PageRank. The crawl-side spam
    demotion signal.

    Same int64 floor-division machinery as ``pagerank_hosts`` (bit-
    exact across engines), same dangling handling — except both the
    teleport base and the dangling redistribution go ONLY to seeds:

        rank_0(host)  = seed ? SCALE div n_seeds : 0
        rank'(host)   = (seed ? (SCALE*(100-d)) div (100*n_seeds) : 0)
                      + (d * (in_sum
                              + (seed ? dang div n_seeds : 0))) div 100

    ``seeds`` is a (host) DataFrame (tiny — curated lists are
    thousands of rows at web scale: broadcast). Scale notes of
    pagerank_hosts apply: invariant tables persisted, rank carrier
    localCheckpointed per iteration (bounded plans).
    """
    e = edges.select("src_host", "dst_host").distinct().persist()
    hosts = (e.select(F.col("src_host").alias("host"))
             .union(e.select(F.col("dst_host").alias("host")))
             .distinct())
    hs = (hosts.join(F.broadcast(seeds.select("host").distinct()
                                 .withColumn("__seed", F.lit(True))),
                     "host", "left")
          .select("host", F.coalesce("__seed", F.lit(False))
                  .alias("is_seed"))
          .persist())
    ns = hs.where("is_seed").agg(F.count("*").alias("__n_seeds"))
    out_deg = e.groupBy("src_host").agg(
        F.count("*").cast("long").alias("out_deg")).persist()
    base = F.expr(
        f"CASE WHEN is_seed THEN ({PAGERANK_SCALE}::long * "
        f"{100 - DAMPING_PCT}) div (100 * __n_seeds) ELSE 0::long END")
    ranks = (hs.crossJoin(F.broadcast(ns))
             .select("host", "is_seed", "__n_seeds",
                     F.expr(f"CASE WHEN is_seed THEN "
                            f"{PAGERANK_SCALE}::long div __n_seeds "
                            f"ELSE 0::long END").alias("rank_micro")))
    for _ in range(iters):
        ranks = ranks.localCheckpoint()
        contrib = (e.join(ranks.select(F.col("host").alias("src_host"),
                                       "rank_micro"), "src_host")
                   .join(out_deg, "src_host")
                   .select(F.col("dst_host").alias("host"),
                           F.expr("rank_micro div out_deg")
                           .alias("contrib")))
        incoming = contrib.groupBy("host").agg(
            F.sum("contrib").cast("long").alias("in_sum"))
        dang = (ranks.join(out_deg.withColumnRenamed("src_host", "host"),
                           "host", "left_anti")
                .agg(F.coalesce(F.sum("rank_micro"), F.lit(0))
                     .cast("long").alias("__dang")))
        ranks = (hs.crossJoin(F.broadcast(ns))
                 .crossJoin(F.broadcast(dang))
                 .join(incoming, "host", "left")
                 .select("host", "is_seed", "__n_seeds",
                         (base + F.expr(
                             f"({DAMPING_PCT} * (coalesce(in_sum, "
                             f"0::long) + CASE WHEN is_seed THEN "
                             f"__dang div __n_seeds ELSE 0::long END))"
                             f" div 100")).alias("rank_micro")))
    return ranks.select("host", "is_seed",
                        F.col("rank_micro").cast("long")
                        .alias("trust_micro"))


def anchor_text_terms(links: DataFrame, k: int = 3,
                      by_host: bool = True) -> DataFrame:
    """Top-k anchor-text terms per link target — the classic IR signal
    (anchor text describes the TARGET better than the target's own
    page; search and quality pipelines aggregate it corpus-wide).

    Targets are dst hosts (``by_host``) or exact hrefs. Ties break by
    term ascending on equal counts so the DuckDB twin sorts identical
    keys. Returns (target, term, n, rk).

    Scale: one explode over anchor tokens -> one (target, term)
    groupBy (map-side combinable) -> top-k window partitioned by
    target (bounded: distinct terms pointing at one target; the
    row_number cuts it to k). Same shape as tfidf_top_terms.
    """
    from pyspark.sql import Window

    from .textstats import tokens
    target = (url_host("href") if by_host else F.col("href")).alias(
        "target")
    tok = (links.select(target, F.explode(tokens("anchor")).alias("t"))
           .where(F.col("target") != "")
           .select("target", F.lower("t").alias("term")))
    counts = tok.groupBy("target", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("target").orderBy(F.desc("n"), F.asc("term"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))


def hits_hosts(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999) over (src_host,
    dst_host) edges — the hub/authority complement of
    ``pagerank_hosts``: directories and link farms score as hubs,
    heavily-cited content hosts as authorities; curation pipelines use
    LOW authority + HIGH hub as a spam-host signal PageRank alone
    misses (rank flows through farms, authority does not).

    Per iteration (standard order, L1-normalized to ``SCALE``):
        auth_raw(v) = sum of hub(u) over edges u->v
        auth(v)     = auth_raw(v) * SCALE div sum(auth_raw)
        hub_raw(u)  = sum of auth(v) over edges u->v
        hub(u)      = hub_raw(u) * SCALE div sum(hub_raw)
    All int64 truncating division (Spark ``div`` == DuckDB ``//`` on
    non-negatives) -> bit-exact twin. SCALE is ``HITS_SCALE`` = 1e6
    (not the 1e12 PageRank scale): auth_raw(v) <= SCALE because hub
    mass totals SCALE, so the rescale product stays <= 1e12 — safely
    inside int64. An edgeless graph side yields all-zero scores
    (no 0-div).

    Returns (host, hub_micro, auth_micro).

    Scale: same shape as pagerank_hosts — iteration-invariant edge and
    host tables persisted once; each iteration is two hash joins + two
    map-side-combinable groupBys + two 1-row broadcast normalizers.
    """
    scale = HITS_SCALE
    e = edges.select("src_host", "dst_host").distinct().persist()
    hosts = (e.select(F.col("src_host").alias("host"))
             .union(e.select(F.col("dst_host").alias("host")))
             .distinct().persist())
    n1 = hosts.agg(F.count("*").alias("__n"))
    hub = (hosts.crossJoin(F.broadcast(n1))
           .select("host", F.expr(f"{scale}::long div __n")
                   .alias("hub_micro")))
    auth = hub.select("host", F.lit(0).cast("long").alias("auth_micro"))

    def _normalize(raw: DataFrame, raw_col: str, out_col: str) -> DataFrame:
        tot = raw.agg(F.sum(raw_col).cast("long").alias("__t"))
        return (hosts.join(raw, "host", "left")
                .crossJoin(F.broadcast(tot))
                .select("host", F.when(
                    F.col("__t") > 0,
                    F.expr(f"(coalesce({raw_col}, 0::long)"
                           f" * {scale}::long) div __t"))
                    .otherwise(F.lit(0)).cast("long").alias(out_col)))

    for _ in range(iters):
        # ONE localCheckpoint per iteration, on the cross-iteration
        # carrier (hub): left fully lazy, every consumer re-nests the
        # entire previous DAG and the PLAN TREE blows up
        # combinatorially in iters (measured 89 s at sf0.1 for 3
        # iterations — the 1-row totals were re-running the whole
        # chain, and plan stringification alone OOMed the driver).
        # persist() alone does not help (it caches blocks but keeps
        # the nested logical plan); checkpoint truncates lineage to a
        # scan of the materialized |hosts|-row table. The in-iteration
        # tables stay lazily persisted — their plans are bounded
        # (≤4 levels above the checkpointed carrier) and the persist
        # makes each total's broadcast job and the main join compute
        # them once, not twice. One eager job per iteration keeps the
        # fixed scheduling overhead at the PageRank level.
        a_raw = (e.join(hub.withColumnRenamed("host", "src_host"),
                        "src_host")
                 .groupBy(F.col("dst_host").alias("host"))
                 .agg(F.sum("hub_micro").cast("long").alias("a_raw"))
                 .persist())
        auth = _normalize(a_raw, "a_raw", "auth_micro").persist()
        h_raw = (e.join(auth.withColumnRenamed("host", "dst_host"),
                        "dst_host")
                 .groupBy(F.col("src_host").alias("host"))
                 .agg(F.sum("auth_micro").cast("long").alias("h_raw"))
                 .persist())
        hub = _normalize(h_raw, "h_raw", "hub_micro").localCheckpoint()
    return hub.join(auth, "host").select(
        "host", "hub_micro", "auth_micro")
