"""Plan-shape regression tests (SURVEY.md §4.3 target plan).

These pin the *physical* properties the 100 TB design depends on:
- flagship = scan -> ONE exchange -> MapInPandas (no hidden shuffles)
- column pruning reaches the parquet scan (narrow ReadSchema)
- small dimension joins broadcast instead of shuffling
"""

import pytest
from pyspark.sql import functions as F

from historicaldatadocumentparsersystem_spark import fixtures, pipeline
from plan_checks import (
    count_data_exchanges, count_exchanges, has_broadcast_join,
    physical_plan, scan_read_schemas)

SF = "/root/testdata/sf0.001"


def _q(name):
    """Query callable by name from the driver+extras union — plan pins
    must survive driver-window rotations (which list a query is in is
    a verification-budget decision, not a plan property)."""
    import __spark_entry__ as entrymod
    return {**entrymod.queries(), **entrymod.extra_queries()}[name]


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "docs")
    fixtures.corpus_df(spark, 50, num_partitions=2).withColumn(
        "decoy", F.lit("wide-column-that-must-be-pruned")
    ).write.parquet(path)
    return path


def test_flagship_single_exchange(spark, docs_parquet):
    src = spark.read.parquet(docs_parquet)
    df = pipeline.extract_df(src, num_buckets=8)
    plan = physical_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "MapInPandas" in plan
    assert "hashpartitioning(xxhash64(url" in plan


def test_flagship_scan_prunes_columns(spark, docs_parquet):
    src = spark.read.parquet(docs_parquet)
    schemas = scan_read_schemas(pipeline.extract_df(src, num_buckets=8))
    assert len(schemas) == 1
    assert "decoy" not in schemas[0], schemas[0]
    for col in ("url", "html", "text", "lang", "warc_ts"):
        assert col in schemas[0]


def test_filter_pushdown_reaches_scan(spark, docs_parquet):
    src = spark.read.parquet(docs_parquet)
    narrow = src.where(F.col("lang") == "en").select("url", "lang")
    plan = physical_plan(narrow)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    schemas = scan_read_schemas(narrow)
    assert "html" not in schemas[0]  # binary column pruned


def test_segment_revenue_broadcasts_dimension(spark):
    import __spark_entry__ as entrymod
    df = _q("segment_revenue")(spark, SF)
    assert has_broadcast_join(df), physical_plan(df)


def test_topk_is_single_shuffle(spark):
    import __spark_entry__ as entrymod
    df = _q("events_topk")(spark, SF)
    # one hash-partition exchange for the window, nothing else
    assert count_exchanges(df) == 1, physical_plan(df)


def test_ann_broadcasts_query_side(spark):
    """The ANN joins must broadcast the (small) query side — a shuffled
    join of corpus x queries would move the corpus twice. For lsh_topk
    the join must be a HASH join on the (t, sig) bucket key: the
    OR-of-signatures form compiles to BroadcastNestedLoopJoin, which
    tests every corpus row against every query — brute force wearing an
    LSH costume."""
    import __spark_entry__ as entrymod
    for name in ("cosine_topk", "lsh_topk"):
        df = _q(name)(spark, SF)
        assert has_broadcast_join(df), f"{name}: {physical_plan(df)}"
    plan = physical_plan(_q("lsh_topk")(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_near_dup_has_no_cartesian(spark):
    """The near-dup candidate join must be an equi-join on
    (table, signature) buckets — the O(n^2) all-pairs form would show
    up as a cartesian / nested-loop with only the id range condition."""
    import __spark_entry__ as entrymod
    df = _q("embedding_near_dup")(spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the bucket keys drive the join — any equi-keyed join form is fine
    # (tiny input broadcasts; at scale AQE picks sort-merge/shuffled-hash)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_lineage_read_partition_prunes(spark, docs_parquet, tmp_path_factory):
    """Partition-pruned bucket reads: ``read_extracted_parts`` must
    carry part_id as a PartitionFilter — at 100 TB an audit of some
    buckets scans ONLY those, never the whole extracted table."""
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    cat = Catalog(str(tmp_path_factory.mktemp("lincat")))
    src = spark.read.parquet(docs_parquet)
    cat.write_extracted(pipeline.extract_df(src, num_buckets=8))
    got = cat.read_extracted_parts(spark, [0, 1])
    plan = physical_plan(got)
    assert "PartitionFilters" in plan, plan
    tail = plan.split("PartitionFilters", 1)[1][:200]
    assert "part_id" in tail, plan
    assert set(r.part_id for r in got.select("part_id")
               .distinct().collect()) <= {0, 1}


def test_tfidf_broadcasts_document_frequency(spark):
    """The vocabulary-sized df table must broadcast to the token
    stream (corpus-sized side never shuffles for the join)."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.read.parquet(SF + "/documents.parquet")
    plan = physical_plan(webtext.tfidf_top_terms(df, k=3))
    assert "BroadcastHashJoin" in plan, plan


def test_zorder_key_is_map_only_over_scan(spark):
    """The Morton key is a projection: the corpus-sized events side
    must NOT shuffle — the only exchange under the key computation is
    the 1-row min/max aggregate riding in as a broadcast (the tfidf
    totals pattern), and the key math stays in codegen."""
    df = _q("zorder_layout")(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row stats ride
    # exactly ONE shuffle exchange: the 1-row min/max reduction. The
    # corpus side itself must never shuffle for a key that is pure
    # row-local arithmetic.
    assert count_exchanges(df) == 1, plan
    # key math must not fall back to Python: no Arrow/Python eval node
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_chunking_single_exchange(spark):
    """A4 fold (both counters): ONE keyed (url) exchange feeding the
    sorted mapInPandas fold — no hidden second keyed shuffle (the
    input-spreading round-robin over the single-split scan is exempt;
    it is the identity at real scale)."""
    import __spark_entry__ as entrymod
    for name in ("chunk_token_budget",):
        df = _q(name)(spark, SF)
        assert count_data_exchanges(df) == 1, f"{name}: {physical_plan(df)}"
    df = _q("chunk_token_budget_bpe")(spark, SF)
    assert count_data_exchanges(df) == 1, physical_plan(df)


def test_lang_id_trigram_is_one_map_stage(spark):
    """r6: trigram language ID is a single map stage — scan, JVM
    normalization projection, one Python batch stage. NO exchange, NO
    join: the r5 shape (per-position substr explode + broadcast join
    + window) paid an O(sample^2) UTF8String walk per doc and a
    corpus-sized shuffle of hit rows."""
    df = _q("lang_id_trigram")(spark, SF)
    plan = physical_plan(df)
    assert count_data_exchanges(df) == 0, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_line_dedup_no_cartesian(spark):
    """Line-frequency removal is an equi-join on the line hash — a
    cartesian or nested-loop join would be the scale-killer."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.read.parquet(SF + "/documents.parquet")
    plan = physical_plan(webtext.line_dedup(df))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_span_removal_no_nested_loop(spark):
    """Span dedup must stay equi-join shaped end-to-end: the dup-hash
    set joins back on gh, coverage anti-joins on (id, pos) — a nested-
    loop or cartesian anywhere means the hashing bought nothing."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = physical_plan(webtext.duplicate_span_removal(docs))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_iteration_joins_are_hash_joins(spark):
    """Each PageRank iteration is rank⋈edges + groupBy. The only
    nested-loop allowed is the 1-row broadcast host-count crossJoin
    (the lazy-N pattern shared with tfidf/unigram_logppl); every
    KEYED join — rank-to-edges on src_host, incoming on host — must
    be a hash join, and nothing may be a cartesian product."""
    import re
    from historicaldatadocumentparsersystem_spark.operators import linkgraph
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")],
        "src_host string, dst_host string")
    plan = physical_plan(linkgraph.pagerank_hosts(edges, iters=2))
    assert "CartesianProduct" not in plan, plan
    # keyed joins resolve to hash joins (either side/strategy is fine)
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                     plan), plan
    # any BNLJ present must be a cross (1-row count), never a keyed join
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        assert m.group(2) in ("Cross", "Inner"), plan


def test_iterative_plans_stay_bounded(spark):
    """Iterative operators must localCheckpoint their cross-iteration
    carrier: left lazy, every 1-row normalizer/aggregate re-nests the
    FULL previous-iteration DAG and the logical plan grows
    exponentially in iterations (host_hits measured 89 s at sf0.1 and
    OOMed the driver on plan stringification alone — round 4). Pin:
    the final physical plan's size must grow at most mildly with the
    iteration count, and never past an absolute ceiling a sane plan
    would not approach. persist() would NOT pass this test — it
    caches blocks but keeps the nested plan."""
    from historicaldatadocumentparsersystem_spark.operators import (
        clustering, linkgraph)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src_host string, dst_host string")
    seeds = spark.createDataFrame([("a",)], "host string")
    for fn in (linkgraph.pagerank_hosts, linkgraph.hits_hosts,
               lambda e, iters: linkgraph.trustrank_hosts(
                   e, seeds, iters=iters)):
        small = len(physical_plan(fn(edges, iters=1)))
        big = len(physical_plan(fn(edges, iters=4)))
        # exponential nesting gives big/small in the thousands; the
        # checkpointed form keeps the last iteration's constant shape
        assert big < 3 * small + 10_000, (fn, small, big)
        assert big < 100_000, (fn, big)
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    plan = physical_plan(clustering.semantic_dedup(emb, k=4, n_iter=2))
    # the k x dim literal-centroid assignment must appear as the
    # checkpointed scan, not be re-inlined per reference
    assert len(plan) < 100_000, len(plan)
    # round-4 iterative additions hold the same discipline:
    # pagination stitching (frontier carrier) and BPE training
    # (vocab carrier) checkpoint per round
    from historicaldatadocumentparsersystem_spark.operators import (
        bpetrain, pagemeta)
    pages = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}" if i % 3 != 2 else None, f"t{i}")
         for i in range(9)],
        "url string, rel_next string, body_text string")
    small = len(physical_plan(
        pagemeta.stitch_pagination(pages, max_pages=2)))
    big = len(physical_plan(
        pagemeta.stitch_pagination(pages, max_pages=8)))
    assert big < 3 * small + 10_000, ("stitch", small, big)
    docs = spark.createDataFrame(
        [("aa ab the the cat",), ("the cat sat on ab",)], "text string")
    small = len(physical_plan(
        bpetrain.learn_bpe_merges(docs, n_merges=1)))
    big = len(physical_plan(
        bpetrain.learn_bpe_merges(docs, n_merges=6)))
    assert big < 3 * small + 10_000, ("bpetrain", small, big)


def test_host_boilerplate_joins_are_keyed(spark):
    """Per-host template removal must stay equi-join shaped on
    (host, lh): composite-key frequency join + anti-join — a nested
    loop anywhere means a hot host degenerates to all-pairs."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = physical_plan(webtext.host_boilerplate_strip(
        docs, host_col="source", line_words=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_crawl_delta_is_one_keyed_join(spark):
    """Snapshot delta = ONE full-outer equi-join on url between two
    narrow hash projections; page text must never reach the join."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    docs = spark.read.parquet(SF + "/documents.parquet").withColumn(
        "url", F.concat(F.lit("u"), F.col("doc_id")))
    old = docs.where(F.col("doc_id") % 2 == 0)
    plan = physical_plan(webtext.crawl_delta(old, docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    import re
    assert len(re.findall(r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|"
                          r"BroadcastHashJoin)", plan, re.M)) == 1, plan


def test_bm25_broadcasts_stats_sides(spark):
    """BM25's df table and 1-row corpus stats ride in as broadcasts;
    the only BNLJ allowed is the 1-row stats crossJoin (the lazy-N
    pattern shared with tfidf/unigram_logppl); the term join must be
    a hash join and nothing may be a cartesian."""
    import re
    from historicaldatadocumentparsersystem_spark.operators import webtext
    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = physical_plan(webtext.bm25_scores(
        docs, ["spark", "join", "window"]))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        assert m.group(2) in ("Cross", "Inner"), plan



def test_kmeans_assignment_is_pure_projection(spark):
    """The returned assignment plan must contain NO join and NO
    exchange: centroids ride as literals, so assignment is a scan +
    projection (whole-stage codegen) — the shape that keeps Lloyd's
    per-iteration cost at one narrow (cluster, dim) shuffle, which
    happens inside the iteration jobs, not in the output plan."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    asg = clustering.kmeans_assign(emb, k=4, n_iter=1)
    plan = physical_plan(asg)
    assert "Join" not in plan, plan
    assert count_data_exchanges(asg) == 0, plan


def test_semantic_dedup_pair_join_is_keyed(spark):
    """SemDeDup's quadratic step must be an EQUI-join on cluster id
    (plus the lower-id anti/left join) — a cartesian or BNLJ means the
    cell scoping bought nothing."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    plan = physical_plan(clustering.semantic_dedup(emb, k=4, n_iter=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_corpus_side_joins_are_broadcast(spark):
    """DSIR's bucket log-ratio table (<= n_buckets rows) must reach the
    corpus stream as a broadcast hash join; the only BNLJ allowed is
    the two 1-row totals crossJoins (the lazy-N pattern); nothing may
    be a cartesian of row data."""
    import re
    from historicaldatadocumentparsersystem_spark.operators import webtext
    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = physical_plan(webtext.dsir_weights(
        docs.where(F.col("doc_id") % 11 != 0),
        docs.where(F.col("doc_id") % 11 == 0)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        assert m.group(2) in ("Cross", "Inner"), plan


def test_packing_plans(spark):
    """Greedy packing = ONE shard exchange + mapInPandas fold (the
    chunking shape); the concatenation manifest is pure window
    arithmetic — one exchange, zero Python stages."""
    from historicaldatadocumentparsersystem_spark.operators import packing
    docs = spark.read.parquet(SF + "/documents.parquet")
    greedy = packing.sequence_pack_greedy(docs, seq_len=64, n_shards=8)
    plan = physical_plan(greedy)
    assert count_exchanges(greedy) == 1, plan
    assert "MapInPandas" in plan
    offs = packing.sequence_pack_offsets(docs, seq_len=64, n_shards=8)
    plan = physical_plan(offs)
    assert count_exchanges(offs) == 1, plan
    assert "Window" in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_incremental_probe_is_hash_equi_join(spark):
    """The store probe must be a hash equi-join on (band, bucket) —
    never a nested loop — and the store side must NOT recompute
    signatures (its scan carries the at-rest columns only)."""
    from historicaldatadocumentparsersystem_spark.operators import incremental
    docs = spark.read.parquet(SF + "/documents.parquet")
    store = incremental.minhash_band_table(
        docs.where(F.col("doc_id") < 50), n=2)
    pairs, _ = incremental.incremental_minhash_pairs(
        docs.where(F.col("doc_id") >= 50), store, n=2, threshold=0.0)
    plan = physical_plan(pairs)
    assert "NestedLoop" not in plan, plan
    assert "hashpartitioning(band" in plan or "BroadcastHashJoin" in plan, plan


def test_cdx_fetch_plan_pushes_gate_to_scan(spark, tmp_path_factory):
    """The status/mime gate must reach the capture-index parquet scan
    (PushedFilters), and the dedup is exactly ONE exchange (the
    digest groupBy) — at 100 TB of WARC the index scan is the only
    thing allowed to grow."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    path = str(tmp_path_factory.mktemp("cdx") / "idx")
    spark.createDataFrame(
        [("k", None, "u", "text/html", 200, "D", 10, 0, "f")],
        "urlkey string, ts timestamp, url string, mime string, "
        "status int, digest string, length long, offset long, "
        "filename string").write.parquet(path)
    plan = physical_plan(webtext.cdx_fetch_plan(spark.read.parquet(path)))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "status" in pushed[0] and "mime" in pushed[0]
    assert plan.count("(1) Scan parquet") == 1
    import re
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)) == 1


def test_frontier_anti_join_is_hash_not_cartesian(spark):
    """frontier_candidates must anti-join on the urlkey hash — never
    BroadcastNestedLoopJoin/Cartesian (that would test every
    discovered URL against every capture)."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    disc = spark.createDataFrame(
        [("https://a.com/x", "daily", 1)],
        "loc string, changefreq string, priority_bp int")
    cap = spark.createDataFrame([("k",)], "urlkey string")
    plan = physical_plan(webtext.frontier_candidates(disc, cap))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantized_topk_scan_side_carries_int8_only(spark):
    """The quantized candidate stage must not drag the float vectors
    through the ranking: the corpus-side columns feeding the score
    are the int8 array + scale (the 4x IO win); the float embedding
    is joined back only for the k winners."""
    from historicaldatadocumentparsersystem_spark.operators import (
        similarity)
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = physical_plan(similarity.quantized_topk(df, queries, k=2))
    # winners rerank joins broadcast (query vectors + corpus rows by id)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_broadcast_plan_bounded(spark):
    """Above LITERAL_K_MAX the assignment must be a broadcast-join
    plan whose SIZE is O(1) in k — no k x dim literal tree (the r4
    verdict's one perf_weak item). Pins: a broadcast on the centroid
    side, no cartesian re-shuffle of the big side, and the k=128 plan
    string not materially larger than the k=8 literal plan."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    plan_small = physical_plan(clustering.kmeans_assign(
        emb, k=8, n_iter=1))
    plan_big = physical_plan(clustering.kmeans_assign(
        emb, k=128, n_iter=1, centroid_strategy="broadcast"))
    assert "BroadcastExchange" in plan_big, plan_big
    assert "CartesianProduct" not in plan_big, plan_big
    # literal path grows with k; broadcast path must not
    assert len(plan_big) < max(4 * len(plan_small), 20_000), (
        len(plan_big), len(plan_small))
