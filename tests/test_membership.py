"""Portable Bloom filter: contract tests (no false negatives, merge
associativity, FP rate sanity, plan shape)."""

from pyspark.sql import functions as F

from historicaldatadocumentparsersystem_spark.operators import membership

M, K = 1 << 14, 4


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"))


def test_no_false_negatives_and_bounded_fp(spark):
    seen = _keys(spark, 0, 500)
    bloom = membership.bloom_build(seen, "url", m_bits=M, k=K)
    probe = _keys(spark, 0, 1000)
    got = {r["doc_id"]: r["might_contain"] for r in
           membership.bloom_might_contain(
               probe, bloom, "url", "doc_id", m_bits=M, k=K).collect()}
    assert all(got[i] == 1 for i in range(500))          # no false negs
    fps = sum(got[i] for i in range(500, 1000))
    # 500 keys in 2^14 bits with k=4 -> theoretical FP ~ (1-e^-kn/m)^k
    # ~ 1.1e-4; allow a generous margin
    assert fps <= 5, fps


def test_filter_merge_is_union_bitor(spark):
    """Two crawls' filters merged by union+bit_or == filter of union —
    the at-rest incremental-crawl contract."""
    a = membership.bloom_build(_keys(spark, 0, 100), "url", m_bits=M, k=K)
    b = membership.bloom_build(_keys(spark, 100, 200), "url",
                               m_bits=M, k=K)
    merged = (a.union(b).groupBy("word_idx")
              .agg(F.bit_or("bits").alias("bits")))
    direct = membership.bloom_build(_keys(spark, 0, 200), "url",
                                    m_bits=M, k=K)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_probe_plan_is_equi_join(spark):
    from plan_checks import physical_plan
    bloom = membership.bloom_build(_keys(spark, 0, 50), "url",
                                   m_bits=M, k=K)
    df = membership.bloom_might_contain(
        _keys(spark, 0, 100), bloom, "url", "doc_id", m_bits=M, k=K)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
