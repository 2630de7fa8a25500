"""Spark pipeline vs single-process oracle: the BASELINE correctness gate.

``python -m pytest -x -q`` requires byte-identical extracted text per
url between the Spark job (mapInPandas over Arrow batches) and the
pure-Python oracle (input_hint invariant).
"""

import pytest

from historicaldatadocumentparsersystem_spark import fixtures, pipeline
from historicaldatadocumentparsersystem_spark.extractor import extract_document

N = 200


@pytest.fixture(scope="module")
def docs_df(spark):
    return fixtures.corpus_df(spark, N, num_partitions=8).cache()


@pytest.fixture(scope="module")
def extracted_rows(docs_df):
    return {r.url: r
            for r in pipeline.extract_df(docs_df, num_buckets=8).collect()}


def test_byte_identical_vs_oracle(extracted_rows):
    rows = fixtures.generate_rows(N)
    assert len(extracted_rows) == N
    for row in rows:
        oracle = extract_document(row["html"], row["text"])
        got = extracted_rows[row["url"]]
        assert got.extracted_text == oracle.extracted_text, row["url"]
        assert got.doc_kind == oracle.doc_kind
        assert got.title == oracle.title
        assert [(s.start, s.end, s.kind) for s in got.spans] == oracle.spans
        assert got.n_blocks == oracle.n_blocks
        assert got.score == pytest.approx(oracle.score)


def test_schema_and_kind_mix(extracted_rows):
    kinds = {r.doc_kind for r in extracted_rows.values()}
    assert kinds == {"html", "pdf", "empty"}
    sample = next(iter(extracted_rows.values()))
    assert set(sample.asDict()) == {
        "url", "warc_ts", "lang", "doc_kind", "title", "extracted_text",
        "spans", "n_blocks", "score", "failed", "bytes_in", "part_id"}


def test_part_id_stable(spark, docs_df):
    a = pipeline.with_part_id(docs_df, 16).select("url", "part_id")
    b = pipeline.with_part_id(docs_df, 16).select("url", "part_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.select("part_id").distinct().count() > 8


def test_run_extraction_and_lineage(spark, docs_df, tmp_path):
    out = str(tmp_path / "cat")
    stats = pipeline.run_extraction(spark, docs_df, out, run_id="r1",
                                    snapshot_id="s1", num_buckets=16)
    assert stats["rows_written"] == N
    assert stats["skipped_partitions"] == 0
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    cat = Catalog(out)
    lin = cat.read_lineage(spark)
    agg = lin.groupBy().sum("input_rows", "failed_rows", "bytes_in").first()
    assert agg["sum(input_rows)"] == N
    assert agg["sum(failed_rows)"] > 0  # truncated pdfs in the corpus
    assert agg["sum(bytes_in)"] > 0
    assert cat.done_partitions(spark, "s1") == set(
        r.part_id for r in cat.read_extracted(spark)
        .select("part_id").distinct().collect())


def test_new_snapshot_never_counts_foreign_rows(spark, docs_df, tmp_path):
    """A later snapshot whose input leaves some buckets empty must not
    credit those buckets with the PREVIOUS snapshot's rows (dynamic
    overwrite leaves untouched partitions on disk; lineage counts only
    the rows this run's write observed)."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog

    out = str(tmp_path / "cat")
    pipeline.run_extraction(spark, docs_df, out, run_id="r1",
                            snapshot_id="s1", num_buckets=8)
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    n_half = half.count()
    stats = pipeline.run_extraction(spark, half, out, run_id="r2",
                                    snapshot_id="s2", num_buckets=8)
    cat = Catalog(out)
    # s2 lineage counts exactly the s2 input — zero foreign rows
    assert stats["rows_written"] == n_half
    assert cat.snapshot_output_rows(spark, "s2") == n_half
    lin = cat.read_lineage(spark)
    s2 = lin.where(lin.snapshot_id == "s2")
    assert s2.agg(F.sum("input_rows")).first()[0] == n_half
    # buckets with no s2 input stay NOT done for s2 (retryable),
    # even though s1 rows still occupy those partitions on disk
    assert cat.done_partitions(spark, "s2") <= {0, 1, 2, 3}
    assert cat.done_partitions(spark, "s1") == set(range(8)) & set(
        r.part_id for r in cat.read_extracted(spark)
        .select("part_id").distinct().collect())


def test_exact_resume(spark, docs_df, tmp_path):
    """Pre-populate lineage with half the buckets done; run; assert only
    the other half processed and final contents == a clean full run
    (FIXTURES.md §3 exact-resume property)."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog

    # clean full run -> golden
    full_out = str(tmp_path / "full")
    pipeline.run_extraction(spark, docs_df, full_out, run_id="rf",
                            snapshot_id="s1", num_buckets=8)
    golden = sorted(
        (r.url, r.extracted_text, r.doc_kind)
        for r in Catalog(full_out).read_extracted(spark).collect())

    # resumed run: first process only buckets 0-3 (simulate a killed job
    # that completed half the work), then run the full job
    res_out = str(tmp_path / "resumed")
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    pipeline.run_extraction(spark, half, res_out, run_id="r-half",
                            snapshot_id="s1", num_buckets=8)
    done_before = Catalog(res_out).done_partitions(spark, "s1")
    assert done_before and done_before <= {0, 1, 2, 3}

    stats = pipeline.run_extraction(spark, docs_df, res_out, run_id="r-rest",
                                    snapshot_id="s1", num_buckets=8)
    assert stats["skipped_partitions"] == len(done_before)
    resumed = sorted(
        (r.url, r.extracted_text, r.doc_kind)
        for r in Catalog(res_out).read_extracted(spark).collect())
    assert resumed == golden

    # second full run over the same snapshot is a no-op (all buckets done)
    stats2 = pipeline.run_extraction(spark, docs_df, res_out, run_id="r3",
                                     snapshot_id="s1", num_buckets=8)
    assert stats2["skipped_partitions"] == 8


def test_static_session_stays_static_and_resume_keeps_done_files(
        spark, docs_df, tmp_path):
    """The dynamic overwrite is a per-write option: a STATIC session
    stays STATIC, and a resumed run (whose write touches only the todo
    buckets) still leaves the files of the done buckets in place."""
    import os
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog

    def data_files():
        return {os.path.join(d, n)
                for d, _, names in os.walk(cat.extracted_path)
                for n in names if n.endswith(".parquet")}

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        out = str(tmp_path / "cat")
        half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                      .where(F.col("part_id") < 4).drop("part_id")
        pipeline.run_extraction(spark, half, out, run_id="r-half",
                                snapshot_id="s1", num_buckets=8)
        assert spark.conf.get(key) == "STATIC"
        cat = Catalog(out)
        done = cat.done_partitions(spark, "s1")
        assert done and done <= {0, 1, 2, 3}
        before = data_files()     # the done buckets' files
        stats = pipeline.run_extraction(spark, docs_df, out, run_id="r-rest",
                                        snapshot_id="s1", num_buckets=8)
        assert spark.conf.get(key) == "STATIC"
        assert stats["skipped_partitions"] == len(done)
        assert before and before < data_files()
        assert cat.read_extracted(spark).count() == N
    finally:
        spark.conf.unset(key)


def test_run_extraction_writes_extract_df_plan(spark, docs_df, tmp_path,
                                               monkeypatch):
    """run_extraction writes extract_df's plan (one url-hash exchange
    under the extraction stage); a fresh catalog adds no bucket
    predicate, and a resumed run filters the todo buckets BELOW the
    exchange, so done buckets are never shuffled. The write carries
    the lineage observations: input rows below MapInPandas, output
    rows above it, so the two are counted at different points."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    from plan_checks import physical_plan

    written = []
    write = Catalog.write_extracted

    def spy(self, df):
        written.append(df)
        write(self, df)

    monkeypatch.setattr(Catalog, "write_extracted", spy)
    out = str(tmp_path / "out")
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    pipeline.run_extraction(spark, half, out, run_id="a",
                            snapshot_id="s1", num_buckets=8)
    todo = sorted(set(range(8)) - Catalog(out).done_partitions(spark, "s1"))
    assert todo
    pipeline.run_extraction(spark, docs_df, out, run_id="b",
                            snapshot_id="s1", num_buckets=8)
    assert len(written) == 2
    # the query part of each plan, above the cached input relation
    fresh, resumed = (physical_plan(df, "simple").split("InMemoryRelation")[0]
                      for df in written)
    for plan in (fresh, resumed):
        assert plan.count("Exchange ") == 1, plan
        assert plan.index("MapInPandas extract_batch") < plan.index(
            "Exchange hashpartitioning(xxhash64(url"), plan
        assert plan.count("CollectMetrics ") == 2, plan
        above, below = (plan.index("CollectMetrics ", i) for i in
                        (0, plan.index("MapInPandas extract_batch")))
        assert above < plan.index("MapInPandas extract_batch") < below
        assert "AS output_rows" in plan[above:below], plan
        assert "AS input_rows" in plan[below:], plan
        assert below < plan.index("Exchange "), plan
    assert " IN (" not in fresh, fresh
    todo_in = "IN (%s)" % ",".join(map(str, todo))
    assert todo_in in resumed, resumed
    assert resumed.index("Exchange ") < resumed.index(todo_in), resumed


@pytest.mark.parametrize("num_buckets", [8, 64])
def test_part_id_is_exchange_partition(spark, num_buckets):
    """Bucket k IS exchange partition k: after extract_df's exchange
    every row's part_id equals its spark_partition_id, so each write
    task holds exactly one bucket."""
    from pyspark.sql import functions as F
    docs = spark.range(20_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string"))
        .alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"))
    got = (pipeline.extract_df(docs, num_buckets)
           .groupBy("part_id", F.spark_partition_id().alias("pid"))
           .count().collect())
    assert sum(r["count"] for r in got) == 20_000
    assert all(r.part_id == r.pid for r in got), got
    assert {r.part_id for r in got} == set(range(num_buckets))


def test_fresh_run_one_file_per_bucket_in_three_jobs(spark, docs_df,
                                                      tmp_path):
    import os
    out = str(tmp_path / "cat")
    docs_df.count()                 # the cached input is not this job's
    sc = spark.sparkContext
    group = f"fresh-run-{id(out)}"
    sc.setJobGroup(group, "fresh run_extraction")
    try:
        pipeline.run_extraction(spark, docs_df, out, run_id="r1",
                                snapshot_id="s1", num_buckets=8)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    parts = sorted(d for d in os.listdir(os.path.join(out, "extracted"))
                   if d.startswith("part_id="))
    assert parts == [f"part_id={k}" for k in range(8)]
    for d in parts:
        files = [n for n in os.listdir(os.path.join(out, "extracted", d))
                 if n.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    lineage = [n for n in os.listdir(os.path.join(out, "lineage"))
               if n.endswith(".parquet")]
    assert len(lineage) == 1, lineage


def test_observed_lineage_equals_groupby_of_written_table(spark, docs_df,
                                                          tmp_path):
    """Lineage observed during the write equals the old re-read: a
    groupBy(part_id) over this run's rows of the written table."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    from lineage_oracle import lineage_from_extracted
    out = str(tmp_path / "cat")
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    pipeline.run_extraction(spark, half, out, run_id="r1",
                            snapshot_id="s1", num_buckets=8)
    pipeline.run_extraction(spark, docs_df, out, run_id="r2",
                            snapshot_id="s1", num_buckets=8)
    cat = Catalog(out)
    lineage = cat.read_lineage(spark)
    for run_id in ("r1", "r2"):
        got = lineage.where(F.col("run_id") == run_id)
        wall_ms = got.first().wall_ms
        oracle = lineage_from_extracted(
            cat.read_extracted(spark).where(F.col("run_id") == run_id),
            run_id, "s1", wall_ms)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, oracle.collect()))
    assert lineage.agg(F.sum("output_rows")).first()[0] == N


def test_input_rows_are_counted_before_the_udf(spark, docs_df, tmp_path,
                                               monkeypatch):
    """input_rows counts the rows entering extract_batch, output_rows
    the rows leaving it: a UDF that drops each batch's first row makes
    them differ."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    real = pipeline.extract_batch

    def drop_first(batches):
        return real(b.iloc[1:] for b in batches)

    monkeypatch.setattr(pipeline, "extract_batch", drop_first)
    out = str(tmp_path / "cat")
    stats = pipeline.run_extraction(spark, docs_df, out, run_id="r1",
                                    snapshot_id="s1", num_buckets=8)
    tot = Catalog(out).read_lineage(spark).agg(
        F.sum("input_rows"), F.sum("output_rows")).first()
    assert tot[0] == N
    assert tot[1] < N and tot[1] == stats["rows_written"]
    assert Catalog(out).read_extracted(spark).count() == tot[1]
