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
    overwrite leaves untouched partitions on disk; the lineage
    read-back is filtered to this run's run_id)."""
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


def test_run_extraction_writes_extract_df_plan(spark, docs_df, tmp_path,
                                               monkeypatch):
    """run_extraction writes extract_df's plan (one url-hash exchange
    under the extraction stage); a fresh catalog adds no bucket
    predicate, and a resumed run filters the todo buckets BELOW the
    exchange, so done buckets are never shuffled."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    from historicaldatadocumentparsersystem_spark.plans import \
        physical_plan

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
    assert " IN (" not in fresh, fresh
    todo_in = "IN (%s)" % ",".join(map(str, todo))
    assert todo_in in resumed, resumed
    assert resumed.index("Exchange ") < resumed.index(todo_in), resumed
