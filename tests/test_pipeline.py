

def test_compact_extracted_preserves_rows_and_reduces_files(spark, tmp_path):
    """Small-files compaction: many tiny files per part_id collapse
    to one file per partition, rows and resume state unchanged."""
    from historicaldatadocumentparsersystem_spark import fixtures, pipeline
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    out = str(tmp_path / "tbl")
    docs = fixtures.corpus_df(spark, 120, num_partitions=8)
    pipeline.run_extraction(spark, docs, out, run_id="r",
                            snapshot_id="s1", num_buckets=4)
    cat = Catalog(out)
    # run_extraction writes one file per bucket; rewrite the same rows
    # unshuffled, so each of the 8 input partitions drops a file into
    # every bucket it holds rows of: the small-files state
    from pyspark.sql import functions as F
    cat.write_extracted(pipeline.extract_df(docs, 4, shuffle=False)
                        .withColumn("run_id", F.lit("r")))
    before_rows = sorted(
        (r["url"], r["doc_kind"])
        for r in cat.read_extracted(spark).collect())
    n_before = len(cat.data_files())
    assert n_before > 4          # multiple files per partition exist
    res = cat.compact_extracted(spark, target_rows_per_file=10_000)
    assert res["files_before"] == n_before
    assert res["files_after"] == 4          # one file per part_id
    assert res["rows"] == len(before_rows)
    after_rows = sorted(
        (r["url"], r["doc_kind"])
        for r in cat.read_extracted(spark).collect())
    assert after_rows == before_rows
    # physical-only: lineage/resume is untouched
    assert cat.done_partitions(spark, "s1") == set(range(4))
    # second run over the compacted table still resumes cleanly
    r2 = pipeline.run_extraction(spark, docs, out, run_id="r",
                                 snapshot_id="s1", num_buckets=4)
    assert r2["skipped_partitions"] == 4
