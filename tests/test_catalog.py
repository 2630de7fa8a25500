"""Catalog contracts: the bucketing scheme is recorded and enforced,
and the benchmark's catalog tracing hooks name real methods."""

import importlib.util
import json
import os

import pytest
from pyspark.sql import functions as F

from historicaldatadocumentparsersystem_spark import fixtures, pipeline
from historicaldatadocumentparsersystem_spark.catalog import Catalog
from lineage_oracle import lineage_from_extracted

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def docs(spark):
    return fixtures.corpus_df(spark, 40, num_partitions=2).cache()


def test_refuses_catalog_of_old_bucketing(spark, docs, tmp_path):
    """A catalog written as before the scheme was recorded — part_id =
    pmod(xxhash64(url), N), lineage, snapshot meta — is refused instead
    of resumed onto the wrong buckets."""
    out = str(tmp_path / "old")
    cat = Catalog(out)
    extracted = (docs.select("url", "warc_ts", "lang", "html", "text")
                 .withColumn("part_id", F.pmod(F.xxhash64("url"), F.lit(8))
                             .cast("int"))
                 .repartition(8, F.xxhash64("url"))
                 .mapInPandas(pipeline.extract_batch,
                              pipeline.EXTRACTED_SCHEMA)
                 .withColumn("run_id", F.lit("old")))
    cat.write_extracted(extracted)
    cat.append_lineage(lineage_from_extracted(
        cat.read_extracted(spark), "old", "s1", 0))
    cat.commit_snapshot("s1", {
        "run_id": "old", "rows_total": 40, "num_buckets": 8,
        "buckets_done": sorted(cat.done_partitions(spark, "s1"))})
    manifest = open(cat.manifest_path).read()
    for snap in ("s1", "s2"):
        with pytest.raises(ValueError, match="unrecorded bucketing"):
            pipeline.run_extraction(spark, docs, out, run_id="new",
                                    snapshot_id=snap, num_buckets=8)
    assert open(cat.manifest_path).read() == manifest


def test_refuses_other_num_buckets(spark, docs, tmp_path):
    out = str(tmp_path / "cat")
    pipeline.run_extraction(spark, docs, out, run_id="r1",
                            snapshot_id="s1", num_buckets=8)
    cat = Catalog(out)
    with open(cat.manifest_path) as fh:
        manifest = json.load(fh)
    assert manifest["bucketing"] == {"part_id": pipeline.BUCKETING,
                                     "num_buckets": 8}
    with pytest.raises(ValueError, match="bucketed as"):
        pipeline.run_extraction(spark, docs, out, run_id="r2",
                                snapshot_id="s1", num_buckets=16)
    with open(cat.manifest_path) as fh:
        assert json.load(fh) == manifest
    # the recorded scheme resumes as before
    stats = pipeline.run_extraction(spark, docs, out, run_id="r3",
                                    snapshot_id="s1", num_buckets=8)
    assert stats["skipped_partitions"] == len(manifest["snapshots"]["s1"]
                                              ["buckets_done"])


def test_perfbench_catalog_calls_exist():
    """perfbench/layers.py wraps these Catalog methods by name in a
    traced run; a rename would make that run raise AttributeError."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_layers", os.path.join(ROOT, "perfbench", "layers.py"))
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    assert layers.CATALOG_CALLS
    missing = [n for n in layers.CATALOG_CALLS
               if not callable(getattr(Catalog, n, None))]
    assert not missing, missing
