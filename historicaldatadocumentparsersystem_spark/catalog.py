"""Iceberg-style table emulation: partitioned parquet + manifest + lineage.

No Iceberg runtime jar ships in this environment (SURVEY.md §7.0), so
the catalog isolates the table layout behind a tiny API that a real
Iceberg catalog can replace 1:1:

- ``extracted/`` : parquet partitioned by ``part_id`` with dynamic
  partition overwrite -> re-processing a bucket atomically replaces it
  (MERGE-on-processed-partitions semantics).
- ``lineage/``   : append-only parquet of per-partition metrics rows
  (FIXTURES.md §3). ``done_partitions`` is the resume checkpoint read.
- ``manifest.json`` : the bucketing scheme the table was written under,
  and snapshot bookkeeping (ids passed in by the caller, never
  generated from the clock — determinism rule).

Reference analog: the Postgres ``document_list`` registry
(``pg_vector_db.py:364-409``) + status enum ``utils/document.py:29-35``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Catalog:
    def __init__(self, root: str) -> None:
        self.root = root
        self.extracted_path = os.path.join(root, "extracted")
        self.lineage_path = os.path.join(root, "lineage")
        self.manifest_path = os.path.join(root, "manifest.json")
        os.makedirs(root, exist_ok=True)

    # -- extracted table ----------------------------------------------------
    def write_extracted(self, df: DataFrame) -> None:
        """Write partitioned by part_id; dynamic overwrite = idempotent.
        The overwrite mode is a per-write option: the caller's session
        conf is left as it was.

        No post-write count: the caller observes row totals during
        this write (``pipeline.run_extraction``) — an incremental run
        must never pay a table scan just for bookkeeping.
        """
        df.write.mode("overwrite").partitionBy("part_id") \
            .option("partitionOverwriteMode", "dynamic") \
            .parquet(self.extracted_path)

    def read_extracted(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.extracted_path)

    def read_extracted_parts(self, spark: SparkSession,
                             parts: list[int]) -> DataFrame:
        """Partition-pruned read of specific buckets: ``part_id IN``
        lands as a PartitionFilter on the parquet scan (pinned by
        tests/test_plans.py), so an audit of some buckets touches only
        those — never the whole 100 TB table. ``run_extraction`` no
        longer reads its own output back: its lineage is observed
        during the write."""
        return (self.read_extracted(spark)
                .where(F.col("part_id").isin(list(parts))))

    # -- lineage table ------------------------------------------------------
    def append_lineage(self, df: DataFrame) -> None:
        """Append as one file: a lineage frame holds at most one row
        per bucket."""
        df.coalesce(1).write.mode("append").parquet(self.lineage_path)

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.lineage_path):
            return None
        try:
            return spark.read.parquet(self.lineage_path)
        except Exception:
            return None

    def snapshot_bucket_rows(self, spark: SparkSession,
                             snapshot_id: str) -> dict[int, int]:
        """Output rows per bucket already ContentExtracted for this
        snapshot: its keys are the resume checkpoint, its values sum to
        the snapshot's row count. Each bucket is written once per
        snapshot (done buckets are skipped on resume), so summing the
        lineage rows equals counting the table without scanning it."""
        lin = self.read_lineage(spark)
        if lin is None:
            return {}
        rows = (lin.where((lin.snapshot_id == snapshot_id)
                          & (lin.status == "ContentExtracted"))
                .groupBy("partition_id").agg(F.sum("output_rows"))
                .collect())
        return {r[0]: int(r[1] or 0) for r in rows}

    def done_partitions(self, spark: SparkSession,
                        snapshot_id: str) -> set[int]:
        """Buckets already ContentExtracted for this snapshot (resume)."""
        return set(self.snapshot_bucket_rows(spark, snapshot_id))

    def snapshot_output_rows(self, spark: SparkSession,
                             snapshot_id: str) -> int:
        """Total rows extracted for a snapshot, from lineage."""
        return sum(self.snapshot_bucket_rows(spark, snapshot_id).values())

    # -- manifest -----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {}
        with open(self.manifest_path) as fh:
            return json.load(fh)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic swap

    def ensure_bucketing(self, scheme: dict) -> None:
        """Record the bucketing ``scheme`` of a fresh catalog; raise
        ValueError on a catalog written under another one.

        A bucket id means something only under the function and bucket
        count that assigned it: resuming under another scheme would
        skip "done" ids that now hold other urls. Catalogs holding data
        but no recorded scheme were written before it was recorded,
        under pmod(xxhash64(url), N), and are refused too.
        """
        manifest = self._read_manifest()
        have = manifest.get("bucketing")
        if have == scheme:
            return
        if have is not None:
            raise ValueError(f"catalog {self.root} is bucketed as {have}, "
                             f"not {scheme}")
        if manifest or any(os.path.exists(p) for p in
                           (self.extracted_path, self.lineage_path)):
            raise ValueError(f"catalog {self.root} holds data under an "
                             f"unrecorded bucketing scheme, not {scheme}")
        self._write_manifest({"bucketing": scheme})

    def commit_snapshot(self, snapshot_id: str, meta: dict) -> None:
        manifest = self._read_manifest()
        manifest.setdefault("snapshots", {})[snapshot_id] = meta
        self._write_manifest(manifest)
