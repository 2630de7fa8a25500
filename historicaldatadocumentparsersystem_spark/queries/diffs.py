"""Unified diffs and git patches."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_DIFF = _fixture("golden_diff_hunks_seed42_n40.parquet")


# --- unified-diff / git-patch source (code-corpus modality:
# commit data, review datasets, patch-tuning pairs) —
# hash-checked against the committed golden hunks parquet
# patch hunks: committed golden parquet pinned by
# tests/test_diff.py against the pure re-derivation
@query("diff_hunks", oracle=lambda: f"""
            SELECT url, file_idx, old_path, new_path, kind,
                   is_binary, similarity, hunk_idx, old_start,
                   old_len, new_start, new_len, section, n_added,
                   n_removed
            FROM read_parquet('{_GOLDEN_DIFF}')""")
def q_diff_hunks(spark, sf_dir):
    df = _payload_df(spark, fixtures.diff_file_rows(40), 8)
    return sources.read_diff_hunks(df)


# --- per-file churn profile (the commit-analytics reduction) —
# golden BOTH sides to isolate the aggregation; one groupBy on
# the (url, file) key
# per-file churn: golden both sides; count(hunk_idx) skips
# the NULL hunk rows identically in both engines
@query("diff_file_stats", oracle=lambda: f"""
            SELECT url, file_idx, old_path, new_path, kind,
                   is_binary,
                   count(hunk_idx)::bigint AS n_hunks,
                   coalesce(sum(n_added), 0)::bigint AS n_added,
                   coalesce(sum(n_removed), 0)::bigint AS n_removed
            FROM read_parquet('{_GOLDEN_DIFF}')
            GROUP BY url, file_idx, old_path, new_path, kind,
                     is_binary
            ORDER BY url, file_idx""")
def q_diff_stats(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_DIFF)
    return (g.groupBy("url", "file_idx", "old_path", "new_path",
                      "kind", "is_binary")
            .agg(F.count("hunk_idx").cast("long")
                 .alias("n_hunks"),
                 F.coalesce(F.sum("n_added"), F.lit(0))
                 .cast("long").alias("n_added"),
                 F.coalesce(F.sum("n_removed"), F.lit(0))
                 .cast("long").alias("n_removed"))
            .orderBy("url", "file_idx"))
