"""Training-sequence packing — turn a curated document table into the
fixed-length example stream an LLM trainer actually consumes.

The reference stops at per-document chunks (``doc_processor.py:225-329``
closes a chunk per budget); a pretraining pipeline has one more step:
concatenate documents (with an EOS separator) into contiguous sequences
of exactly ``seq_len`` tokens.  Two industry-standard policies:

* **concatenation packing** (GPT-2/3, Llama): the shard's documents are
  one continuous token stream cut every ``seq_len`` tokens — documents
  freely span sequence boundaries.  The packing *manifest* (where each
  doc lands in the stream) is pure integer arithmetic over a running
  sum, so it runs as column expressions + ONE window — no Python.
* **greedy boundary packing** (T5 / padding-free fine-tuning): documents
  never cross a sequence boundary; a doc that would overflow the open
  sequence seals it and starts the next.  Oversize docs are windowed
  into full sequences of their own.  This is an order-dependent fold
  (budget resets at seal), the same shape as token-budget chunking —
  one shuffle + mapInPandas with a cross-shard-boundary buffer.

Sharding: real pipelines pack per output shard (one shard = one
training file), assigned deterministically from the doc id; shards are
independent, so the job is embarrassingly parallel after its single
shuffle and no global coordination exists to break at 100 TB.  The
window/fold runs within a shard; pick ``n_shards`` so a shard's doc
rows fit one task's sort buffer (at 100 TB: ~100k shards of ~1 GB).

Token cost = whitespace tokens + 1 EOS (the oracle-portable proxy;
swap in the BPE counts of ``textstats.bpe_token_stats`` for
tokenizer-exact budgets, as chunking does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StructField,
                               StructType)

from . import textstats
from .chunking import fold_sorted_groups


def _cost_col() -> F.Column:
    # +1: every document is terminated by one EOS token in the stream
    return (textstats.token_count("text") + F.lit(1)).cast("long")


def sequence_pack_offsets(df: DataFrame, seq_len: int = 64,
                          n_shards: int = 8) -> DataFrame:
    """Concatenation-packing manifest: for each doc, its byte-exact
    placement in its shard's token stream.

    Columns: shard, doc_id, cost (tokens incl. EOS), start_off (token
    offset in the shard stream), first_seq/last_seq (sequence indices
    the doc touches), n_seqs.

    Plan: one exchange (hash on shard via the window) + a running-sum
    window ordered by doc_id — sort-based window aggregation, bounded
    by shard size, zero Python.  A writer task holding one shard can
    emit the actual packed token file from this manifest with a single
    ordered scan.
    """
    w = Window.partitionBy("shard").orderBy("doc_id")
    return (df
            .select((F.col("doc_id") % n_shards).cast("int").alias("shard"),
                    "doc_id", _cost_col().alias("cost"))
            .withColumn("start_off",
                        F.coalesce(F.sum("cost").over(
                            w.rowsBetween(Window.unboundedPreceding, -1)),
                            F.lit(0)).cast("long"))
            .select("shard", "doc_id", "cost", "start_off",
                    F.floor(F.col("start_off") / seq_len)
                    .cast("long").alias("first_seq"),
                    F.floor((F.col("start_off") + F.col("cost") - 1)
                            / seq_len).cast("long").alias("last_seq"))
            .withColumn("n_seqs",
                        (F.col("last_seq") - F.col("first_seq") + 1)
                        .cast("long")))


GREEDY_SCHEMA = StructType([
    StructField("shard", IntegerType(), False),
    StructField("doc_id", LongType(), False),
    StructField("cost", LongType(), False),
    StructField("seq_id", LongType(), False),
    StructField("n_pieces", LongType(), False),
    StructField("seq_used", LongType(), False),
])


def pack_greedy_fold(rows: list[tuple[int, int]], seq_len: int
                     ) -> list[tuple[int, int, int, int, int]]:
    """Pure-Python oracle for one shard: [(doc_id, cost)] in doc_id
    order -> [(doc_id, cost, seq_id, n_pieces, seq_used)].

    seq_used is the open sequence's fill AFTER placing the doc (the
    recursive-CTE carry, which makes the fold linear and oracle-able).
    Oversize docs seal the open sequence and occupy
    ceil(cost/seq_len) sequences alone; the next doc starts fresh.
    """
    out: list[tuple[int, int, int, int, int]] = []
    seq_id, used = 0, 0
    for doc_id, cost in rows:
        if cost > seq_len:
            if used > 0:
                seq_id, used = seq_id + 1, 0
            pieces = -(-cost // seq_len)
            out.append((doc_id, cost, seq_id, pieces, 0))
            seq_id += pieces
        else:
            if used + cost > seq_len:
                seq_id, used = seq_id + 1, 0
            used += cost
            out.append((doc_id, cost, seq_id, 1, used))
    return out


def sequence_pack_greedy(df: DataFrame, seq_len: int = 64,
                         n_shards: int = 8) -> DataFrame:
    """Boundary-respecting greedy packing assignment.

    Plan: ONE shuffle (repartition by shard) + sortWithinPartitions +
    a streaming fold in mapInPandas — the chunking pattern (many small
    groups make per-group applyInPandas overhead dominate; the fold
    buffers the trailing shard across Arrow batches instead).
    """
    prepared = (df
                .select((F.col("doc_id") % n_shards).cast("int")
                        .alias("shard"),
                        "doc_id", _cost_col().alias("cost"))
                .repartition(F.col("shard"))
                .sortWithinPartitions("shard", "doc_id"))

    def packed_of(shard, rows):
        for packed in pack_greedy_fold(rows, seq_len):
            yield (shard, *packed)

    def fold_partition(batches):
        return fold_sorted_groups(batches, ["shard", "doc_id", "cost"],
                                  packed_of, GREEDY_SCHEMA.names)

    return prepared.mapInPandas(fold_partition, GREEDY_SCHEMA)
