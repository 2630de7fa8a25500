"""The flagship extraction job and the structured-record stage."""

from pyspark.sql import functions as F

from .. import fixtures, pipeline
from ..operators import records
from . import _GOLDEN, _t, query


# --- flagship extraction — hash-checked against the committed golden
# parquet (the pure-Python extractor's pinned output; the Spark UDF
# calls the same functions, so scores are byte-identical doubles and
# need no rounding on either side)
# extraction queries: oracle = the committed golden parquet, the
# pinned output of the PURE-PYTHON extractor over the same seed-42
# corpus (tests/test_golden.py re-derives it element-by-element) —
# DuckDB aggregates the golden file, Spark runs the real pipeline
@query("extract_corpus", oracle=lambda: f"""
            SELECT url, doc_kind, n_blocks,
                   length(extracted_text) AS n_chars, score
            FROM read_parquet('{_GOLDEN}')
            ORDER BY url""")
def q_extract(spark, sf_dir):
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    return (pipeline.extract_df(docs, num_buckets=8)
            .select("url", "doc_kind", "n_blocks",
                    F.length("extracted_text").alias("n_chars"),
                    "score")
            .orderBy("url"))


@query("extract_kind_stats", oracle=lambda: f"""
            SELECT doc_kind, count(*) AS n_docs,
                   sum(n_blocks)::bigint AS total_blocks,
                   sum(length(extracted_text))::bigint AS total_chars
            FROM read_parquet('{_GOLDEN}')
            GROUP BY doc_kind""")
def q_extract_stats(spark, sf_dir):
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    return (pipeline.extract_df(docs, num_buckets=8)
            .groupBy("doc_kind")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_blocks").cast("long").alias("total_blocks"),
                 F.sum(F.length("extracted_text")).cast("long")
                 .alias("total_chars")))


# --- structured-record emission (the reference's final stage,
# LLM replaced by deterministic keyword rules) — SQL-checked
@query("structured_records", oracle=lambda: r"""
            WITH raw AS (
              SELECT doc_id, string_split_regex(text, '\. ') AS bl
              FROM documents
            ), blocks AS (
              SELECT doc_id AS id,
                     unnest(list_transform(generate_series(1, len(bl)),
                            i -> {'ord': i, 'block': bl[i]})) AS u
              FROM raw
            ), bb AS (
              SELECT id, u.ord AS ord, u.block AS block FROM blocks
              WHERE trim(u.block) != ''
            ), rules(data_type, pat) AS (
              VALUES ('merges', 'merge'), ('windows', 'window|stream')
            ), matched AS (
              SELECT bb.id, bb.ord, bb.block, rules.data_type
              FROM bb JOIN rules
                ON regexp_matches(lower(bb.block), rules.pat)
            )
            SELECT id, data_type,
                   string_agg(block, ' ' ORDER BY ord) AS content,
                   count(*) AS n_blocks
            FROM matched GROUP BY id, data_type""")
def q_records(spark, sf_dir):
    return records.extract_records(
        _t(spark, sf_dir, "documents"),
        {"merges": ["merge"], "windows": ["window", "stream"]})
