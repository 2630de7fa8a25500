"""Chunking and tokenization: token budgets, BPE, sections, sentences."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpetrain, chunking, textstats
from ..operators.skew import spread_small_scan
from . import (
    _GOLDEN, _GOLDEN_ODT, _GOLDEN_OUTLINE, _GOLDEN_RTF, _TOKSPLIT,
    _fixture, _t, query)


_BPE_TRAIN_N = 12


def _bpe_train_sql(n: int) -> str:
    """DuckDB twin of operators/bpetrain.learn_bpe_merges: the same
    delimited-string vocab encoding, one (pairs → argmax → replace)
    CTE triple per merge. CTEs MUST be MATERIALIZED — each vocab step
    is referenced twice and DuckDB inlines plain CTEs, which re-nests
    the whole prior chain per reference (exponential plan, the same
    lesson as Spark's localCheckpoint on iterative carriers). The
    pre-tokenizer regex is GENERATED from bpetrain.PRETOK_RE (shared
    constant, never retyped)."""
    rep = ("replace(enc, chr(31)||a||chr(30)||chr(31)||b||chr(30), "
           "chr(31)||a||b||chr(30))")
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT word, count(*)::bigint AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text),
                  '{bpetrain.PRETOK_RE}', 0)) AS word
    FROM documents) sub
  WHERE regexp_matches(word, '{bpetrain.PRINTABLE_RE}')
  GROUP BY word)""",
        """v0 AS MATERIALIZED (
  SELECT concat(
    array_to_string(list_transform(generate_series(1, length(word)),
      i -> chr(31) || substring(word, i, 1) || chr(30)), ''),
    chr(31) || '</w>' || chr(30)) AS enc, freq
  FROM w0)"""]
    for k in range(n):
        ctes.append(f"""p{k} AS MATERIALIZED (
  SELECT ls[i] AS a, ls[i+1] AS b, sum(freq)::bigint AS cnt
  FROM (SELECT string_split(substring(enc, 2, length(enc) - 2),
                            chr(30) || chr(31)) AS ls, freq
        FROM v{k}) t, unnest(generate_series(1, len(ls) - 1)) AS u(i)
  GROUP BY 1, 2)""")
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT a, b FROM p{k} "
            "ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)")
        ctes.append(f"v{k + 1} AS MATERIALIZED "
                    f"(SELECT {rep} AS enc, freq FROM v{k}, b{k})")
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS left_sym, b AS right_sym FROM b{k}"
        for k in range(n))
    return "WITH " + ",\n".join(ctes) + "\n" + union


_GOLDEN_SENTS = _fixture("golden_sentences_seed42.parquet")


def _elements_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive deterministic (url, page, pos, text) element rows from the
    documents table: 8-word sentences, 4 sentences per page.

    r6 shape: the 8-word groups come from ONE codegen regex pass over
    the single-spaced token join (greedy ``\\S+( \\S+){0,7}`` ==
    concat_ws(" ", slice(toks, i*8+1, 8)) row-for-row — verified
    identical on sf1.0) instead of an interpreted
    transform(sequence)+slice+concat_ws fold, which cost 5.3 s of the
    query's 6.8 s at sf1.0 (higher-order functions never codegen)."""
    docs = spread_small_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.filter(F.split(F.trim("text"), _TOKSPLIT), lambda t: t != "")
    sent = F.regexp_extract_all(F.concat_ws(" ", toks),
                                F.lit(r"\S+( \S+){0,7}"), 0)
    return (docs.select(F.col("doc_id").cast("string").alias("url"),
                        F.posexplode(sent).alias("pos", "text"))
            .where(F.col("text") != "")
            .withColumn("page", (F.col("pos") / 4).cast("int")))


# --- A4 chunking (order-dependent fold; rows-only)
# A4 token-budget fold as a linear recursive CTE: iteration i
# carries (chunk_id, cur_tokens) from element i-1 to element i per
# url — the exact budget-reset/page-close semantics of
# chunking.chunk_elements (reference doc_processor.py:225-329).
# Elements are 8-word sentences (< max_tokens=24), so the
# oversize window-split path is provably unreachable here; it is
# covered by tests/test_property.py instead.
@query("chunk_token_budget", oracle=lambda: r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id::varchar AS url,
                     list_filter(regexp_split_to_array(trim(text), '\s+'),
                                 x -> x != '') AS tk
              FROM documents
            ), sent AS (
              SELECT url, (i - 1)::int AS pos, ((i - 1) // 4)::int AS page,
                     array_to_string(
                       list_slice(tk, (i - 1) * 8 + 1, i * 8), ' ') AS text,
                     len(list_slice(tk, (i - 1) * 8 + 1, i * 8)) AS w
              FROM toks, unnest(generate_series(1,
                     greatest((len(tk) + 7) // 8, 1))) AS u(i)
            ), elems AS (
              SELECT url, page, text, w,
                     row_number() OVER (PARTITION BY url ORDER BY pos) AS idx
              FROM sent WHERE text != ''
            ), rec AS (
              SELECT url, idx, page, text, w, 0 AS chunk_id, w AS cur_tokens
              FROM elems WHERE idx = 1
              UNION ALL
              SELECT e.url, e.idx, e.page, e.text, e.w,
                     CASE WHEN e.page != r.page OR r.cur_tokens + e.w > 24
                          THEN r.chunk_id + 1 ELSE r.chunk_id END,
                     CASE WHEN e.page != r.page OR r.cur_tokens + e.w > 24
                          THEN e.w ELSE r.cur_tokens + e.w END
              FROM rec r JOIN elems e ON e.url = r.url AND e.idx = r.idx + 1
            )
            SELECT url, chunk_id::int AS chunk_id, min(page)::int AS page,
                   string_agg(text, chr(10) ORDER BY idx) AS text,
                   sum(w)::bigint AS n_tokens
            FROM rec GROUP BY url, chunk_id""")
def q_chunks(spark, sf_dir):
    return chunking.chunk_by_token_budget(
        _elements_df(spark, sf_dir), max_tokens=24, overlap=6)


# --- A4 with tokenizer-exact budgets (extras; rows-only — BPE
# merge inference is not SQL; per-chunk n_tokens == bpe.token_count
# pinned by the hypothesis property + pure-fold oracle in pytest)
@query("chunk_token_budget_bpe", oracle=None)
def q_chunks_bpe(spark, sf_dir):
    return chunking.chunk_by_token_budget(
        _elements_df(spark, sf_dir), max_tokens=48, overlap=12,
        counter="bpe")


# --- committed-vocab BPE token counts (C5 tokenizer-exact) —
# rows-only for the driver (merge inference is not SQL); the pure
# tokenizer is the oracle, asserted per-document in pytest
@query("bpe_token_count", oracle=None)
def q_bpe_count(spark, sf_dir):
    return textstats.bpe_token_stats(_t(spark, sf_dir, "documents"))


# --- distributed BPE TRAINING (Sennrich Alg. 1; the tokenizer
# story's other half — reference ships a pre-trained HF vocab,
# doc_processor.py:89-137; at 100 TB you train your own). One
# corpus-sized pass, then the loop runs over the vocab table; the
# DuckDB twin is the same loop as chained MATERIALIZED CTEs.
# distributed BPE training: the SAME merge loop as chained
# MATERIALIZED CTEs (pairs → deterministic argmax → literal
# string replace per rank); see _bpe_train_sql for why
# MATERIALIZED is load-bearing
@query("bpe_learn_merges", oracle=lambda: _bpe_train_sql(_BPE_TRAIN_N))
def q_bpe_train(spark, sf_dir):
    return bpetrain.learn_bpe_merges(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_TRAIN_N)


def _section_sql(src: str, split_level: int = 3) -> str:
    """section_chunks twin over any (url, para, kind, level, text)
    source — the same cumulative-sum sectioning; DuckDB
    string_agg(ORDER BY) == Spark sort_array(collect_list) join;
    empty-body sections need the coalesce (string_agg over zero rows
    is NULL — the array_to_string lesson)."""
    return f"""
        WITH els AS ({src}), marked AS (
          SELECT url, para, text,
                 (kind = 'heading' AND level <= {split_level})
                   AS is_title,
                 sum(CASE WHEN kind = 'heading'
                          AND level <= {split_level}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY url ORDER BY para
                         ROWS UNBOUNDED PRECEDING)::int AS section_idx
          FROM els
        )
        SELECT url, section_idx,
               max(CASE WHEN is_title THEN text END) AS title,
               count(*) FILTER (WHERE NOT is_title)::bigint AS n_paras,
               length(coalesce(string_agg(text, chr(10) ORDER BY para)
                   FILTER (WHERE NOT is_title), ''))::bigint AS n_chars,
               coalesce(string_agg(text, chr(10) ORDER BY para)
                   FILTER (WHERE NOT is_title), '') AS text
        FROM marked
        GROUP BY url, section_idx
        ORDER BY url, section_idx"""


# --- heading-hierarchy section chunking over the SHARED per-format
# element schema (docx/odt/rtf all emit it) — SQL-checked: window
# cumulative-sum sectioning + ordered string_agg twin, over the
# UNION of two format goldens to prove cross-format reuse
# section chunking: the _section_sql twin over the union of
# two office-format goldens (cross-format reuse proof)
@query("section_chunks", oracle=lambda: _section_sql(f"""
              SELECT * FROM read_parquet('{_GOLDEN_ODT}')
              UNION ALL
              SELECT * FROM read_parquet('{_GOLDEN_RTF}')"""))
def q_sections(spark, sf_dir):
    els = (spark.read.parquet(_GOLDEN_ODT)
           .unionByName(spark.read.parquet(_GOLDEN_RTF)))
    return chunking.section_chunks(els).orderBy("url", "section_idx")


# --- the SAME section operator over the HTML outline golden —
# a web page sections exactly like an office document
# the SAME section operator over the HTML outline golden —
# web pages section exactly like office documents
@query("html_section_chunks", oracle=lambda: _section_sql(
    f"SELECT * FROM read_parquet('{_GOLDEN_OUTLINE}')"))
def q_html_sections(spark, sf_dir):
    els = spark.read.parquet(_GOLDEN_OUTLINE)
    return chunking.section_chunks(els).orderBy("url", "section_idx")


# --- rule-based sentence segmentation (the C4/bitext sub-element
# unit) over the EXTRACTION golden's text — hash-checked against
# the committed golden sentences parquet
# sentence rows: committed golden parquet pinned by
# tests/test_sentences.py against the pure re-derivation
@query("sentence_split", oracle=lambda: f"""
            SELECT url, idx, start, "end", sentence
            FROM read_parquet('{_GOLDEN_SENTS}')
            ORDER BY url, idx""")
def q_sentences(spark, sf_dir):
    docs = (spark.read.parquet(_GOLDEN)
            .select("url", F.col("extracted_text").alias("text"))
            .where(F.length("text") > 0))
    return (textstats.sentence_split_df(docs)
            .orderBy("url", "idx"))


# --- per-document sentence profile — golden both sides (the
# terminal-punctuation ratio is a Gopher-style quality signal)
# sentence profile: golden both sides; terminal-punct counts
@query("sentence_stats", oracle=lambda: f"""
            SELECT url,
                   count(*)::bigint AS n_sents,
                   sum(length(sentence))::bigint AS total_chars,
                   max(length(sentence))::bigint AS max_chars,
                   sum(CASE WHEN right(sentence, 1)
                            IN ('.', '!', '?', '…') THEN 1
                            ELSE 0 END)::bigint AS n_terminal
            FROM read_parquet('{_GOLDEN_SENTS}')
            GROUP BY url ORDER BY url""")
def q_sentence_stats(spark, sf_dir):
    sents = spark.read.parquet(_GOLDEN_SENTS)
    return (sents.groupBy("url")
            .agg(F.count("*").cast("long").alias("n_sents"),
                 F.sum(F.length("sentence")).cast("long")
                 .alias("total_chars"),
                 F.max(F.length("sentence")).cast("long")
                 .alias("max_chars"),
                 F.sum(F.when(F.expr("right(sentence, 1)")
                              .isin(".", "!", "?", "…"), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_terminal"))
            .orderBy("url"))


# --- cross-document boilerplate sentences (sentence-granularity
# line-dedup: a sentence shared by many documents is template
# text, not content) — golden both sides; one combinable shuffle
# on the md5 key, counts stay integers
# boilerplate sentences: md5 == Spark md5 on identical UTF-8
@query("sentence_boilerplate", oracle=lambda: f"""
            SELECT md5(sentence) AS sent_key,
                   count(DISTINCT url)::bigint AS n_docs,
                   count(*)::bigint AS n_occurrences,
                   min(sentence) AS sample,
                   count(DISTINCT url) >= 3 AS boilerplate
            FROM read_parquet('{_GOLDEN_SENTS}')
            GROUP BY sentence
            HAVING count(DISTINCT url) >= 2
            ORDER BY sent_key""")
def q_sentence_boilerplate(spark, sf_dir):
    sents = spark.read.parquet(_GOLDEN_SENTS)
    return (sents
            .groupBy(F.md5(F.col("sentence")).alias("sent_key"))
            .agg(F.countDistinct("url").cast("long")
                 .alias("n_docs"),
                 F.count("*").cast("long").alias("n_occurrences"),
                 F.min("sentence").alias("sample"))
            .where(F.col("n_docs") >= 2)
            .withColumn("boilerplate", F.col("n_docs") >= 3)
            .orderBy("sent_key"))
