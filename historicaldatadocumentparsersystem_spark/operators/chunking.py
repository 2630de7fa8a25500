"""Token-budget chunk grouping (A4) — order-dependent fold per document.

Reference semantics (``doc_processor.py:225-329`` split_texts_by_tokens):
scan elements in reading order, accumulate a running token count, close
the current chunk when adding the next element would exceed the budget
OR the page changes; elements larger than the budget are split into
overlapping windows (``doc_processor.py:101-137`` chunk_text: windows of
max_tokens with overlap_tokens rewind). Defaults 4000/500
(``config/config.env:14-15``, ``models/settings.py:53-54``).

This is NOT a hash-aggregation (cumulative-sum + floor(cum/max) is
wrong: the reference resets the budget at group close), so it runs as
one shuffle on url, then a deterministic in-memory fold per document
(``fold_sorted_groups``, also used by ``packing.sequence_pack_greedy``).
Tokens = whitespace words (no HF tokenizer offline; same proxy in the
oracle below and the DuckDB-free pytest).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

CHUNK_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("chunk_id", IntegerType(), False),
    StructField("page", IntegerType(), False),
    StructField("text", StringType(), False),
    StructField("n_tokens", LongType(), False),
])


def _word_cost_ws(word: str) -> int:
    return 1


def _word_cost_bpe(word: str) -> int:
    from ..extractor import bpe
    return len(bpe.bpe_word(word)) if word else 0


_COUNTERS = {"words": _word_cost_ws, "bpe": _word_cost_bpe}


def _resolve_counter(counter):
    """``counter`` is a registry key ("words"/"bpe") or any callable
    word -> int — e.g. ``BPETokenizer(load_merges(...)).word_cost`` for
    a production vocab (the tokenizer pickles into the UDF closure)."""
    return _COUNTERS[counter] if isinstance(counter, str) else counter
# The BPE pre-tokenizer splits on whitespace first, so a text's token
# count is EXACTLY the sum of its whitespace-words' counts — additivity
# is what lets the fold accumulate per-word costs instead of
# re-tokenizing the growing chunk (the reference re-tokenizes the whole
# text per check, doc_processor.py:96-99 — O(n^2) it never noticed).


def _window_split(words: list[str], max_tokens: int, overlap: int,
                  cost) -> list[tuple[list[str], int]]:
    """chunk_text semantics: budget-bounded windows with overlap
    rewind, measured in ``cost`` units (1/word or BPE tokens/word).
    Returns (window_words, window_cost) pairs."""
    costs = [cost(w) for w in words]
    out: list[tuple[list[str], int]] = []
    i, n = 0, len(words)
    while i < n:
        j, c = i, 0
        while j < n and (c + costs[j] <= max_tokens or j == i):
            c += costs[j]
            j += 1
        out.append((words[i:j], c))
        if j >= n:
            break
        # rewind whole words until >= overlap budget units are repeated
        back, oc = j, 0
        while back > i + 1 and oc < overlap:
            back -= 1
            oc += costs[back]
        i = back if back > i else j
    return out


def chunk_elements(elements: list[tuple[int, int, str]], max_tokens: int,
                   overlap: int, counter="words"
                   ) -> list[tuple[int, int, str, int]]:
    """Pure-Python oracle: [(page, pos, text)] sorted by (page, pos) ->
    [(chunk_id, page, text, n_tokens)]. Budget resets at chunk close;
    page change closes the chunk; oversize elements window-split.

    ``counter="words"`` reproduces the whitespace proxy (recursive-CTE
    oracle-checkable); ``counter="bpe"`` measures budgets in
    tokenizer-exact committed-vocab BPE tokens (extractor/bpe.py) —
    the reference's real semantics (HF token budgets).
    """
    cost = _resolve_counter(counter)
    chunks: list[tuple[int, int, str, int]] = []
    cur: list[str] = []
    cur_tokens = 0
    cur_page = None
    cid = 0

    def close():
        nonlocal cur, cur_tokens, cid
        if cur:
            text = "\n".join(cur)
            chunks.append((cid, cur_page, text, cur_tokens))
            cid += 1
            cur, cur_tokens = [], 0

    for page, pos, text in sorted(elements, key=lambda e: (e[0], e[1])):
        words = text.split()
        if not words:
            continue
        el_tokens = sum(cost(w) for w in words)
        if cur_page is not None and page != cur_page:
            close()
        cur_page = page
        if el_tokens > max_tokens:
            close()
            for win, wc in _window_split(words, max_tokens, overlap, cost):
                chunks.append((cid, page, " ".join(win), wc))
                cid += 1
            continue
        if cur_tokens + el_tokens > max_tokens:
            close()
            cur_page = page
        cur.append(text)
        cur_tokens += el_tokens
    close()
    return chunks


def fold_sorted_groups(batches, cols: list[str], fold, names: list[str]):
    """The streaming fold behind ``mapInPandas`` operators whose input
    partition is sorted by its group key ``cols[0]``: rows of one key
    are buffered as lists of the other ``cols`` and handed to
    ``fold(key, rows)``, which yields output tuples in ``names`` order.
    Output columns accumulate across a whole Arrow batch, one frame per
    batch (a frame per group cost more than the fold itself). Batches
    arrive in order within a partition, so the trailing group of a
    batch is carried into the next. Rows with a null key yield
    nothing."""
    key, group = None, []
    for b in batches:
        out: list[tuple] = []
        for k, *rest in zip(*(b[c].tolist() for c in cols)):
            if k != key:
                if key is not None:
                    out.extend(fold(key, group))
                key, group = k, []
            group.append(rest)
        if out:
            yield pd.DataFrame(dict(zip(names, zip(*out))))
    if key is not None:
        out = list(fold(key, group))
        if out:
            yield pd.DataFrame(dict(zip(names, zip(*out))))


def chunk_by_token_budget(df: DataFrame, max_tokens: int = 64,
                          overlap: int = 16,
                          counter="words") -> DataFrame:
    """A4 over (url, page, pos, text) rows: ``chunk_elements`` per url,
    as (url, chunk_id, page, text, n_tokens) rows (CHUNK_SCHEMA).

    Plan: ONE shuffle (repartition by url) + sortWithinPartitions(url,
    page, pos) + ``fold_sorted_groups`` in mapInPandas. Each Python
    call handles a whole partition of urls instead of one url per call
    — groupBy().applyInPandas costs ~2 ms of per-group overhead, which
    at 5k docs was 12 s and at 10^12 docs is a non-starter — and builds
    one output frame per Arrow batch, not one per url. A url whose
    elements are all empty yields no rows."""

    prepared = (df.select("url", "page", "pos", "text")
                .repartition(F.col("url"))
                .sortWithinPartitions("url", "page", "pos"))

    def chunks_of(url, elements):
        for chunk in chunk_elements(elements, max_tokens, overlap, counter):
            yield (url, *chunk)

    def fold_partition(batches):
        return fold_sorted_groups(batches, ["url", "page", "pos", "text"],
                                  chunks_of, CHUNK_SCHEMA.names)

    return prepared.mapInPandas(fold_partition, CHUNK_SCHEMA)


def section_chunks(els: DataFrame, split_level: int = 3) -> DataFrame:
    """Heading-hierarchy chunking over the shared per-format element
    schema (url, para, kind, level, text) — the docx/odt/rtf loaders
    all emit it, so ONE operator sections every office format (the
    reference's chunkers split on structural element boundaries the
    same way; LangChain's header splitter is the same policy).

    A heading with level <= ``split_level`` starts a new section;
    deeper headings stay inside the running section (they are
    sub-headings, body lines of the section). Output one row per
    section: (url, section_idx, title, n_paras, n_chars, text) where
    ``title`` is the opening heading's text (NULL for front-matter
    before the first heading), ``text`` joins the section's NON-title
    element texts with "\\n" in para order, and n_paras counts them.

    Scale: ONE url-hash exchange total — the running section index is
    a window cumulative sum and the reassembly a groupBy on the same
    key, so Catalyst reuses the partitioning; text joining is
    sort_array(collect_list(struct)) -> array_join, all JVM-side. At
    100 TB sections are ~page-sized strings, never whole-corpus
    buffers.
    """
    from pyspark.sql import Window
    is_split = ((F.col("kind") == "heading")
                & (F.col("level") <= F.lit(split_level)))
    w = (Window.partitionBy("url").orderBy("para")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = els.withColumn(
        "section_idx",
        F.sum(F.when(is_split, 1).otherwise(0)).over(w).cast("int"))
    body = F.filter("parts", lambda p: ~p["is_title"])
    return (marked
            .withColumn("is_title", is_split)
            .groupBy("url", "section_idx")
            .agg(F.sort_array(F.collect_list(F.struct(
                    "para", "text", "is_title"))).alias("parts"))
            .select(
                "url", "section_idx",
                F.try_element_at(
                    F.filter("parts", lambda p: p["is_title"]), F.lit(1)
                )["text"].alias("title"),
                F.size(body).cast("long").alias("n_paras"),
                F.length(F.array_join(
                    F.transform(body, lambda p: p["text"]), "\n"))
                .cast("long").alias("n_chars"),
                F.array_join(
                    F.transform(body, lambda p: p["text"]), "\n")
                .alias("text")))
