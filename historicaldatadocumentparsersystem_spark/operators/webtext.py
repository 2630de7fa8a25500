"""Web-corpus curation operators a 100 TB training pipeline runs
between raw extraction and tokenization: line-level dedup (CCNet
style), URL canonicalization, deterministic stratified sampling,
length histograms, TF-IDF salient terms.

All plans are built from JVM-side built-ins (no Python UDFs) so every
operator has an exact DuckDB oracle twin under ``queries/``.

Scale notes per operator live on the function docstrings; the common
theme: one hash-keyed shuffle per stage, frequency tables joined back
by equi-join (broadcast when the dup/df side is small), no windows
over unbounded groups, no collect() of row data.

Reference analog: the reference cleans documents row-at-a-time before
LLM calls (``utils/tools.py:84-99`` strip, ``doc_processor.py:96-99``
token budget); these are the corpus-level (cross-document) versions of
that hygiene pass, which a single-process engine cannot express.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens


# --- line-level dedup (CCNet-style) -----------------------------------------

def doc_lines(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", line_words: int = 8) -> DataFrame:
    """Deterministic (id, pos, line) rows: fixed ``line_words``-word
    segments in reading order (the corpus carries no newlines, so the
    segmenter IS the line model — same derivation as the chunking
    fixture)."""
    toks = tokens(text_col)
    segs = F.transform(
        F.sequence(F.lit(1), F.greatest(
            ((F.size(toks) + line_words - 1) / line_words).cast("int"),
            F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.slice(toks, (i - 1) * line_words + 1, line_words)))
    return (df.select(F.col(id_col).alias("id"),
                      F.posexplode(segs).alias("pos", "line"))
            .where(F.col("line") != ""))


def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", line_words: int = 8,
               max_doc_freq: int = 2) -> DataFrame:
    """Remove lines that occur in more than ``max_doc_freq`` distinct
    documents (boilerplate: nav bars, cookie banners, footers), CCNet
    style; reassemble the per-document residual text.

    Returns (doc_id, n_lines, n_kept, text_kept). Docs whose every
    line is boilerplate survive with n_kept = 0, text_kept = ''.

    Scale: line frequencies are ONE groupBy on md5(line) (16-byte key,
    map-side combinable — never shuffles the line text); the dup-line
    set (doc_freq > k) is a small fraction of distinct lines on a real
    corpus, so the removal join is a broadcast LEFT ANTI in practice —
    expressed here as an equi-join on the hash so the optimizer (AQE)
    picks broadcast when the frequency side fits.
    """
    lines = doc_lines(df, text_col, id_col, line_words) \
        .withColumn("lh", F.md5("line"))
    freq = (lines.groupBy("lh")
            .agg(F.countDistinct("id").alias("doc_freq")))
    dup = freq.where(F.col("doc_freq") > max_doc_freq).select("lh")
    kept = lines.join(dup, "lh", "left_anti")
    kept_agg = (kept.groupBy("id")
                .agg(F.count("*").alias("n_kept"),
                     F.concat_ws(" ", F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "line"))),
                         lambda s: s["line"])).alias("text_kept")))
    totals = lines.groupBy("id").agg(F.count("*").alias("n_lines"))
    return (totals.join(kept_agg, "id", "left")
            .select(F.col("id").alias("doc_id"), "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("text_kept", F.lit("")).alias("text_kept")))


# --- URL canonicalization ----------------------------------------------------

def url_normalize(url_col: str | Column = "url") -> Column:
    """Canonical URL: lowercase scheme+authority, strip #fragment,
    drop default ports (http:80, https:443), strip the slash of a
    bare-root path. Pure string/regexp expression — identical rule in
    the DuckDB twin (backref syntax differs: $1 vs \\1, same regex).
    """
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    u = F.regexp_replace(u, "#.*$", "")                  # fragment
    head = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*", 0)
    rest = F.substring(u, F.length(head) + 1, F.length(u))
    u = F.concat(F.lower(head), rest)                    # scheme+authority
    # captured-delimiter form (NOT lookahead: the DuckDB twin is RE2,
    # which has no lookahead; an unmatched optional group substitutes
    # as empty in both Java's $2 and RE2's \2)
    u = F.regexp_replace(u, r"^(http://[^/?#]*):80([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#]*):443([/?#].*)?$", "$1$2")
    # bare root: 'scheme://host/' -> 'scheme://host'
    u = F.regexp_replace(u, r"^([a-z]+://[^/?#]+)/$", "$1")
    return u


def url_host(url_col: str | Column = "url") -> Column:
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.regexp_extract(u, r"^[^:/?#]+://([^/?#:@]+(?::\d+)?)", 1)
    return F.lower(F.regexp_replace(host, r":\d+$", ""))


def url_domain(url_col: str | Column = "url") -> Column:
    """Registrable domain (eTLD+1) via the trimmed public-suffix list
    (``operators.psl``): longest-match against the exact 3-label then
    2-label suffix sets, else the default one-label TLD rule.

    Pure column expression — the ``isin`` over the static suffix sets
    compiles to a codegen'd InSet probe, no join, no shuffle; the
    DuckDB twin is the same CASE/IN cascade. A host that IS a public
    suffix (e.g. ``co.uk`` itself) has no registrable domain -> ''.
    """
    from . import psl
    host = url_host(url_col)
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    last4 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+\.[^.]+)$", 1)
    return (F.when(last3.isin(*sorted(psl.SUFFIX_3)), last4)
            .when(last2.isin(*sorted(psl.SUFFIX_2)), last3)
            .otherwise(last2))


def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.select(
        "*",
        url_normalize(url_col).alias("url_norm"),
        url_host(url_col).alias("host"),
        url_domain(url_col).alias("domain"))


# --- deterministic stratified sampling ---------------------------------------

def stratified_sample(df: DataFrame, strata_col: str,
                      rates: dict[str, float], id_col: str = "doc_id",
                      seed: int = 42) -> DataFrame:
    """Keep each row iff hash_unit(id) < rate(stratum): an exact,
    shuffle-free, cluster-layout-independent sampler (same row set on
    any partitioning — unlike df.sample, which is seed+split
    dependent). Strata absent from ``rates`` are dropped (rate 0).

    Scale: a pure filter — pushes down past the scan's column pruning;
    no shuffle, no RNG state.
    """
    from ..functions import hash_unit
    u = hash_unit(id_col, seed=seed)
    rate = None
    for name, r in rates.items():
        cond = F.col(strata_col) == name
        rate = F.when(cond, F.lit(float(r))) if rate is None \
            else rate.when(cond, F.lit(float(r)))
    rate = rate.otherwise(F.lit(0.0))
    return df.where(u < rate)


def sample_mix_report(df: DataFrame, strata_col: str,
                      rates: dict[str, float],
                      id_col: str = "doc_id",
                      seed: int = 42) -> DataFrame:
    """One-pass mix report for :func:`stratified_sample`: per
    stratum, total rows, rows the sampler keeps, and the realized
    rate as an integer per-10k (kept * 10000 div total — no float
    reaches the output). ONE stratum exchange, no join with the
    sampled set."""
    from ..functions import hash_unit
    u = hash_unit(id_col, seed=seed)
    rate = None
    for name, r in rates.items():
        cond = F.col(strata_col) == name
        rate = F.when(cond, F.lit(float(r))) if rate is None \
            else rate.when(cond, F.lit(float(r)))
    rate = rate.otherwise(F.lit(0.0))
    return (df.groupBy(F.col(strata_col).alias("stratum"))
            .agg(F.count("*").cast("long").alias("n_total"),
                 F.sum((u < rate).cast("long")).alias("n_kept"))
            .withColumn("per_10k",
                        F.expr("n_kept * 10000 div n_total")))


# --- length histogram ---------------------------------------------------------

def length_histogram(df: DataFrame, col: str = "n_chars",
                     width: int = 50) -> DataFrame:
    """Fixed-width histogram of an integer column: one map-side
    combinable groupBy on the bucket ordinal."""
    b = F.floor(F.col(col) / width).cast("int").alias("bucket")
    return (df.groupBy(b)
            .agg(F.count("*").alias("n"),
                 F.min(col).alias("lo"),
                 F.max(col).alias("hi")))


# --- document-level quality gates (Gopher / C4) --------------------------------

#: Gopher's "must contain >= 2 of these" stop-word list (Rae et al.
#: 2021, Appendix A.1.1) — the canonical eight.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "url", min_words: int = 50,
                 max_words: int = 100_000) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, Appendix A.1.1)
    as one pass of pure column expressions: word-count bounds, mean
    word length in [3, 10], symbol-to-word ratio (# and ellipsis)
    <= 0.1, <= 10% bullet-started lines, <= 30% ellipsis-ended lines,
    >= 80% of words containing an alphabetic character, and >= 2 hits
    from the canonical stop-word list.

    Every threshold is evaluated in CROSS-MULTIPLIED INTEGER form
    (e.g. mean word length in [3, 10] <=> 3*n_words <= total_chars
    <= 10*n_words), so the output carries no float ratios and the
    DuckDB oracle twin is hash-exact by construction.

    Scale: a narrow projection — no shuffle, no UDF, no explode; the
    split arrays live only inside one codegen stage. At 100 TB this is
    scan-bound and pushes column pruning down to (id, text).

    Reference analog: the reference gates documents one at a time
    before LLM calls (``utils/tools.py:84-99``); this is the published
    corpus-curation rule set a training pipeline runs at ingest.
    """
    words = tokens(text_col)
    low = F.transform(words, lambda w: F.lower(w))
    lines = F.split(F.col(text_col), "\n")
    n_words = F.size(words).cast("long")
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w).cast("long"))
    n_alpha = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_stop = F.size(F.filter(
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        lambda s: F.array_contains(low, s))).cast("long")
    hash_hits = (F.length(text_col)
                 - F.length(F.replace(F.col(text_col), F.lit("#"))))
    ell_hits = (
        (F.length(text_col)
         - F.length(F.replace(F.col(text_col), F.lit("...")))) / 3
        + F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit("…"))))
    symbol_hits = ell_hits.cast("long") + hash_hits.cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(F.filter(
        lines, lambda l: l.rlike(r"^\s*[-*•]"))).cast("long")
    n_ellipsis = F.size(F.filter(
        lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))).cast("long")
    out = df.select(
        F.col(id_col).alias("id"), n_words.alias("n_words"),
        total_chars.alias("total_word_chars"),
        n_alpha.alias("n_alpha_words"), n_stop.alias("n_stop_hits"),
        symbol_hits.alias("symbol_hits"), n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis.alias("n_ellipsis_lines"))
    return out.select(
        "*",
        F.col("n_words").between(min_words, max_words).alias("r_word_count"),
        ((F.col("total_word_chars") >= 3 * F.col("n_words"))
         & (F.col("total_word_chars") <= 10 * F.col("n_words"))
         & (F.col("n_words") > 0)).alias("r_mean_word_len"),
        (10 * F.col("symbol_hits") <= F.col("n_words"))
        .alias("r_symbol_ratio"),
        (10 * F.col("n_bullet_lines") <= F.col("n_lines"))
        .alias("r_bullet_lines"),
        (10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines"))
        .alias("r_ellipsis_lines"),
        (5 * F.col("n_alpha_words") >= 4 * F.col("n_words"))
        .alias("r_alpha_words"),
        (F.col("n_stop_hits") >= 2).alias("r_stop_words"),
    ).withColumn(
        "keep",
        F.col("r_word_count") & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio") & F.col("r_bullet_lines")
        & F.col("r_ellipsis_lines") & F.col("r_alpha_words")
        & F.col("r_stop_words"))


def c4_line_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "url", min_line_words: int = 5,
                   min_kept_lines: int = 3) -> DataFrame:
    """C4 cleaning pass (Raffel et al. 2020 §2.2) as pure column
    expressions: keep only lines that end in terminal punctuation
    (. ! ? ") AND have >= ``min_line_words`` words AND do not mention
    'javascript'; then keep only documents with >=
    ``min_kept_lines`` surviving lines and no 'lorem ipsum' / '{'
    anywhere. Returns (id, n_lines, n_kept, keep, clean_text) where
    clean_text is the surviving lines re-joined with newlines —
    byte-exact against the DuckDB twin.

    Scale: like :func:`gopher_rules`, a single narrow projection (the
    line array is consumed inside one codegen stage; no explode means
    no row blow-up and no shuffle).
    """
    lines = F.split(F.col(text_col), "\n")
    line_words = (lambda l: F.size(F.filter(
        F.split(F.trim(l), r"\s+"), lambda t: t != "")))
    # terminal punctuation via last-char compare, NOT a '$'-anchored
    # regex: Java's '$' matches before a final \r/\n while the DuckDB
    # twin's RE2 '$' does not — substring is identical in both
    kept = F.filter(
        lines,
        lambda l: (F.substring(F.trim(l), -1, 1)
                   .isin(".", "!", "?", '"')
                   & (line_words(l) >= min_line_words)
                   & ~F.lower(l).contains("javascript")))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        ((F.size(kept) >= min_kept_lines)
         & ~F.lower(text_col).contains("lorem ipsum")
         & ~F.col(text_col).contains("{")).alias("keep"),
        F.concat_ws("\n", kept).alias("clean_text"))


# --- TF-IDF salient terms -----------------------------------------------------

def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-k terms per document by tf-idf (idf = ln((N+1)/(df+1)) + 1,
    scikit-style smoothing), ties broken by term asc on the ROUNDED
    score so Spark and the oracle sort identical keys.

    Scale: tf is one (id, term) groupBy (map-side combine); df is one
    term groupBy whose output is |vocabulary| rows — broadcast to the
    tf side (hinted) since vocabulary << corpus; N rides in as a 1-row
    aggregate via a broadcast crossJoin (the unigram_logppl pattern) —
    fully lazy, no eager driver action at plan-build time.
    The final top-k window partitions by doc — bounded groups.
    """
    tok = (df.select(F.col(id_col).alias("id"),
                     F.explode(tokens(text_col)).alias("t"))
           .select("id", F.lower("t").alias("term")))
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("id").alias("doc_freq"))
    totals = df.agg(F.count("*").cast("double").alias("__n_docs"))
    idf = F.log((F.col("__n_docs") + 1) / (F.col("doc_freq") + 1)) + 1
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(totals))
              .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
              .drop("__n_docs"))
    from pyspark.sql import Window
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select(F.col("id").alias("doc_id"), "term", "tf",
                    "doc_freq", "tfidf", "rk"))


# --- duplicated-substring (span) removal -------------------------------------

def duplicate_span_removal(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", ngram: int = 8,
                           max_doc_freq: int = 1) -> DataFrame:
    """Remove duplicated substrings across the corpus, Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    adapted to Spark: the paper's suffix-array exact-substring pass
    becomes a hashed token-n-gram span pass — any window of ``ngram``
    consecutive tokens whose text occurs in more than ``max_doc_freq``
    distinct documents marks ALL its token positions as duplicated, and
    marked tokens are dropped before the per-document reassembly.
    Overlapping duplicated windows merge naturally (position-set
    union), so a long shared passage is removed end-to-end exactly as
    the suffix-array method would, quantized to token n-grams.

    Returns (doc_id, n_tokens, n_removed, text_kept). Documents
    shorter than ``ngram`` tokens have no windows and pass through
    unchanged; a document that is entirely boilerplate survives with
    text_kept = ''.

    Scale: windows are hashed to md5 BEFORE the frequency shuffle so
    the groupBy moves 16-byte keys, never window text, and is map-side
    combinable; the duplicated-hash set joins back by equi-join
    (fraction of distinct windows on a real crawl — broadcastable when
    small, plain hash join otherwise, never a cartesian). The covered-
    position explode is ``ngram``x the duplicated windows only, and
    the final anti-join + per-doc reassembly group on (doc, pos) /
    doc — bounded by document length, no unbounded window functions.
    Collisions: md5 over 128 bits, negligible at 10^12 windows (same
    budget as ``line_dedup``).
    """
    n = ngram
    base = df.select(F.col(id_col).alias("id"),
                     tokens(text_col).alias("tk"))
    grams = (base.where(F.size("tk") >= n)
             .select("id", F.posexplode(F.transform(
                 F.sequence(F.lit(1), F.size("tk") - n + 1),
                 lambda i: F.concat_ws(" ", F.slice("tk", i, n))))
                 .alias("p0", "gram"))
             .select("id", (F.col("p0") + 1).alias("p"),
                     F.md5("gram").alias("gh")))
    dup = (grams.groupBy("gh")
           .agg(F.countDistinct("id").alias("gdf"))
           .where(F.col("gdf") > max_doc_freq).select("gh"))
    cov = (grams.join(dup, "gh")
           .select("id", F.explode(
               F.sequence(F.col("p"), F.col("p") + n - 1)).alias("pos"))
           .distinct())
    tokpos = (base.select("id", F.posexplode("tk").alias("p0", "tok"))
              .select("id", (F.col("p0") + 1).alias("pos"), "tok"))
    kept = (tokpos.join(cov, ["id", "pos"], "left_anti")
            .groupBy("id")
            .agg(F.count("*").alias("n_kept"),
                 F.concat_ws(" ", F.array_sort(F.collect_list(
                     F.struct("pos", "tok"))).tok).alias("text_kept")))
    totals = base.select("id", F.size("tk").cast("long").alias("n_tokens"))
    return (totals.join(kept, "id", "left")
            .select(F.col("id").alias("doc_id"), "n_tokens",
                    (F.col("n_tokens") -
                     F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
                    F.coalesce("text_kept", F.lit("")).alias("text_kept")))


# --- per-host template (boilerplate) stripping --------------------------------

def host_boilerplate_strip(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           host_col: str = "source",
                           line_words: int = 8, pct: int = 50,
                           min_host_docs: int = 2) -> DataFrame:
    """Remove per-HOST template lines: a line is boilerplate within a
    host when it appears in more than ``pct`` percent of that host's
    documents (and the host has >= ``min_host_docs`` docs). This is the
    site-template variant of :func:`line_dedup` — nav bars and footers
    repeat WITHIN a site even when they are globally rare, which the
    absolute-doc-freq rule misses on small hosts.

    The threshold is the integer cross-multiply
    ``100 * line_docs > pct * host_docs`` (no float ratios -> the
    DuckDB twin is hash-exact by construction).

    Returns (doc_id, host, n_lines, n_kept, text_kept); text_kept is
    the per-document residual in reading order ('' when every line is
    template).

    Scale: line frequencies shuffle on (host, md5(line)) — 16-byte-key,
    map-side combinable, and the composite key spreads one hot host's
    lines across partitions; per-host doc counts are |hosts| rows
    (broadcast); the removal join is an equi-join on (host, lh), never
    a cartesian. Same shape as line_dedup with host prepended to every
    key.
    """
    # stage the token split as a real column: referenced twice below,
    # and CollapseProject keeps multi-use non-cheap aliases materialized
    # (the lang_id_trigram lesson) instead of re-running the regex split
    staged = df.select(F.col(id_col).alias("id"),
                       F.col(host_col).alias("host"),
                       tokens(text_col).alias("__tk"))
    tk = F.col("__tk")
    lines = (staged.select("id", "host",
                           F.posexplode(F.transform(
                               F.sequence(F.lit(1), F.greatest(
                                   ((F.size(tk) + line_words - 1)
                                    / line_words).cast("int"), F.lit(1))),
                               lambda i: F.concat_ws(" ", F.slice(
                                   tk, (i - 1) * line_words + 1,
                                   line_words))))
                           .alias("pos", "line"))
             .where(F.col("line") != "")
             .withColumn("lh", F.md5("line")))
    host_docs = (df.groupBy(F.col(host_col).alias("host"))
                 .agg(F.countDistinct(id_col).alias("host_docs")))
    linefreq = (lines.groupBy("host", "lh")
                .agg(F.countDistinct("id").alias("line_docs")))
    template = (linefreq.join(F.broadcast(host_docs), "host")
                .where((100 * F.col("line_docs") > pct * F.col("host_docs"))
                       & (F.col("host_docs") >= min_host_docs))
                .select("host", "lh"))
    kept = lines.join(template, ["host", "lh"], "left_anti")
    kept_agg = (kept.groupBy("id")
                .agg(F.count("*").alias("n_kept"),
                     F.concat_ws(" ", F.array_sort(F.collect_list(
                         F.struct("pos", "line"))).line).alias("text_kept")))
    totals = (lines.groupBy("id", "host")
              .agg(F.count("*").alias("n_lines")))
    return (totals.join(kept_agg, "id", "left")
            .select(F.col("id").alias("doc_id"), "host", "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("text_kept", F.lit("")).alias("text_kept")))


# --- crawl snapshot delta ------------------------------------------------------

def crawl_delta(old: DataFrame, new: DataFrame, url_col: str = "url",
                text_col: str = "text") -> DataFrame:
    """Classify every URL across two crawl snapshots as added /
    deleted / changed / unchanged (the incremental-recrawl planner:
    only 'added' + 'changed' pages re-enter extraction).

    Content identity is md5 of the text — the full-outer join carries
    16-byte hashes, never page bodies.

    Returns (url, status, content_hash) where content_hash is the NEW
    snapshot's hash (NULL for deleted urls).

    Scale: ONE full-outer equi-join on url between two narrow
    (url, hash) projections. At 100 TB both snapshots are written
    bucketed by url (the ingest table's layout — see
    ``catalog.write_extracted``), so the join is a shuffle-free
    per-bucket zipper; unbucketed it is a single sort-merge shuffle on
    uniformly-distributed url keys, no skew amplification.
    """
    o = old.select(F.col(url_col).alias("url"),
                   F.md5(text_col).alias("h_old"))
    n = new.select(F.col(url_col).alias("url"),
                   F.md5(text_col).alias("h_new"))
    j = o.join(n, "url", "full_outer")
    status = (F.when(F.col("h_old").isNull(), F.lit("added"))
              .when(F.col("h_new").isNull(), F.lit("deleted"))
              .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select("url", status.alias("status"),
                    F.col("h_new").alias("content_hash"))


# --- BM25 retrieval scoring ----------------------------------------------------

def bm25_scores(df: DataFrame, terms: list[str], text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """BM25 (Robertson/Sparck Jones) document scores for a bag-of-words
    query — the retrieval scorer a crawl-curation pipeline uses to mine
    topic-relevant documents (e.g. OpenWebMath-style targeted subsets)
    without embeddings:

        score(d) = sum_t idf(t) * tf * (k1+1)
                            / (tf + k1 * (1 - b + b * dl/avgdl))
        idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)   (Lucene form)

    Only documents matching >= 1 query term appear. Determinism across
    engines: the per-(doc, term) score is rounded to 9 places into
    DECIMAL(20,9) BEFORE the per-doc sum (associative — groupBy merge
    order cannot change the result), then round(6) IN DECIMAL SPACE
    (HALF_UP is identical in both engines) before the one double cast —
    rounding after the cast hit a cross-engine .5-tie at the 7th digit
    (r4 driver: sf0.01 doc 336, 1.037825 vs 1.037824). ``b`` = 0.75 is
    binary-exact; k1 rides as the same nearest-double in both engines.

    Returns (doc_id, n_terms, bm25).

    Scale: tf is one (id, term) groupBy pre-filtered to the query's
    terms (a tiny IN-set pushed to the scan side of the explode);
    df_t/N/avgdl are |terms|-row and 1-row aggregates broadcast to the
    scored stream; no window, no collect, no join wider than the
    query-term set.
    """
    from .skew import spread_small_scan
    staged = spread_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__tk"))
    base = staged.select(
        "id", F.size("__tk").cast("double").alias("dl"), "__tk")
    corpus = base.agg(F.count("*").cast("double").alias("n_docs"),
                      F.sum("dl").alias("sum_dl"))
    # lower AFTER the explode (codegen per row) instead of an
    # interpreted transform() over every token array (r6; HOFs never
    # codegen) — same per-token value, same filtered stream
    tf = (base.select("id", "dl", F.explode("__tk").alias("__t"))
          .select("id", "dl", F.lower("__t").alias("term"))
          .where(F.col("term").isin(*[t.lower() for t in terms]))
          .groupBy("id", "dl", "term")
          .agg(F.count("*").cast("double").alias("tf")))
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("df_t"))
    idf = F.log((F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5) + 1)
    avgdl = F.col("sum_dl") / F.col("n_docs")
    part = F.round(
        idf * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        9).cast("decimal(20,9)")
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(corpus))
              .select("id", part.alias("s")))
    return (scored.groupBy("id")
            .agg(F.count("*").cast("long").alias("n_terms"),
                 F.round(F.sum("s"), 6).cast("double").alias("bm25"))
            .withColumnRenamed("id", "doc_id"))


# --- temperature-flattened domain mixture sampling -----------------------------

def domain_mixture_sample(df: DataFrame, domain_col: str = "source",
                          id_col: str = "doc_id",
                          target_frac: float = 0.5,
                          seed: int = 42) -> DataFrame:
    """Domain-mixture sampling with square-root temperature flattening
    (the GPT-3/PaLM data-mixing step): resample the corpus to
    ``target_frac`` of its size with each domain's share proportional
    to sqrt(n_d) instead of n_d — head domains are down-weighted,
    tail domains up-weighted, and a domain whose flattened quota
    exceeds its size is simply kept whole (rate capped at 1; the cap
    means the realized total can undershoot target_frac, which is the
    standard behavior — epochs-per-domain > 1 is a training-loop
    concern, not a sampling one).

        rate_d = min(1, target_frac * N * (sqrt(n_d)/Z) / n_d),
        Z = sum_d sqrt(n_d)

    Z folds over domains in NAME order (array_sort + F.aggregate ==
    DuckDB list(ORDER BY) + list_reduce, IEEE-identical), so the only
    order-sensitive float sum is deterministic in both engines.
    Membership is the hash-unit filter (md5-derived, partitioning-
    independent — same mechanism as :func:`stratified_sample`).

    Returns the sampled (doc_id, domain) rows.

    Scale: per-domain counts are one map-side-combinable groupBy; the
    rate table is |domains| rows, broadcast; the Z fold happens on a
    1-row aggregate. The corpus itself is touched by exactly one
    broadcast equi-join + filter — no shuffle of document rows.
    """
    from ..functions import hash_unit
    counts = (df.groupBy(F.col(domain_col).alias("domain"))
              .agg(F.count("*").alias("n_d")))
    ztab = (counts.agg(F.array_sort(F.collect_list(
        F.struct("domain", "n_d"))).alias("ds"))
        .select(F.aggregate(F.col("ds"), F.lit(0.0),
                            lambda acc, s: acc + F.sqrt(s["n_d"]))
                .alias("z"),
                F.aggregate(F.col("ds"), F.lit(0).cast("long"),
                            lambda acc, s: acc + s["n_d"])
                .alias("n_total")))
    rates = (counts.crossJoin(F.broadcast(ztab))
             .select("domain", F.least(
                 F.lit(1.0),
                 target_frac * F.col("n_total")
                 * (F.sqrt("n_d") / F.col("z")) / F.col("n_d"))
                 .alias("rate")))
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.col(domain_col).alias("domain"))
            .join(F.broadcast(rates), "domain")
            .where(hash_unit("doc_id", seed=seed) < F.col("rate"))
            .select("doc_id", "domain"))


# --- inverted index construction ----------------------------------------------

def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   max_postings: int = 50) -> DataFrame:
    """Build a positional inverted index: one row per term with its
    document frequency, total occurrence count, and the first
    ``max_postings`` postings (by (doc, position)) encoded as a
    ``doc:pos`` CSV string — the batch index-construction job behind
    any BM25/phrase-query serving layer.

    The posting CAP is the hot-term guard: stop-words occur in nearly
    every document, and an uncapped collect_list would build one
    multi-GB row per stop term at corpus scale. ``df_t`` / ``n_total``
    stay exact (they aggregate before the cap); only the materialized
    posting sample is bounded. Overflow is visible as
    ``n_total > n_postings``.

    Returns (term, df_t, n_total, n_postings, postings).

    Scale: explode -> ONE groupBy on term (map-side combinable for the
    counts); the per-term sort+slice touches at most the collected
    postings of one term per task. At 100 TB the posting lists
    themselves would stream to a term-bucketed sink instead of a
    capped sample (same plan minus the slice) — the cap is what makes
    the single-row-per-term shape safe.
    """
    pos_tok = (df.select(F.col(id_col).alias("doc"),
                         F.posexplode(tokens(text_col)).alias("p0", "t"))
               .select("doc", (F.col("p0") + 1).alias("pos"),
                       F.lower("t").alias("term")))
    return (pos_tok.groupBy("term")
            .agg(F.countDistinct("doc").alias("df_t"),
                 F.count("*").alias("n_total"),
                 F.slice(F.array_sort(F.collect_list(
                     F.struct("doc", "pos"))), 1, max_postings)
                 .alias("__p"))
            .select("term", "df_t", "n_total",
                    F.size("__p").cast("long").alias("n_postings"),
                    F.concat_ws(",", F.transform(
                        "__p", lambda s: F.concat_ws(
                            ":", s["doc"], s["pos"]))).alias("postings")))


# --- benchmark decontamination ------------------------------------------------

def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  ngram: int = 8) -> DataFrame:
    """Flag training documents that overlap an evaluation benchmark
    (the GPT-3-appendix / open-LM-eval decontamination step): a
    document is contaminated when any of its ``ngram``-token windows
    also occurs in any benchmark text.

    Returns (doc_id, n_grams, n_hits, contaminated) — n_hits counts
    overlapping windows (not distinct grams), so downstream can
    threshold instead of hard-dropping.

    Scale: benchmark suites are tiny next to the corpus — their gram
    set broadcasts; the corpus side streams through one hashed-window
    projection + broadcast semi-join + per-doc groupBy. Window hashes
    are md5 (16-byte keys, same budget as line_dedup); the corpus is
    never shuffled on text.
    """
    n = ngram

    def grams(frame: DataFrame, idc, txt) -> DataFrame:
        tk = tokens(txt)
        return (frame.select(F.col(idc).alias("id"), tk.alias("tk"))
                .where(F.size("tk") >= n)
                .select("id", F.explode(F.transform(
                    F.sequence(F.lit(1), F.size("tk") - n + 1),
                    lambda i: F.md5(F.concat_ws(
                        " ", F.slice("tk", i, n))))).alias("gh")))

    bench = (grams(benchmark.select(
        F.lit(0).alias("__bid"), F.col(bench_text_col)), "__bid",
        bench_text_col)
        .select("gh").distinct())
    doc_grams = grams(df, id_col, text_col)
    hits = (doc_grams.join(F.broadcast(bench), "gh")
            .groupBy("id").agg(F.count("*").alias("n_hits")))
    totals = (df.select(F.col(id_col).alias("id"), tokens(text_col)
                        .alias("tk"))
              .select("id", F.greatest(F.size("tk") - n + 1, F.lit(0))
                      .cast("long").alias("n_grams")))
    return (totals.join(hits, "id", "left")
            .select(F.col("id").alias(id_col), "n_grams",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.when(F.coalesce("n_hits", F.lit(0)) > 0, F.lit(1))
                    .otherwise(F.lit(0)).cast("long")
                    .alias("contaminated")))


# --- DSIR importance weights ---------------------------------------------------

def dsir_weights(corpus: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 512) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw-corpus document by how much more
    likely its hashed-bigram features are under the TARGET distribution
    (e.g. a trusted wiki/books subset) than under the raw corpus —
    the weight that importance-resamples a web crawl toward a target
    domain without training a classifier.

        logratio(d) = sum_b tf_db * (ln p_t(b) - ln p_r(b)),
        p(b) = (count_b + 1) / (total + n_buckets)   (add-1 smoothing)

    Features are lowercased word bigrams hashed into ``n_buckets``
    buckets (first-8-hex-md5 mod — the portable ``hash_unit`` family,
    so DuckDB rebuilds identical buckets). Per-bucket log-ratios round
    into DECIMAL(20,9) BEFORE the per-doc sum (associative — the
    unigram_logppl pipeline); tf * decimal products stay exact.

    Returns (doc_id, n_bigrams, logratio) for every corpus doc with
    >= 1 bigram; select by descending logratio (or threshold) to take
    the resampled subset.

    Scale: both bucket-count tables are <= n_buckets rows (broadcast);
    totals are 1-row lazy crossJoin broadcasts (no eager count); the
    corpus touches one (id, bucket) map-side-combinable groupBy and one
    broadcast equi-join — bigram text never shuffles, only 16-hex-char
    hashes reduced to a bucket id.
    """
    B = n_buckets

    def buckets(frame: DataFrame, idc: str, txt: str) -> DataFrame:
        tk = F.transform(tokens(txt), lambda t: F.lower(t))
        staged = frame.select(F.col(idc).alias("id"), tk.alias("__tk"))
        return (staged.where(F.size("__tk") >= 2)
                .select("id", F.explode(F.transform(
                    F.sequence(F.lit(1), F.size("__tk") - 1),
                    lambda i: F.pmod(F.conv(F.substring(F.md5(
                        F.concat_ws(" ", F.slice("__tk", i, 2))),
                        1, 8), 16, 10).cast("long"), F.lit(B))))
                    .alias("b")))

    docb = (buckets(corpus, id_col, text_col)
            .groupBy("id", "b").agg(F.count("*").alias("tf")))
    raw = docb.groupBy("b").agg(F.sum("tf").alias("c_r"))
    tgt = (buckets(target, id_col, text_col)
           .groupBy("b").agg(F.count("*").alias("c_t")))
    tot_t = tgt.agg(F.sum("c_t").cast("double").alias("tt"))
    tot_r = raw.agg(F.sum("c_r").cast("double").alias("rr"))
    lr = (tgt.join(raw, "b", "full_outer")
          .select("b", F.coalesce("c_t", F.lit(0)).alias("c_t"),
                  F.coalesce("c_r", F.lit(0)).alias("c_r"))
          .crossJoin(F.broadcast(tot_t))
          .crossJoin(F.broadcast(tot_r))
          .select("b", F.round(
              F.log((F.col("c_t") + 1).cast("double") / (F.col("tt") + B))
              - F.log((F.col("c_r") + 1).cast("double")
                      / (F.col("rr") + B)), 9)
              .cast("decimal(20,9)").alias("lr")))
    # tf rides as decimal(10,0): a bare long would make the product
    # decimal(41,9) -> Spark's precision-loss rule silently drops the
    # scale to 6 mid-multiply; (10,0) x (20,9) = (31,9) stays exact
    return (docb.join(F.broadcast(lr), "b")
            .groupBy("id")
            .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                 F.round(F.sum(F.col("tf").cast("decimal(10,0)")
                               * F.col("lr")).cast("double"),
                         6).alias("logratio"))
            .withColumnRenamed("id", "doc_id"))


# --- leakage-safe (domain-disjoint) train/val/test split ---------------------

def domain_split(df: DataFrame, url_col: str = "url",
                 weights: dict[str, float] | None = None,
                 seed: int = 42) -> DataFrame:
    """Train/val/test assignment keyed on the REGISTRABLE DOMAIN, not
    the document id: every page of ``example.co.uk`` (all hosts, all
    paths) lands in the same split, so near-duplicate pages and shared
    site boilerplate can never straddle the train/test boundary — the
    standard contamination control for web corpora (plain id-hash
    splits leak template text across splits).

    Pure column expression — ``url_domain``'s InSet PSL cascade +
    ``hash_split``'s md5-unit cascade on the domain string; no joins,
    no shuffle, pushes past the scan like any filter. Docs whose host
    IS a bare public suffix ('' domain) still split deterministically
    (hash of '').
    """
    from ..functions import hash_split
    return df.select(
        "*", url_domain(url_col).alias("domain"),
        hash_split(url_domain(url_col), weights, seed).alias("split"))


def temporal_split(docs: DataFrame, published: DataFrame,
                   cutoff: str, unknown: str = "train",
                   url_col: str = "url") -> DataFrame:
    """Time-based holdout split: documents whose extracted publication
    date (``pagemeta.publish_date`` output: url, published, ...) is
    AFTER ``cutoff`` go to ``holdout``, the rest to ``train`` — the
    temporal decontamination control (an eval set drawn from
    post-cutoff documents cannot have leaked into training, whatever
    near-dup pages slipped past content dedup). Documents with no
    extracted date take the ``unknown`` policy split ('train' keeps
    recall, 'holdout'/'drop' keeps the boundary conservative).

    Plan: ONE left hash join on url against the (tiny) per-page date
    table, then a codegen CASE — ISO-8601 strings compare
    lexicographically, so the cutoff is a plain string comparison and
    no date parsing reaches the plan. At 100 TB the date table is one
    short row per dated page and broadcasts.
    """
    dated = published.select(F.col("url").alias("__u"), "published")
    split = (F.when(F.col("published").isNull(), F.lit(unknown))
             .when(F.col("published") > F.lit(cutoff), F.lit("holdout"))
             .otherwise(F.lit("train")))
    return (docs.select(F.col(url_col).alias("url"))
            .join(dated, F.col("url") == F.col("__u"), "left")
            .select("url", "published", split.alias("split")))


def snapshot_latest(df: DataFrame, url_col: str = "url",
                    ts_col: str = "fetch_ts",
                    text_col: str = "text") -> DataFrame:
    """Latest-wins consolidation of a multi-snapshot crawl union: one
    row per URL — the newest fetch, ties broken by content hash (the
    deterministic tiebreak a re-crawled-same-second page needs).

    This is the step between raw Common-Crawl dumps (each URL appears
    in many monthly snapshots) and a dedup-ready corpus; running it
    BEFORE near-dup detection removes the dominant trivial duplicate
    class (the same page re-fetched) for the cost of one shuffle.

    Scale: one window keyed on url (uniform keys). With snapshots
    written bucketed by url (the ingest layout), the window needs no
    exchange at all — sort within co-located buckets.
    """
    w = (Window.partitionBy(F.col(url_col))
         .orderBy(F.col(ts_col).desc(), F.md5(F.col(text_col)).desc()))
    return (df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .drop("_rk"))


def corpus_token_budget(df: DataFrame, group_cols: list[str],
                        text_col: str = "text") -> DataFrame:
    """Token accounting per corpus slice — the table a training-mix
    planner actually reads (how many tokens does each (lang, split)
    hold, and what corpus share is that): doc count, token total, and
    share in basis points (integer cross-multiply via ``div`` —
    float-free, driver-hashable).

    Scale: ONE map-side-combinable groupBy; the corpus total rides a
    lazy 1-row aggregate crossJoin (never an eager .count())."""
    from .textstats import token_count
    per = (df.groupBy(*group_cols)
           .agg(F.count("*").alias("n_docs"),
                F.sum(token_count(text_col)).cast("long")
                .alias("n_tokens")))
    total = per.agg(F.sum("n_tokens").alias("_tt"))
    return (per.crossJoin(F.broadcast(total))
            .select(*group_cols, "n_docs", "n_tokens",
                    F.expr("(n_tokens * 10000) div _tt").cast("long")
                    .alias("share_bp")))


# --- document-level blocklist gate (C4 "bad words") ---------------------------

def blocklist_gate(df: DataFrame, terms: list[str],
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """C4's document-level blocklist gate (Raffel et al. 2020 §2.2:
    any page containing a word on the block list is removed). Returns
    (id, n_hits, keep) where n_hits counts the DISTINCT blocked terms
    present as whitespace tokens (case-insensitive) and keep is
    n_hits == 0 — callers filter or audit on it.

    The term list rides as an array literal (curation blocklists are
    hundreds of words — a driver-side constant, never a join side).

    Scale: pure codegen projection — array_intersect against a literal
    array, zero joins, zero shuffles; the filter pushes past the
    scan's column pruning like any other predicate.
    """
    lows = F.array_distinct(F.transform(tokens(text_col),
                                        lambda t: F.lower(t)))
    lit = F.array(*[F.lit(t) for t in sorted(set(terms))])
    hits = F.size(F.array_intersect(lows, lit)).cast("long")
    return df.select(F.col(id_col), hits.alias("n_hits"),
                     (hits == F.lit(0)).alias("keep"))


# --- URL quality filter (RefinedWeb-style) ------------------------------------

URL_SOFT_WORDS = ("download", "signup", "login", "search", "session",
                  "redirect", "tracker")


def url_quality(df: DataFrame, url_col: str = "url",
                id_col: str = "doc_id",
                banned_domains: tuple[str, ...] = (),
                soft_words: tuple[str, ...] = URL_SOFT_WORDS,
                max_soft: int = 1,
                max_digit_bp: int = 2000) -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1): score
    every URL before its body is ever fetched/extracted — (a)
    hard-banned registrable domains, (b) "soft" spam words appearing
    anywhere in the lowercased URL, (c) digit share of the host
    (spam/CDN hosts are digit-heavy). Returns (id, domain, n_soft,
    digit_bp, keep) with keep = not banned AND n_soft <= max_soft AND
    digit_bp <= max_digit_bp. digit_bp is integer basis points
    ((digits * 10000) div len(host)) — no float thresholds anywhere in
    the gate, so the driver hash never sees a double.

    Scale: pure column expressions (PSL InSet cascade for the domain,
    instr probes for the soft words, regexp strip for the digit
    count) — zero joins/shuffles; runs at the crawl frontier BEFORE
    page bodies exist, so it prunes fetch volume, not just rows.
    """
    u = F.lower(F.col(url_col))
    n_soft = F.lit(0).cast("long")
    for w in sorted(set(soft_words)):
        n_soft = n_soft + (F.instr(u, w) > 0).cast("long")
    staged = df.select(
        F.col(id_col), url_domain(url_col).alias("domain"),
        n_soft.alias("n_soft"),
        F.length(F.regexp_replace(url_host(url_col), "[^0-9]", ""))
        .cast("long").alias("_nd"),
        F.length(url_host(url_col)).cast("long").alias("_hl"))
    digit_bp = (F.when(F.col("_hl") > 0,
                       F.expr("(_nd * 10000) div _hl"))
                .otherwise(F.lit(0))).cast("long")
    banned = (F.col("domain").isin(*sorted(banned_domains))
              if banned_domains else F.lit(False))
    staged = staged.withColumn("digit_bp", digit_bp)
    return staged.select(
        F.col(id_col), "domain", "n_soft", "digit_bp",
        (~banned & (F.col("n_soft") <= max_soft)
         & (F.col("digit_bp") <= max_digit_bp)).alias("keep"))


# --- recrawl priority (multi-snapshot change history) --------------------------

def recrawl_priority(snapshots: DataFrame, url_col: str = "url",
                     ts_col: str = "fetch_ts",
                     text_col: str = "text",
                     hot_bp: int = 5000) -> DataFrame:
    """Crawl-frontier scheduling signal from a multi-snapshot history:
    per URL, how often did the content actually change between
    fetches? change_bp = ((distinct_versions - 1) * 10000) div
    (fetches - 1) — 0 for never-changed or single-fetch URLs, 10000
    for changed-every-fetch. priority buckets: 'hot' (>= hot_bp),
    'warm' (> 0), 'cold' (0) — the recrawl planner fetches hot URLs
    every snapshot, samples warm, and skips cold (the incremental
    complement of ``crawl_delta``, which diffs exactly two snapshots).

    Content identity is md5 of the text: the aggregate carries 16-byte
    hashes, never page bodies.

    Scale: ONE map-side-combinable groupBy on url (uniform keys);
    count(DISTINCT md5) is bounded by the snapshot count per URL, so
    no group ever grows beyond the number of crawls.
    """
    g = (snapshots.groupBy(F.col(url_col).alias("url"))
         .agg(F.count("*").cast("long").alias("n_fetches"),
              F.countDistinct(F.md5(text_col)).cast("long")
              .alias("n_versions"),
              F.max(F.col(ts_col)).cast("long").alias("last_ts")))
    change_bp = (F.when(F.col("n_fetches") > 1,
                        F.expr("((n_versions - 1) * 10000)"
                               " div (n_fetches - 1)"))
                 .otherwise(F.lit(0))).cast("long")
    g = g.withColumn("change_bp", change_bp)
    pri = (F.when(F.col("change_bp") >= hot_bp, F.lit("hot"))
           .when(F.col("change_bp") > 0, F.lit("warm"))
           .otherwise(F.lit("cold")))
    return g.select("url", "n_fetches", "n_versions", "last_ts",
                    "change_bp", pri.alias("priority"))


def cdx_fetch_plan(cdx: DataFrame,
                   mimes: tuple[str, ...] = ("text/html",),
                   statuses: tuple[int, ...] = (200,)) -> DataFrame:
    """Fetch planning over the CDX capture index (rows of
    ``extractor/cdxx.parse_cdxj``): gate captures by status/mime,
    then collapse every digest-identical group to ONE record locator
    — exact payload dedup BEFORE any WARC byte is read. The production
    pre-fetch move: Common Crawl crawls re-capture unchanged pages
    constantly, so digest dedup at the index prunes archive IO by the
    duplicate ratio (bytes_saved accounts for it per row).

    The kept copy is deterministic: minimum (ts, urlkey, filename,
    offset) — a total order, so no tie ambiguity cross-engine.
    Output: (digest, url, urlkey, ts, filename, offset, length,
    n_copies, bytes_saved) — (filename, offset, length) address each
    kept member for a ranged read.

    Scale: one filter (pushed to the index scan) + ONE map-side-
    combinable groupBy on digest (hash keys, uniform); the aggregate
    carries one small struct per group, never payloads.
    """
    key = F.struct(F.col("ts"), F.col("urlkey"), F.col("filename"),
                   F.col("offset"))
    gated = cdx.where(F.col("status").isin(*statuses)
                      & F.col("mime").isin(*mimes))
    pick = (gated.groupBy("digest")
            .agg(F.min_by(
                    F.struct("url", "urlkey", "ts", "filename",
                             "offset", "length"), key).alias("r"),
                 F.count("*").cast("long").alias("n_copies"),
                 F.sum("length").cast("long").alias("bytes_all")))
    return pick.select(
        "digest", F.col("r.url").alias("url"),
        F.col("r.urlkey").alias("urlkey"), F.col("r.ts").alias("ts"),
        F.col("r.filename").alias("filename"),
        F.col("r.offset").alias("offset"),
        F.col("r.length").alias("length"), "n_copies",
        (F.col("bytes_all") - F.col("r.length")).cast("long")
        .alias("bytes_saved"))


def frontier_candidates(discovered: DataFrame, captured: DataFrame,
                        url_col: str = "loc",
                        hot_freqs: tuple[str, ...] = ("always", "hourly",
                                                      "daily"),
                        hot_bp: int = 7000) -> DataFrame:
    """Crawl-frontier planning: URLs discovered via sitemaps/feeds
    that the crawl has NEVER captured — an anti-join on SURT urlkey
    against the CDX capture index, so ``http://www.a.com/p?b=1&a=2`` and
    ``https://a.com/p?a=2&b=1`` are recognized as the same page.

    Each candidate gets a deterministic priority bucket from the
    sitemap's own hints: 'high' when changefreq is in ``hot_freqs``
    OR priority_bp >= ``hot_bp``, else 'normal' when either hint is
    present, else 'low' — the fetch scheduler's admission order.

    Output: (url, urlkey, changefreq, priority_bp, priority).

    Scale: ONE shuffle pair — both sides hash-partition on urlkey;
    the captured side is projected to its urlkey column only (the
    scan prunes to one column) and deduplicated map-side by the
    left_anti join itself. No window, no collect.
    """
    from ..functions import surt_urlkey

    disc = discovered.select(
        F.col(url_col).alias("url"),
        surt_urlkey(url_col).alias("urlkey"),
        (F.col("changefreq") if "changefreq" in discovered.columns
         else F.lit(None).cast("string")).alias("changefreq"),
        (F.col("priority_bp") if "priority_bp" in discovered.columns
         else F.lit(None).cast("int")).alias("priority_bp"))
    novel = disc.join(captured.select("urlkey"), "urlkey", "left_anti")
    pri = (F.when(F.col("changefreq").isin(*hot_freqs)
                  | (F.col("priority_bp") >= hot_bp), F.lit("high"))
           .when(F.col("changefreq").isNotNull()
                 | F.col("priority_bp").isNotNull(), F.lit("normal"))
           .otherwise(F.lit("low")))
    return novel.select("url", "urlkey", "changefreq", "priority_bp",
                        pri.alias("priority"))


def retention_funnel(df: DataFrame,
                     gates: list[tuple[str, Column]]) -> DataFrame:
    """Pipeline observability: per ordered curation gate, how many
    rows enter it and how many survive — the retention report every
    published curation pipeline quotes (URL filter -> language ->
    quality -> dedup each keep X%). Gates are (name, boolean column)
    applied CUMULATIVELY: a row enters gate k only if gates 1..k-1
    all passed; NULL gate values count as failures.

    Output: (stage_idx, stage, n_in, n_out, kept_bp) — kept_bp =
    n_out / n_in in integer basis points (NULL when nothing enters).

    Scale: ONE pass over the corpus — each row is reduced to the
    index of its FIRST failing gate (a codegen CASE chain), then one
    tiny groupBy on that index; the per-stage table is derived from
    the histogram, never from re-scanning. L gates cost 1 scan, not L.
    """
    n_gates = len(gates)
    if n_gates == 0:
        raise ValueError("retention_funnel needs at least one gate")
    first_fail = F.lit(n_gates + 1)
    for i in range(n_gates, 0, -1):
        cond = gates[i - 1][1]
        first_fail = F.when(~F.coalesce(cond, F.lit(False)),
                            F.lit(i)).otherwise(first_fail)
    hist = (df.select(first_fail.alias("ff"))
            .groupBy("ff").agg(F.count("*").alias("cnt"))
            # global agg -> ALWAYS one row (array may be empty), so an
            # empty corpus still reports every stage at 0/0
            .agg(F.collect_list(F.struct("ff", "cnt")).alias("h")))
    stage_lit = F.array(*[
        F.struct(F.lit(i).alias("stage_idx"),
                 F.lit(name).alias("stage"))
        for i, (name, _) in enumerate(gates, start=1)])
    stages = (df.sparkSession.range(1)
              .select(F.explode(stage_lit).alias("s"))
              .select("s.stage_idx", "s.stage"))
    agg = (stages.crossJoin(hist)          # 1-row broadcast side
           .select(
               "stage_idx", "stage",
               F.expr("aggregate(filter(h, e -> e.ff >= stage_idx),"
                      " 0L, (a, e) -> a + e.cnt)").alias("n_in"),
               F.expr("aggregate(filter(h, e -> e.ff > stage_idx),"
                      " 0L, (a, e) -> a + e.cnt)").alias("n_out")))
    return agg.select(
        "stage_idx", "stage", "n_in", "n_out",
        F.when(F.col("n_in") > 0,
               F.expr("n_out * 10000 div n_in")).cast("long")
        .alias("kept_bp"))


def fetch_schedule(candidates: DataFrame, per_host_budget: int = 4,
                   url_col: str = "url",
                   urlkey_col: str = "urlkey",
                   priority_col: str = "priority") -> DataFrame:
    """Politeness scheduling over frontier candidates
    (``frontier_candidates`` output): assign every URL a fetch batch
    such that no batch holds more than ``per_host_budget`` URLs of
    one host — the crawler's per-origin rate limit — while distinct
    hosts proceed in parallel. Within a host, 'high' priority URLs
    fill the earliest batches; ties break on url so the schedule is
    total and reproducible.

    The host is the SURT urlkey's host prefix (label-reversed,
    INCLUDING a non-default port — politeness is per origin), so no
    re-parsing of the raw url. Output: (url, host, batch, slot) with
    slot in [0, per_host_budget) inside the batch.

    Scale: ONE window partitioned by host — partition size = URLs per
    host in the frontier, bounded in practice by per-host discovery
    caps (``skew.cap_per_host`` upstream if a host explodes); no
    global sort, no collect. Batch k is recovered by a partition-
    pruned ``batch = k`` filter at fetch time.
    """
    if per_host_budget <= 0:
        raise ValueError("per_host_budget must be positive")
    host = F.split(F.col(urlkey_col), r"\)").getItem(0)
    pr = (F.when(F.col(priority_col) == "high", 0)
          .when(F.col(priority_col) == "normal", 1)
          .otherwise(2))
    w = Window.partitionBy("host").orderBy("pr", url_col)
    ranked = (candidates.select(F.col(url_col).alias("url"),
                                host.alias("host"), pr.alias("pr"))
              .withColumn("rk", F.row_number().over(w) - 1))
    return ranked.select(
        "url", "host",
        F.expr(f"rk div {per_host_budget}").cast("long").alias("batch"),
        (F.col("rk") % per_host_budget).cast("long").alias("slot"))


def host_reputation(df: DataFrame, url_col: str = "url",
                    text_col: str = "text",
                    min_keep_bp: int = 3000,
                    max_dup_bp: int = 5000) -> DataFrame:
    """Domain-level reputation table — the aggregate curation signal
    spam demotion and crawl-budget allocation read: per registrable
    domain (PSL eTLD+1), corpus volume, learned-gate keep rate,
    exact-duplicate rate, and total classifier score; ``flagged``
    marks domains whose keep rate falls below ``min_keep_bp`` OR
    whose dup rate exceeds ``max_dup_bp`` (template farms).

    Output: (domain, n_docs, keep_bp, dup_bp, score_sum_micro,
    flagged). score_sum_micro is the raw int64 sum (NOT an average:
    integer division of negative sums truncates differently across
    engines; consumers divide at display time).

    Scale: a map-only projection (PSL InSet domain + classifier score
    + md5) followed by ONE map-side-combinable groupBy on domain;
    the aggregate carries a 16-byte hash and three int64s per row.
    """
    from . import qmodel
    from .quality import quality_score_micro
    from .textstats import tokens as _tokens

    score = quality_score_micro(text_col).cast("long")
    n_tok = F.size(_tokens(text_col)).cast("long")
    keep = (score > F.lit(-qmodel.BIAS_MICRO).cast("long") * n_tok
            ).cast("long")
    rows = df.select(url_domain(url_col).alias("domain"),
                     score.alias("score"), keep.alias("keep"),
                     F.md5(text_col).alias("h"))
    g = rows.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.countDistinct("h").cast("long").alias("n_distinct"),
        F.sum("score").cast("long").alias("score_sum_micro"))
    out = g.select(
        "domain", "n_docs",
        F.expr("n_keep * 10000 div n_docs").cast("long")
        .alias("keep_bp"),
        F.expr("(n_docs - n_distinct) * 10000 div n_docs")
        .cast("long").alias("dup_bp"), "score_sum_micro")
    return out.withColumn(
        "flagged", (F.col("keep_bp") < min_keep_bp)
                   | (F.col("dup_bp") > max_dup_bp))


def crawl_trap_score(captures: DataFrame, url_col: str = "url",
                     digest_col: str = "digest",
                     min_urls: int = 20,
                     trap_bp: int = 50000) -> DataFrame:
    """Crawl-trap detection over capture history (CDX rows or any
    (url, content-digest) table): a trap host (calendar pages,
    session-id urls, faceted search) mints unbounded DISTINCT URLs
    for a tiny set of DISTINCT CONTENTS. Per host:
    urls_per_content_bp = n_urls * 10000 div n_contents; hosts with
    >= ``min_urls`` urls and a ratio >= ``trap_bp`` (default 5x) are
    flagged — the frontier scheduler demotes them before they eat
    the fetch budget.

    Output: (host, n_urls, n_contents, urls_per_content_bp, trap).

    Scale: ONE groupBy on host carrying two distinct-counts (url
    strings hash-aggregate map-side; digests are 16 bytes) — runs on
    the INDEX, never on page bodies.
    """
    rows = captures.select(url_host(url_col).alias("host"),
                           F.col(url_col).alias("u"),
                           F.col(digest_col).alias("d"))
    g = (rows.where(F.col("host") != "")
         .groupBy("host")
         .agg(F.countDistinct("u").cast("long").alias("n_urls"),
              F.countDistinct("d").cast("long").alias("n_contents")))
    ratio = F.expr("n_urls * 10000 div n_contents")
    return (g.select("host", "n_urls", "n_contents",
                     ratio.cast("long").alias("urls_per_content_bp"))
            .withColumn("trap",
                        (F.col("n_urls") >= min_urls)
                        & (F.col("urls_per_content_bp") >= trap_bp)))


def resolve_revisits(revisits: DataFrame, plan: DataFrame,
                     url_col: str = "url") -> DataFrame:
    """Resolve WARC revisit records (bodyless digest pointers —
    production archives' write-time dedup) against a fetch plan
    (``cdx_fetch_plan`` output): every revisit URL gets the record
    locator of the stored canonical copy of its payload, so a ranged
    read can serve the revisit's content without the archive ever
    storing the duplicate bytes.

    Output: (url, warc_ts, digest, filename, offset, length,
    canonical_url). Revisits whose digest is not in the plan resolve
    to no row (the archive lost/never-kept that payload — surface
    the gap, don't invent bytes).

    Scale: ONE equi-join on digest (crypto-hash keys, uniform); the
    plan side is one row per distinct payload — broadcast when it
    fits (AQE decides).
    """
    p = plan.select("digest", F.col("url").alias("canonical_url"),
                    "filename", "offset", "length")
    return (revisits.select(F.col(url_col).alias("url"), "warc_ts",
                            "digest")
            .join(p, "digest")
            .select("url", "warc_ts", "digest", "filename", "offset",
                    "length", "canonical_url"))


# --- soft-404 / error-page gate -----------------------------------------------

# phrase list a crawl pipeline matches against fetched-200 pages that
# are actually error shells (soft 404s); lowercase substring matches,
# RE2-free so both engines agree byte-for-byte. The DuckDB oracle
# OR-chain is GENERATED from this tuple (queries/quality.py) — edit here
# only. No entry may be a substring of another (it would be dead).
SOFT404_PHRASES = ("not found", "access denied", "forbidden",
                   "does not exist", "no longer available",
                   "temporarily unavailable")


def _soft404_exprs(text_col: str, max_error_words: int):
    """(has_404, has_error_phrase, n_words, is_short, soft404) column
    expressions of the gate operator."""
    low = F.lower(F.col(text_col))
    has_404 = low.contains("404")
    has_phrase = None
    for p in SOFT404_PHRASES:
        hit = low.contains(p)
        has_phrase = hit if has_phrase is None else (has_phrase | hit)
    n_words = F.size(tokens(text_col))
    is_short = n_words <= F.lit(max_error_words)
    soft404 = (has_404 & has_phrase) | (has_phrase & is_short)
    return has_404, has_phrase, n_words, is_short, soft404


def header_robots_gate(df: DataFrame, xr_col: str = "x_robots",
                       id_col: str = "url") -> DataFrame:
    """X-Robots-Tag gate — the HTTP-header twin of the meta-robots
    noindex gate, and the ONLY noindex channel for non-HTML payloads
    (PDFs, images). Directive grammar (RFC 9309 appendix / Google
    spec): comma-separated tokens, each optionally agent-scoped
    (``googlebot: noindex``); ``none`` = noindex + nofollow. Agent
    scoping is ignored on purpose (conservative: ANY-agent noindex
    drops the capture — a training pipeline has no agent identity to
    match). Token-level matching, never substring (``nonessential``
    must not read as ``none``): split on commas, strip the agent
    prefix, trim, exact compare — all codegen array expressions,
    map-only, no Python."""
    low = F.lower(F.coalesce(F.col(xr_col), F.lit("")))
    toks = F.transform(
        F.split(low, ","),
        lambda x: F.trim(F.regexp_replace(x, "^.*:", "")))

    def has(t: str):
        return F.array_contains(toks, F.lit(t))
    noindex = has("noindex") | has("none")
    nofollow = has("nofollow") | has("none")
    return df.select(
        F.col(id_col),
        F.col(xr_col),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        has("noarchive").alias("noarchive"),
        has("nosnippet").alias("nosnippet"),
        (~noindex).alias("keep"),
    )


def link_header_relations(df: DataFrame, link_col: str = "link_header",
                          id_col: str = "url") -> DataFrame:
    """HTTP Link header (RFC 8288) -> one row per (href, rel-token)
    — the protocol-layer discovery channel (rel=next pagination for
    PDFs/APIs, rel=canonical, rel=alternate feeds) that the HTML
    <link> satellites can never see.

    The grammar constants live Spark-free in ``extractor/warcx.py``
    (parse_link_header is the pure oracle; the DuckDB twin is
    generated from the same constants): entities scanned as
    ``<URI>[^<]*`` so quoted commas never split, quoted multi-rel
    preferred over unquoted, boundary-guarded case-insensitive
    param match, rel tokens lowercased. Map-only: one
    regexp_extract_all + two posexplode-free explodes in the scan
    stage — at 100 TB header strings are tiny and this never
    shuffles."""
    from ..extractor.warcx import (LINK_ENTITY_RE, LINK_REL_Q_RE,
                                   LINK_REL_U_RE, LINK_TOKEN_SPLIT_RE)
    ents = F.regexp_extract_all(
        F.col(link_col), F.lit(LINK_ENTITY_RE), F.lit(0))
    base = df.select(F.col(id_col).alias("url"),
                     F.explode(ents).alias("ent"))
    href = F.regexp_extract("ent", "^<([^>]*)>", 1)
    rel_q = F.regexp_extract("ent", LINK_REL_Q_RE, 2)
    rel_u = F.regexp_extract("ent", LINK_REL_U_RE, 2)
    rel = F.when(rel_q != "", rel_q).otherwise(rel_u)
    return (base.select("url", href.alias("href"), rel.alias("rel"))
            .where((F.col("href") != "") & (F.col("rel") != ""))
            .select("url", "href",
                    F.explode(F.split("rel", LINK_TOKEN_SPLIT_RE))
                    .alias("tok"))
            .where(F.col("tok") != "")
            .select("url", "href", F.lower("tok").alias("rel")))


CONSENT_PHRASES = ("we use cookies", "uses cookies", "accept all cookies",
                   "cookie policy", "cookie settings",
                   "consent to the use of cookies", "manage preferences",
                   "accept cookies")
PAYWALL_PHRASES = ("subscribe to continue", "to continue reading",
                   "already a subscriber", "sign in to read",
                   "subscribers only", "become a member",
                   "free articles remaining", "start your free trial")


def _phrase_hits(low, phrases) -> Column:
    """Integer count of DISTINCT phrases present (0/1 per phrase,
    summed column-wise — stays a codegen projection, no UDF)."""
    hits = None
    for p in phrases:
        h = F.when(low.contains(p), 1).otherwise(0)
        hits = h if hits is None else (hits + h)
    return hits


def _interstitial_exprs(text_col: str, max_shell_words: int):
    """(consent_hits, paywall_hits, n_words, is_short, consent_shell,
    paywalled) column expressions of the gate operator."""
    low = F.lower(F.col(text_col))
    consent_hits = _phrase_hits(low, CONSENT_PHRASES)
    paywall_hits = _phrase_hits(low, PAYWALL_PHRASES)
    n_words = F.size(tokens(text_col))
    is_short = n_words <= F.lit(max_shell_words)
    return (consent_hits, paywall_hits, n_words, is_short,
            (consent_hits >= 2) & is_short, paywall_hits >= 1)


def interstitial_gate(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_shell_words: int = 80) -> DataFrame:
    """Consent-banner / paywall interstitial detection: extraction on
    a blocked page yields the BANNER, not the article ("we use
    cookies... accept all"), and paywalled pages yield a teaser plus
    the subscribe prompt — both pollute a training corpus and cluster
    together in dedup. Heuristic (phrase pile-up + brevity, the
    soft404 shape):

      consent_hits  how many DISTINCT CONSENT_PHRASES appear
      paywall_hits  how many DISTINCT PAYWALL_PHRASES appear
      is_short      word count <= ``max_shell_words``
      consent_shell = consent_hits >= 2 AND is_short (an article that
                      merely CARRIES a banner is long; a consent SHELL
                      is mostly banner)
      paywalled     = paywall_hits >= 1 (flagged even when long — the
                      teaser is real text but TRUNCATED content)
      keep          = NOT consent_shell AND NOT (paywalled AND is_short)

    All signals are contains/size comparisons — map-only codegen
    projection, no shuffle, scan-bound at 100 TB like the other gates.
    """
    (consent_hits, paywall_hits, n_words, is_short, consent_shell,
     paywalled) = _interstitial_exprs(text_col, max_shell_words)
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        consent_hits.cast("long").alias("consent_hits"),
        paywall_hits.cast("long").alias("paywall_hits"),
        is_short.alias("is_short"),
        consent_shell.alias("consent_shell"),
        paywalled.alias("paywalled"),
        (~consent_shell & ~(paywalled & is_short)).alias("keep"),
    )


def soft404_gate(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 max_error_words: int = 30) -> DataFrame:
    """Soft-404 / error-page detection: HTTP-200 pages whose body is an
    error shell ("404 - page not found", "access denied", ...) pollute
    a corpus and every dedup cluster they join. Heuristic (the
    phrase-list + brevity detector crawl pipelines run at ingest):

      has_404          '404' appears in the text
      has_error_phrase any SOFT404_PHRASES substring (lowercased)
      is_short         word count <= ``max_error_words``
      soft404          = (has_404 AND has_error_phrase)
                         OR (has_error_phrase AND is_short)
      keep             = NOT soft404

    A long page that merely DISCUSSES 404s is kept (phrase without
    brevity and without a literal '404' co-occurrence). All signals
    are plain contains/size comparisons — map-only codegen projection,
    no shuffle, scan-bound at 100 TB like the other gates.
    """
    has_404, has_phrase, n_words, is_short, soft404 = _soft404_exprs(
        text_col, max_error_words)
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        has_404.alias("has_404"),
        has_phrase.alias("has_error_phrase"),
        is_short.alias("is_short"),
        soft404.alias("soft404"),
        (~soft404).alias("keep"),
    )


PARKED_PHRASES = ("this domain is for sale", "buy this domain",
                  "domain is parked", "the domain owner is",
                  "interested in this domain",
                  "domain name registration")


def parked_gate(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                max_thin_words: int = 120) -> DataFrame:
    """Parked-domain detection: registrar placeholder pages ("this
    domain is for sale") are crawl noise that survives soft-404
    gates (they return 200 with real-looking prose). Heuristic (the
    soft404 shape):

      parked_hits  how many DISTINCT PARKED_PHRASES appear
      is_thin      word count <= ``max_thin_words``
      parked       = parked_hits >= 2 OR (parked_hits >= 1 AND
                     is_thin) — an article DISCUSSING domain sales
                     is long and rarely stacks two registrar phrases
      keep         = NOT parked

    Map-only codegen projection, no shuffle, scan-bound at 100 TB
    like the other gates. Phrase table GENERATED into the DuckDB
    twin (the soft404 precedent).
    """
    low = F.lower(F.col(text_col))
    parked_hits = _phrase_hits(low, PARKED_PHRASES)
    n_words = F.size(tokens(text_col))
    is_thin = n_words <= F.lit(max_thin_words)
    parked = (parked_hits >= 2) | ((parked_hits >= 1) & is_thin)
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        parked_hits.cast("long").alias("parked_hits"),
        is_thin.alias("is_thin"),
        parked.alias("parked"),
        (~parked).alias("keep"),
    )


# --- served-vs-sniffed content-type gate -------------------------------------

# registered MIME -> extractor kind (extractor/sniff.py's vocabulary).
# The CASE chain both engines run is GENERATED from this table.
MIME_KIND_MAP: tuple[tuple[str, str], ...] = (
    ("text/html", "html"),
    ("application/xhtml+xml", "html"),
    ("text/xml", "html"),
    ("application/xml", "html"),
    ("application/pdf", "pdf"),
    ("application/zip", "zip"),
    ("application/epub+zip", "zip"),
    ("application/vnd.oasis.opendocument.text", "zip"),
    ("application/vnd.openxmlformats-officedocument."
     "wordprocessingml.document", "zip"),
    ("application/vnd.openxmlformats-officedocument."
     "presentationml.presentation", "zip"),
)


def mime_norm_expr(ct_col: str) -> str:
    """Normalize a Content-Type header to its bare lowercase MIME
    (parameters stripped). split_part exists with identical semantics
    in Spark >= 3.5 and DuckDB — the expr string is shared verbatim."""
    return f"lower(trim(split_part(coalesce({ct_col}, ''), ';', 1)))"


def expected_kind_case(norm: str) -> str:
    """Shared CASE chain mapping a normalized MIME to the sniffer's
    kind vocabulary; unregistered (or absent) types -> 'unknown',
    which the gate never flags (text/plain, images, fonts... are not
    lies, just out of extraction scope)."""
    whens = " ".join(f"WHEN '{m}' THEN '{k}'" for m, k in MIME_KIND_MAP)
    return f"CASE {norm} {whens} ELSE 'unknown' END"


def content_type_mismatch(df: DataFrame, url_col: str = "url",
                          ct_col: str = "content_type",
                          kind_col: str = "sniffed_kind") -> DataFrame:
    """Served-vs-actual format gate over a capture view (e.g.
    ``sources.read_warc_captures``): a server that says text/html but
    ships PDF bytes (or vice versa) is mislabeling — a classic spam /
    cloaking / misconfiguration signal, and a row the extraction
    dispatcher must route by SNIFF, never by header (which this
    engine already does; the gate makes the discrepancy observable).

    Output: (url, mime_norm, expected_kind, sniffed_kind, mismatch).
    Scale: map-only codegen projection — one CASE chain, no Python,
    no shuffle.
    """
    norm = mime_norm_expr(ct_col)
    expected = expected_kind_case("mime_norm")
    return (df.select(F.col(url_col).alias("url"),
                      F.expr(norm).alias("mime_norm"),
                      F.col(kind_col).alias("sniffed_kind"))
            .withColumn("expected_kind", F.expr(expected))
            .withColumn("mismatch",
                        (F.col("expected_kind") != F.lit("unknown"))
                        & (F.col("expected_kind")
                           != F.col("sniffed_kind")))
            .select("url", "mime_norm", "expected_kind",
                    "sniffed_kind", "mismatch"))


def fetch_schedule_delayed(candidates: DataFrame, delays: DataFrame,
                           per_host_budget: int = 4,
                           default_delay_ms: int = 1000,
                           url_col: str = "url",
                           urlkey_col: str = "urlkey",
                           priority_col: str = "priority") -> DataFrame:
    """``fetch_schedule`` + Crawl-delay pacing: alongside (batch,
    slot), every URL gets ``not_before_ms`` — the earliest offset
    from the host's crawl start at which its batch may fire:
    ``batch * coalesce(declared_delay_ms, default)``. ``delays`` is
    a (host, crawl_delay_ms) table from ``robots.parse_crawl_delay``
    over fetched robots.txt payloads (parsed host-side in Python, so
    the milliseconds are integers BEFORE any engine arithmetic — the
    schedule math is pure int64, engine-exact). A declared delay
    SMALLER than the default is honored as declared (the host
    explicitly allows the faster pace).

    Scale: the delays table is |hosts| rows — broadcast; one window
    (inherited from fetch_schedule) + one broadcast hash join.
    """
    sched = fetch_schedule(candidates, per_host_budget,
                           url_col=url_col, urlkey_col=urlkey_col,
                           priority_col=priority_col)
    d = delays.select(F.col("host"),
                      F.col("crawl_delay_ms").cast("long"))
    return (sched.join(F.broadcast(d), "host", "left")
            .withColumn("delay_ms",
                        F.coalesce(F.col("crawl_delay_ms"),
                                   F.lit(default_delay_ms))
                        .cast("long"))
            .withColumn("not_before_ms",
                        (F.col("batch") * F.col("delay_ms"))
                        .cast("long"))
            .select("url", "host", "batch", "slot", "delay_ms",
                    "not_before_ms"))


# --- mailing-list reply hygiene ----------------------------------------------


def redirect_chains(captures: DataFrame, max_hops: int = 8
                    ) -> DataFrame:
    """Resolve HTTP redirect chains within a capture view (e.g.
    ``sources.read_warc_captures``): per chain HEAD (a 3xx capture no
    other 3xx points at), follow ``Location`` through further 3xx
    captures to the terminal target.

    Output: (start_url, final_url, n_hops, final_status, resolved) —
    ``final_url`` is the last Location reached; ``resolved`` is true
    iff a capture exists there and is not itself a redirect (dangling
    targets and cap/cycle exhaustion come back unresolved with a null
    final_status).  ``n_hops`` counts redirect captures traversed
    (head included).

    Semantics and shape mirror ``pagemeta.stitch_pagination`` (and
    its depth-capped recursive-CTE twin): bounded hops, each round a
    hash equi-join of the shrinking frontier against the pruned
    redirect projection, localCheckpoint per round so the plan stays
    linear in rounds (the host_hits lesson).
    """
    caps = (captures.select("url", "status", "location")
            .where(F.col("status").isNotNull())
            .localCheckpoint(eager=False))
    red = caps.where(F.col("status").between(300, 399)
                     & F.col("location").isNotNull())
    in_edges = red.select(F.col("location").alias("url")).distinct()
    heads = red.join(in_edges, "url", "left_anti")
    frontier = heads.select(
        F.col("url").alias("start_url"),
        F.col("location").alias("nxt"),
        F.lit(0).alias("hops")).localCheckpoint()
    last = frontier
    terminals = [frontier]
    for hops in range(1, max_hops):
        hop = (last.join(red.alias("c"),
                         F.col("nxt") == F.col("c.url"))
               .select("start_url",
                       F.col("c.location").alias("nxt"),
                       F.lit(hops).alias("hops")))
        last = hop.localCheckpoint()
        if last.rdd.isEmpty():
            break
        terminals.append(last)
    walk = terminals[0]
    for t in terminals[1:]:
        walk = walk.unionByName(t)
    # the deepest row per chain is the terminal state
    deepest = Window.partitionBy("start_url").orderBy(F.desc("hops"))
    tail = (walk.withColumn("__rk", F.row_number().over(deepest))
            .where(F.col("__rk") == 1))
    is_redir = (F.col("t.status").between(300, 399)
                & F.col("t.location").isNotNull())
    resolved = F.col("t.url").isNotNull() & ~is_redir
    return (tail.join(caps.alias("t"),
                      F.col("nxt") == F.col("t.url"), "left")
            .select(F.col("start_url"),
                    F.col("nxt").alias("final_url"),
                    (F.col("hops") + 1).cast("long").alias("n_hops"),
                    F.when(resolved, F.col("t.status"))
                    .cast("int").alias("final_status"),
                    resolved.alias("resolved")))


def idn_host_profile(hosts: DataFrame, host_col: str = "host"
                     ) -> DataFrame:
    """host rows -> (host, unicode_host, is_idn, decode_ok,
    n_idn_labels, scripts, mixed_label): the RFC 3492 punycode decode
    + UTS #39 single-label script-mixing profile
    (extractor/idnx.py is the Spark-free oracle; the codec is pinned
    bidirectionally against Python's stdlib punycode codec).

    Scale: run this over the DISTINCT-host table (~10^8 rows at
    100 TB — trivial next to a payload pass); map-only 1->1, and the
    homograph gate joins the flagged slice back to the link graph on
    the host key (broadcast — flagged hosts are a sliver)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (BooleanType, IntegerType,
                                   StringType, StructField, StructType)

    from ..extractor import idnx

    schema = StructType([
        StructField("host", StringType(), False),
        StructField("unicode_host", StringType(), False),
        StructField("is_idn", BooleanType(), False),
        StructField("decode_ok", BooleanType(), False),
        StructField("n_idn_labels", IntegerType(), False),
        StructField("scripts", StringType(), False),
        StructField("mixed_label", BooleanType(), False),
    ])

    def batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = [idnx.host_profile(h) for h in pdf[host_col]
                    if h is not None]
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in schema.fields])

    return hosts.select(host_col).mapInPandas(batch, schema)


def idn_homograph_gate(profile: DataFrame) -> DataFrame:
    """idn_host_profile rows -> the flagged slice (host, unicode_host,
    reason): 'mixed-script' when one label mixes two or more major
    scripts (the classic confusable homograph), else 'bad-punycode'
    when an xn-- label fails RFC 3492 decoding (malformed IDNs are a
    spam signal of their own). Codegen filter + projection — no
    shuffle; the output joins back to the link/fetch tables."""
    reason = (F.when(F.col("mixed_label"), F.lit("mixed-script"))
               .when(F.col("is_idn") & ~F.col("decode_ok"),
                     F.lit("bad-punycode")))
    return (profile.select("host", "unicode_host",
                           reason.alias("reason"))
            .where(F.col("reason").isNotNull()))
