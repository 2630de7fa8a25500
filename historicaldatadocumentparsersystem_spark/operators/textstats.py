"""Text-analysis operators over a documents table — all JVM-side exprs.

Training-data-pipeline ops (task brief): language-ID heuristic, quality
scoring, token counting, document fingerprinting. Reference analogs:
C10 language detection (``utils/tools.py:181-190`` allowlist), C5 token
count (``doc_processor.py:96-99`` — reimplemented WITHOUT the
reload-tokenizer-per-call bug: these are pure column expressions), C2
regex strip (``utils/tools.py:84-99``).

All functions return column expressions / DataFrames built from
built-ins only, so each has an exact DuckDB oracle-SQL twin in
its query's record under ``queries/`` — correctness is SQL-checkable.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 (resolves pandas_udf type hints)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# one stopword set per language for the n-gram/stopword language-ID
# heuristic (deterministic, offline; C10 analog). The testdata corpus is
# synthetic English-ish words, so the heuristic is exercised via the
# relative-frequency machinery, not real-world accuracy.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
    "es": ("el", "la", "de", "y", "un", "una", "es"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu"),
}

# Character-trigram profiles for the upgraded language ID (the
# reference's langdetect allowlist semantics, ``utils/tools.py:181-190``,
# rebuilt as an offline-deterministic profile table). Trigrams are the
# highest-frequency character 3-grams of each language's function words
# (public linguistic knowledge — Cavnar & Trenkle n-gram profiles);
# space-padded so word boundaries discriminate. A corpus-trained table
# is a drop-in swap: same (lang, trigram) shape.
TRIGRAM_PROFILES = {
    "en": (" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
           "of ", " to", "to ", "ion", " in", "in ", "ed ", " is", "is ",
           "tha", "hat", "at ", "er ", " be", "ent", " wi", "wit", "ith",
           "th ", " co", "on ", " re", "es ", " he", " fo", "for", "or ",
           " it", "it ", "as ", " ha", "ave", " no", "not", " ar", "are"),
    "fr": (" de", "de ", " le", "le ", "es ", " la", "la ", "ent", " et",
           "et ", "que", " qu", "ue ", " un", "un ", "une", "re ", " pa",
           "par", "ais", "ont", "eur", "les", " ce", "ce ", "ur ", " du",
           "du ", " da", "dan", "ans", "our", " po", "pou", "ous", "ait",
           " es", "est", "st ", " il", "il ", "ne ", " so", "son", "eau"),
    "es": (" de", "de ", " la", "la ", "os ", " qu", "que", "ue ", " el",
           "el ", "en ", " en", " co", "con", "ión", "ció", "aci", " es",
           "es ", "as ", "ar ", " se", "se ", "nte", " un", "una", "un ",
           "ado", " po", "por", "or ", "par", "ara", " lo", "los", "las",
           " no", "no ", "sta", " su", "ien", "cia", "nto", "ndo", "ada"),
    "de": (" de", "der", "er ", "ie ", " di", "die", "und", " un", "nd ",
           "ein", "in ", "ch ", "sch", "ich", "nde", "den", "en ", "ung",
           "ng ", " da", "das", "as ", "ist", "st ", " ge", "gen", " zu",
           "zu ", "cht", "ht ", " be", "ver", " ve", "ten", "ne ", " au",
           "auf", "uf ", " ei", "eit", "it ", "ter", " we", "wer", "lle"),
}

_TOKEN_SPLIT = r"\s+"
# BPE-ish word/number/punct segmentation (token counting, C5 analog)
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokens of a text column (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), _TOKEN_SPLIT), lambda t: t != "")


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: str | Column = "text",
                   lang: str = "en") -> Column:
    toks = tokens(col)
    sw = F.size(F.filter(
        toks, lambda t: F.lower(t).isin(*STOPWORDS[lang])))
    return sw / F.greatest(F.size(toks), F.lit(1))


def lang_id(col: str | Column = "text") -> Column:
    """n-gram/stopword language-ID heuristic (C10 analog,
    ``utils/tools.py:181-190``): argmax of per-language stopword-hit
    ratios, deterministic tie-break in STOPWORDS declaration order,
    'unknown' when no stopword hits at all (the reference defaults to
    'en' after its allowlist; we surface the no-evidence case)."""
    ratios = {lg: stopword_ratio(col, lg) for lg in STOPWORDS}
    best = F.greatest(*ratios.values())
    expr = F.lit("unknown")
    for lg in reversed(list(STOPWORDS)):
        expr = F.when((ratios[lg] == best) & (best > 0), F.lit(lg)) \
            .otherwise(expr)
    return expr


def _trigram_norm(text_col: str, sample_chars: int):
    """The normalized sample expression — stays in the JVM: lower()
    and the Java-regex ``\\s`` are locale/dialect-sensitive and must
    keep Spark's exact semantics (a Python replica of either would be
    a silent divergence class)."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.substring(F.col(text_col), 1,
                                             sample_chars)),
                         r"\s+", " "),
        F.lit(" "))


def _trigram_top2(df: DataFrame, text_col: str, id_col: str,
                  sample_chars: int) -> DataFrame:
    """(id, lang, n1, n2) — one row per input row: argmax language of
    profile-trigram hits in the normalized sample, runner-up count,
    ('unknown', 0, 0) when nothing hits. Ties: higher hits, then lang
    ascending.

    r6 shape: ONE mapInPandas stage, no explode/join/window/exchange.
    The r5 pipeline exploded every sample position through
    ``substr(i, 3)`` — UTF8String counts codepoints from the string
    START per call, so a 256-char sample cost O(sample^2) byte-walks
    per doc (~9 s of the 11.3 s at sf1.0) — then shuffled a corpus-
    sized hit stream. Python slices are O(3) per position and the
    trigram match is exact codepoint equality, so the counts are
    bit-identical (pinned by test_lang_id_trigram_matches_r5_pipeline
    against the kept ``_trigram_top2_r5``)."""
    prof: dict[str, list[str]] = {}
    for lg, tris in sorted(TRIGRAM_PROFILES.items()):
        for t in tris:
            prof.setdefault(t, []).append(lg)
    from .skew import spread_small_scan
    staged = spread_small_scan(
        df.select(F.col(id_col).alias("id"),
                  _trigram_norm(text_col, sample_chars).alias("__s")))
    id_type = dict(staged.dtypes)["id"]
    schema = f"id {id_type}, lang string, n1 long, n2 long"

    def count_hits(batches):
        import pandas as pd
        for pdf in batches:
            langs_out, n1_out, n2_out = [], [], []
            for s in pdf["__s"]:
                counts: dict[str, int] = {}
                if isinstance(s, str) and len(s) >= 3:
                    get = prof.get
                    for i in range(len(s) - 2):
                        hit = get(s[i:i + 3])
                        if hit:
                            for lg in hit:
                                counts[lg] = counts.get(lg, 0) + 1
                if counts:
                    ranked = sorted(counts.items(),
                                    key=lambda kv: (-kv[1], kv[0]))
                    langs_out.append(ranked[0][0])
                    n1_out.append(ranked[0][1])
                    n2_out.append(ranked[1][1] if len(ranked) > 1 else 0)
                else:
                    langs_out.append("unknown")
                    n1_out.append(0)
                    n2_out.append(0)
            yield pd.DataFrame({"id": pdf["id"].values,
                                "lang": langs_out,
                                "n1": n1_out, "n2": n2_out})

    return staged.mapInPandas(count_hits, schema)


def _trigram_top2_r5(df: DataFrame, text_col: str, id_col: str,
                     sample_chars: int) -> DataFrame:
    """The r5 explode + broadcast-join + window pipeline, kept as the
    A/B reference for test_lang_id_trigram_matches_r5_pipeline."""
    spark = df.sparkSession
    prof = spark.createDataFrame(
        [(lg, t) for lg, tris in sorted(TRIGRAM_PROFILES.items())
         for t in tris], "lang string, tri string")
    staged = df.select(F.col(id_col).alias("id"),
                       _trigram_norm(text_col, sample_chars).alias("__s"))
    s = F.col("__s")
    n = F.length(s) - 2
    tri_arr = F.when(
        n >= 1,
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: s.substr(i, F.lit(3)))
    ).otherwise(F.array().cast("array<string>"))
    tris = staged.select("id", F.explode(tri_arr).alias("tri"))
    hits = (tris.join(F.broadcast(prof), "tri")
            .groupBy("id", "lang")
            .agg(F.count("*").alias("n_hits")))
    w = Window.partitionBy("id").orderBy(F.desc("n_hits"), F.asc("lang"))
    top2 = (hits.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= 2))
    best = (top2.groupBy("id")
            .agg(F.max(F.when(F.col("__rk") == 1,
                              F.col("lang"))).alias("lang"),
                 F.max(F.when(F.col("__rk") == 1,
                              F.col("n_hits"))).alias("n1"),
                 F.max(F.when(F.col("__rk") == 2,
                              F.col("n_hits"))).alias("n2")))
    return (df.select(F.col(id_col).alias("id"))
            .join(best, "id", "left")
            .select("id",
                    F.coalesce("lang", F.lit("unknown")).alias("lang"),
                    F.coalesce("n1", F.lit(0)).cast("long").alias("n1"),
                    F.coalesce("n2", F.lit(0)).cast("long").alias("n2")))


def lang_id_trigram(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sample_chars: int = 256) -> DataFrame:
    """Character-trigram language ID (C10 upgrade over the stopword
    heuristic): returns (id, lang_pred, n_hits) where lang_pred is the
    argmax over ``TRIGRAM_PROFILES`` of profile-trigram hits in the
    first ``sample_chars`` characters, 'unknown' when nothing hits.

    Plan shape for 100 TB: the per-document work is BOUNDED (a
    ``sample_chars`` prefix), computed in one map stage with zero
    shuffles (``_trigram_top2``). Deterministic ties: higher n_hits
    wins, then lang ascending.
    """
    return (_trigram_top2(df, text_col, id_col, sample_chars)
            .select(F.col("id").alias(id_col),
                    F.col("lang").alias("lang_pred"),
                    F.col("n1").cast("long").alias("n_hits")))


def bpe_token_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Tokenizer-EXACT token counts (C5) via the committed-vocab BPE in
    ``extractor/bpe.py`` — closes the gap between the ``_BPE_RE`` regex
    proxy and the reference's real HF tokenizer budgets
    (``doc_processor.py:89-137``): same greedy merge inference, vocab
    committed in-repo, no downloads.

    Arrow-batched ``mapInPandas``: real BPE is Python by nature (the
    same offline-forced class as the media codecs), the per-word
    lru_cache amortizes Zipf-repeated words, and the Spark-free pure
    function doubles as the byte-exact oracle (repo invariant).
    """
    schema = f"{id_col} long, n_bpe_real long"

    def batch(batches):
        import pandas as pd
        from ..extractor import bpe
        for b in batches:
            yield pd.DataFrame({
                id_col: b[id_col],
                "n_bpe_real": [bpe.token_count(t) if t else 0
                               for t in b[text_col]],
            })

    return df.select(id_col, text_col).mapInPandas(batch, schema)


def text_profile(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Full per-document profile — the headline text-analysis operator.

    Tokenizes ONCE into an intermediate column and derives every stat
    from it (a single regex split per row instead of one per stat;
    Catalyst's CollapseProject keeps multi-use non-cheap aliases
    materialized, so the two Projects don't re-inline)."""
    from .skew import spread_small_scan
    toks = "__toks"
    c = F.col(text_col)
    staged = spread_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col), c.alias("__text"), tokens(text_col).alias(toks))
    tk = F.col(toks)
    txt = F.col("__text")
    total_wlen = F.aggregate(tk, F.lit(0).cast("long"),
                             lambda acc, t: acc + F.length(t))
    mwl = total_wlen / F.greatest(F.size(tk), F.lit(1))
    pr = ((F.length(txt)
           - F.length(F.regexp_replace(txt, r"[^\w\s]", "")))
          / F.greatest(F.length(txt), F.lit(1)))
    len_ok = (F.length(txt) >= 100) & (F.length(txt) <= 20000)
    quality = ((len_ok.cast("double") + (pr < 0.2).cast("double")
                + ((mwl >= 3) & (mwl <= 12)).cast("double")) / F.lit(3.0))
    return staged.select(
        F.col(id_col),
        F.size(tk).alias("n_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(_BPE_RE), F.lit(0)))
        .alias("n_bpe_tokens"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(quality, 6).alias("quality"),
        F.substring(F.md5(F.regexp_replace(F.trim(txt), r"\s+", " ")),
                    1, 16).alias("fingerprint"),
    )


def readability_scores(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease per document — the classic text-quality
    signal curation pipelines bucket on (quality-gate family alongside
    the Gopher/C4 rules).

    Deterministic cross-engine heuristic, all counts regexp-derived:
      words     = whitespace tokens
      sentences = runs of [.!?] (min 1)
      syllables = [aeiouy]+ vowel groups, plus 1 for each word with no
                  vowel at all (the per-word >= 1 clamp, doc-level)
      flesch    = 206.835 - 1.015*(words/sents) - 84.6*(syll/words)
    The score is plain IEEE double arithmetic evaluated in the same
    order as the DuckDB twin, so the hash comparison is exact; a doc
    with zero words scores null. Map-only plan — scale-free."""
    c = F.col(text_col)
    toks = tokens(text_col)
    words = F.size(toks)
    sents = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1))
    vg = F.size(F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"),
                                     F.lit(0)))
    no_vowel = F.size(F.filter(
        toks, lambda t: ~F.lower(t).rlike("[aeiouy]")))
    syll = (vg + no_vowel).cast("long")
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
              - F.lit(84.6) * (syll.cast("double") / words.cast("double")))
    return df.select(
        F.col(id_col),
        words.cast("long").alias("words"),
        sents.cast("long").alias("sentences"),
        syll.alias("syllables"),
        F.when(words > 0, flesch).alias("flesch"),
    )


def repetition_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document (the rules used to
    drop boilerplate-heavy / spammy pages from training corpora):

    - ``dup_word_ratio``   : 1 - distinct_words / total_words
    - ``top_bigram_ratio`` : occurrences of the most frequent word
      2-gram / total 2-grams (0.0 when the doc has < 2 words)

    Plan shape: per-row stats are pure column exprs; the top-bigram
    mode needs a distributed count, so bigrams EXPLODE -> two-level
    groupBy (partial aggregation map-side both times) -> broadcast-able
    per-doc join back. No window over the exploded set, no collect.
    """
    w = F.transform(tokens(text_col), lambda t: F.lower(t))
    base = df.select(F.col(id_col), w.alias("__w"))
    wc = F.col("__w")
    per_doc = base.select(
        F.col(id_col),
        F.size(wc).alias("n_words"),
        F.round(1 - F.size(F.array_distinct(wc))
                / F.greatest(F.size(wc), F.lit(1)), 6)
        .alias("dup_word_ratio"))
    bigram_arr = F.when(
        F.size(wc) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(wc) - 1),
                    lambda i: F.concat_ws(" ", F.element_at(wc, i),
                                          F.element_at(wc, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    bg = base.select(F.col(id_col), F.explode(bigram_arr).alias("g"))
    bgc = bg.groupBy(id_col, "g").agg(F.count("*").alias("c"))
    top = bgc.groupBy(id_col).agg(
        F.max("c").alias("__top"), F.sum("c").alias("__total"))
    return (per_doc.join(top, id_col, "left")
            .select(id_col, "n_words", "dup_word_ratio",
                    F.round(F.coalesce(F.col("__top") / F.col("__total"),
                                       F.lit(0.0)), 6)
                    .alias("top_bigram_ratio")))


def grouped_quantiles(df: DataFrame, value_col: str, by: str,
                      qs: tuple[float, ...] = (0.25, 0.5, 0.75)
                      ) -> DataFrame:
    """Exact per-group quantiles (linear interpolation) of an integer
    column — corpus length/size distribution analytics.

    Exact ``percentile`` shuffles every value to its group; at 100 TB
    switch to ``approx_percentile`` (t-digest sketch, map-side
    combinable, bounded memory) — same call shape, rank error instead
    of exactness. Integer inputs at these quantile points make the
    interpolation arithmetic exact in doubles, so the DuckDB
    ``quantile_cont`` twin matches despite formula differences.
    """
    arr = F.percentile(F.col(value_col),
                       F.array(*[F.lit(float(p)) for p in qs]))
    agg = df.groupBy(by).agg(arr.alias("__q"),
                             F.count("*").alias("n"))
    cols = [F.round(F.col("__q")[i], 6).alias(f"q{int(p * 100)}")
            for i, p in enumerate(qs)]
    return agg.select(by, *cols, "n")


def unigram_logppl(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram cross-entropy (KenLM-style quality signal
    at unigram order): mean over tokens of -ln p(t), with Laplace
    smoothing p(t) = (c_t + 1) / (N + V) from the corpus itself.
    High values mark gibberish / rare-token documents for filtering.

    Determinism across engines: double summation is order-dependent,
    and a groupBy's partial-merge order is not — so each token's
    -ln p is rounded to 9 places and cast to DECIMAL(20,9) BEFORE the
    sum (exact, associative), then the mean is rounded to 6. The
    DuckDB twin applies the identical fixed-point pipeline.

    Scale: token counts are one map-side-combinable groupBy; the
    unigram table is |vocabulary| rows, broadcast to the token stream;
    corpus totals ride in via a crossJoin of a 1-row aggregate (no
    driver collect).
    """
    tok = (df.select(F.col(id_col).alias("id"),
                     F.explode(tokens(text_col)).alias("t"))
           .select("id", F.lower("t").alias("term")))
    counts = tok.groupBy("term").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").cast("double").alias("n_tok"),
        F.count("*").cast("double").alias("v"))
    neglogp = F.round(
        -F.log((F.col("c") + 1) / (F.col("n_tok") + F.col("v"))), 9) \
        .cast("decimal(20,9)")
    scored = (tok.join(F.broadcast(counts), "term")
              .crossJoin(F.broadcast(totals))
              .select("id", neglogp.alias("nlp")))
    # exact decimal sum -> ONE double cast -> one IEEE divide -> round:
    # the same op order in the DuckDB twin gives bit-equal results
    return (scored.groupBy("id")
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.sum("nlp").cast("double") / F.count("*"), 6)
                 .alias("log_ppl"))
            .withColumnRenamed("id", id_col))


def bigram_logppl(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document interpolated bigram cross-entropy (the KenLM-style
    quality signal at order 2): mean over adjacent token pairs of
    -ln p(w2 | w1) with
        p(w2|w1) = 0.75 * c(w1,w2)/c(w1)
                 + 0.25 * (c(w2)+1)/(N+V)      (Laplace unigram backoff)
    trained on the corpus itself, like ``unigram_logppl``. High values
    mark token sequences the corpus has never seen — a sharper
    gibberish detector than unigram order (word salad from common
    words scores high here, low there). 0.75 is binary-exact, so the
    interpolation constant adds no cross-engine literal risk.

    Documents with fewer than 2 tokens have no bigrams and are absent
    from the output (documented; callers left-join if they need every
    id). Determinism across engines: same fixed-point pipeline as
    unigram_logppl — each pair's -ln p rounds to 9 places into
    DECIMAL(20,9) before the (associative) sum; one double cast, one
    IEEE divide, round to 6.

    Scale: the bigram count table is O(distinct adjacent pairs) — too
    big to broadcast at corpus scale, so pairs join it by SHUFFLE
    equi-join on (t1, t2); the unigram table (|vocabulary|) and the
    1-row totals ride in broadcast, exactly like unigram_logppl. No
    windows, no collect; bigram derivation is an in-row array
    transform (one explode, no self-join of token positions).
    """
    tk = tokens(text_col)
    pairs = (df.select(F.col(id_col).alias("id"), tk.alias("tk"))
             .where(F.size("tk") >= 2)
             .select("id", F.explode(F.transform(
                 F.sequence(F.lit(1), F.size("tk") - 1),
                 lambda i: F.struct(
                     F.lower(F.element_at("tk", i)).alias("t1"),
                     F.lower(F.element_at("tk", i + 1)).alias("t2"))))
                 .alias("bg"))
             .select("id", "bg.t1", "bg.t2"))
    tok = (df.select(F.col(id_col).alias("id"),
                     F.explode(tk).alias("t"))
           .select(F.lower("t").alias("term")))
    uni = tok.groupBy("term").agg(F.count("*").alias("c"))
    totals = uni.agg(F.sum("c").cast("double").alias("n_tok"),
                     F.count("*").cast("double").alias("v"))
    big = pairs.groupBy("t1", "t2").agg(F.count("*").alias("c12"))
    p = (F.lit(0.75) * F.col("c12") / F.col("c1")
         + F.lit(0.25) * (F.col("c2") + 1)
         / (F.col("n_tok") + F.col("v")))
    nlp = F.round(-F.log(p), 9).cast("decimal(20,9)")
    scored = (pairs.join(big, ["t1", "t2"])
              .join(F.broadcast(uni.select(F.col("term").alias("t1"),
                                           F.col("c").alias("c1"))), "t1")
              .join(F.broadcast(uni.select(F.col("term").alias("t2"),
                                           F.col("c").alias("c2"))), "t2")
              .crossJoin(F.broadcast(totals))
              .select("id", nlp.alias("nlp")))
    return (scored.groupBy("id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.sum("nlp").cast("double") / F.count("*"), 6)
                 .alias("log_ppl"))
            .withColumnRenamed("id", id_col))


def ccnet_ppl_buckets(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020 §4.3):
    split the corpus into head / middle / tail by LM cross-entropy —
    head (lowest perplexity) is the highest-quality slice, tail the
    filter candidate. Cut points here are the corpus P25/P75 of
    ``unigram_logppl`` (CCNet's terciles come from a held-out LM; the
    quartile rule keeps the cuts binary-exact fractions).

    Determinism across engines: quantile interpolation of arbitrary
    doubles is formula-order-sensitive, so the percentile runs over the
    INTEGER fixed-point round(log_ppl * 1e6) — integer inputs at
    quarter fractions interpolate exactly in both engines (the
    grouped_quantiles precedent) — and docs compare against the cuts
    in that integer space. Bucket rule: p6 <= c25 -> 'head',
    p6 <= c75 -> 'middle', else 'tail'.

    Returns (doc_id, log_ppl, ppl_bucket).

    Scale: one extra 1-row percentile aggregate + broadcast crossJoin
    on top of unigram_logppl's plan. Exact percentile shuffles the
    (id, ppl) pairs to one reducer — at 100 TB swap approx_percentile
    (t-digest, map-side combinable), identical call shape.
    """
    ppl = unigram_logppl(df, text_col, id_col)
    scored = ppl.select(
        F.col(id_col), F.col("log_ppl"),
        F.round(F.col("log_ppl") * 1e6).cast("long").alias("__p6"))
    cuts = scored.agg(F.percentile(
        "__p6", F.array(F.lit(0.25), F.lit(0.75))).alias("__c"))
    bucket = (F.when(F.col("__p6") <= F.col("__c")[0], F.lit("head"))
              .when(F.col("__p6") <= F.col("__c")[1], F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (scored.crossJoin(F.broadcast(cuts))
            .select(F.col(id_col), "log_ppl",
                    bucket.alias("ppl_bucket")))


def compression_ratio_bp(text: str, level: int = 6) -> int:
    """zlib-compressed size of the UTF-8 text in basis points of the
    raw size (Spark-free oracle; 10000 = incompressible, small =
    highly repetitive). Empty text -> 10000 (neutral)."""
    import zlib

    raw = text.encode("utf-8")
    if not raw:
        return 10000
    return len(zlib.compress(raw, level)) * 10000 // len(raw)


def compression_profile(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        level: int = 6,
                        max_keep_bp: int = 9000,
                        min_keep_bp: int = 1500) -> DataFrame:
    """Compression-ratio quality signal (id, comp_bp, keep): the
    cheap detector for the two pathologies token statistics miss —
    near-random gibberish (comp_bp ~ 10000: nothing to compress) and
    machine-generated boilerplate/repetition (comp_bp tiny: the
    stream is one long backreference). Curation keeps the middle
    band [min_keep_bp, max_keep_bp], the natural-language range.

    The compressor is the quality model here, so this is a Pandas-UDF
    operator by necessity (zlib is not a SQL expression) — rows-only
    for the driver; the exactness oracle is the Spark-free
    ``compression_ratio_bp`` itself (pytest pins Spark == per-row
    Python; zlib output is deterministic for a fixed level/library).

    Scale: Arrow-batched map-only projection — no shuffle; cost is
    one deflate pass over the text bytes (~100 MB/s/core), far
    cheaper than any model-based quality score.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _comp(s: pd.Series) -> pd.Series:
        return s.map(lambda t: 10000 if t is None
                     else compression_ratio_bp(t, level))

    return df.select(
        F.col(id_col), _comp(F.col(text_col)).alias("comp_bp")
    ).withColumn(
        "keep", (F.col("comp_bp") >= min_keep_bp)
                & (F.col("comp_bp") <= max_keep_bp))


def lang_id_margin(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", sample_chars: int = 256,
                   min_margin_bp: int = 3000) -> DataFrame:
    """Language ID with a CONFIDENCE MARGIN — the routing signal
    curation needs on top of the argmax: margin_bp =
    (top1_hits - top2_hits) * 10000 div top1_hits. Low-margin docs
    (mixed-language pages, boilerplate-dominated text) are the ones
    a pipeline escalates to an expensive classifier or drops from
    language-filtered corpora; ``confident`` gates at
    ``min_margin_bp`` (zero-hit docs are never confident).

    Output: (id, lang_pred, n_hits, n_hits_2nd, margin_bp,
    confident). Same zero-shuffle map-stage plan as
    ``lang_id_trigram`` (``_trigram_top2`` keeps rank 2 as well).
    """
    out = (_trigram_top2(df, text_col, id_col, sample_chars)
           .select(F.col("id").alias(id_col),
                   F.col("lang").alias("lang_pred"),
                   F.col("n1").cast("long").alias("n_hits"),
                   F.col("n2").cast("long").alias("n_hits_2nd")))
    margin = F.when(
        F.col("n_hits") > 0,
        F.expr("(n_hits - n_hits_2nd) * 10000 div n_hits")
    ).otherwise(F.lit(0)).cast("long")
    return (out.withColumn("margin_bp", margin)
            .withColumn("confident",
                        (F.col("n_hits") > 0)
                        & (F.col("margin_bp") >= min_margin_bp)))


# --- Unicode script detection ------------------------------------------------

# Major-script BMP ranges: canonical table lives Spark-free in
# extractor/scriptranges.py (idnx is an extractor-side consumer);
# re-exported here for the established import path. Pattern strings
# are GENERATED from it for BOTH engines (script_class_pattern).
from ..extractor.scriptranges import SCRIPT_RANGES  # noqa: F401

# committed multilingual sample rows (id, text) — the engine-parity
# fixture the registered query unions with the (ASCII-only) documents
# table so every range is actually exercised
SCRIPT_SAMPLE_ROWS: tuple[tuple[int, str], ...] = (
    (1000000001, "Привет мир, это кириллица."),
    (1000000002, "Γειά σου κόσμε, ελληνικά εδώ."),
    (1000000003, "مرحبا بالعالم بالعربية"),
    (1000000004, "שלום עולם בעברית"),
    (1000000005, "नमस्ते दुनिया देवनागरी में"),
    (1000000006, "你好世界这是汉字文本"),
    (1000000007, "こんにちは世界 カタカナとひらがな"),
    (1000000008, "안녕하세요 세계 한글입니다"),
    (1000000009, "mixed script: кирилл and latin words"),
    (1000000010, "12345 !!! ??? ... 67890"),
    (1000000011, "Çà et là, déjà vu — naïve façade (Latin-1 range)"),
)


def script_class_pattern(ranges: tuple[tuple[int, int], ...]) -> str:
    """Regex char class for codepoint intervals as LITERAL characters
    — identical semantics in Java regex (Spark) and RE2 (DuckDB),
    where escape syntaxes differ but literals do not."""
    return "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges) + "]"


def dominant_script_case() -> str:
    """Shared CASE chain (valid SQL in both engines): first declared
    script holding the max count wins; all-zero -> 'none'."""
    cols = [f"n_{name}" for name, _ in SCRIPT_RANGES]
    best = "greatest(" + ", ".join(cols) + ")"
    whens = "".join(
        f" WHEN n_{name} = {best} THEN '{name}'"
        for name, _ in SCRIPT_RANGES)
    return f"CASE WHEN {best} = 0 THEN 'none'{whens} END"


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document Unicode script profile: codepoint counts per major
    script plus the dominant script — the routing signal multilingual
    curation applies BEFORE trigram/classifier language ID (script
    partitions the language space for free, and a script/lang
    mismatch is itself a spam signal).

    Scale: map-only codegen projection — each count is
    length(t) - length(regexp_replace(t, class, '')), no explode, no
    shuffle, no Python. Counts are code points (Spark UTF8String and
    DuckDB agree; all ranges are BMP).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    out = df.select(F.col(id_col),
                    *[F.col(c) for c in keep_cols],
                    F.length(t).cast("long").alias("n_chars"),
                    *[(F.length(t) - F.length(F.regexp_replace(
                        t, script_class_pattern(ranges), F.lit(""))))
                      .cast("long").alias(f"n_{name}")
                      for name, ranges in SCRIPT_RANGES])
    return out.withColumn("dominant_script",
                          F.expr(dominant_script_case()))


# language -> the script its text should dominate in (shared by both
# engines; CASE generated from this table). Languages with multiple
# native scripts or out-of-table languages are never flagged.
LANG_SCRIPT_MAP: tuple[tuple[str, str], ...] = (
    ("en", "latin"), ("fr", "latin"), ("es", "latin"), ("de", "latin"),
    ("it", "latin"), ("pt", "latin"), ("nl", "latin"),
    ("ru", "cyrillic"), ("uk", "cyrillic"), ("bg", "cyrillic"),
    ("el", "greek"), ("ar", "arabic"), ("he", "hebrew"),
    ("hi", "devanagari"), ("zh", "han"), ("ko", "hangul"),
)


def expected_script_case(lang_col: str) -> str:
    """Shared CASE chain (identical SQL both engines)."""
    whens = " ".join(f"WHEN '{lg}' THEN '{sc}'"
                     for lg, sc in LANG_SCRIPT_MAP)
    return f"CASE lower(coalesce({lang_col}, '')) {whens} " \
           f"ELSE 'any' END"


def script_lang_consistency(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            lang_col: str = "lang") -> DataFrame:
    """Cross-check the DECLARED language against the script the text
    is actually written in: a corpus labeled ``zh`` whose pages are
    pure Latin is transliterated, mislabeled, or boilerplate — every
    multilingual pipeline gates on this before trusting upstream
    language tags (CommonCrawl's own language column is
    crawler-supplied, not verified).

    mismatch = the declared language maps to a specific script AND
    the dominant script differs AND the text is long enough to judge
    (>= 20 codepoints — the same reason lang-ID samples a prefix).
    Composition of ``script_profile`` (map-only, lang rides through
    ``keep_cols``) with one generated CASE — still a single codegen
    projection, no join, no shuffle.
    """
    prof = script_profile(df, text_col=text_col, id_col=id_col,
                          keep_cols=(lang_col,))
    return (prof
            .withColumn("expected_script",
                        F.expr(expected_script_case(lang_col)))
            .withColumn("mismatch",
                        (F.col("expected_script") != F.lit("any"))
                        & (F.col("dominant_script")
                           != F.col("expected_script"))
                        & (F.col("n_chars") >= 20))
            .select(id_col, lang_col, "n_chars", "dominant_script",
                    "expected_script", "mismatch"))


def sentence_split_df(df: DataFrame, text_col: str = "text",
                      id_col: str = "url") -> DataFrame:
    """(id, text) rows -> one row per sentence (id, idx, start, end,
    sentence) via the Spark-free rule-based splitter
    (``extractor/sentx.py`` — the C4/bitext sub-element unit; offsets
    index the input text so span ops compose downstream).

    Arrow-batched mapInPandas 1->N over a pruned two-column
    projection: abbreviation-guarded boundary rules are Python by
    nature, and the batch transfer is the same hot path as the
    extraction UDF. No shuffle; sentence rows are small."""
    import pandas as pd

    from ..extractor.sentx import split_sentences

    def batch(it):
        for pdf in it:
            rows = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not t:
                    continue
                for idx, a, b, s in split_sentences(t):
                    rows.append((i, idx, a, b, s))
            out = pd.DataFrame(
                rows, columns=[id_col, "idx", "start", "end",
                               "sentence"])
            for c in ("idx", "start", "end"):
                out[c] = out[c].astype("int64")
            yield out

    ddl = (f"{id_col} string, idx bigint, start bigint, end bigint, "
           "sentence string")
    return df.select(id_col, text_col).mapInPandas(batch, ddl)


def stem_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct (word, stem) vocabulary of a corpus under the
    from-scratch Porter stemmer (extractor/stemx.py — the paper's
    rule set, vector-pinned). Tokenization and stemming run in the
    SAME pure functions the golden generator uses (byte-identity
    structural). One Arrow pass emitting per-partition-deduped
    pairs + ONE distinct exchange; stems are deterministic per
    word, so global distinct is exact."""
    from ..extractor.stemx import porter_stem, tokens as _toks

    def emit(batches):
        seen: set[str] = set()  # cross-batch partition dedup
        for b in batches:
            words: list[str] = []
            for text in b[text_col]:
                if text is None:
                    continue
                for w in _toks(str(text)):
                    if w not in seen:
                        seen.add(w)
                        words.append(w)
            yield pd.DataFrame(
                {"word": words,
                 "stem": [porter_stem(w) for w in words]})

    return (df.select(F.col(text_col).alias(text_col))
            .mapInPandas(emit, "word string, stem string")
            .distinct())
