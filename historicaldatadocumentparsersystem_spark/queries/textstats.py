"""Text statistics, language ID, LM signals and retrieval scores."""

from pyspark.sql import functions as F

from .. import fixtures, functions as fn
from ..operators import encoding as _enc, keywords, textstats, webtext
from ..operators.encoding import NFC_SAMPLE_ROWS
from . import _KEYWORDS, _TOK, _fixture, _flit, _t, query


def _script_count_exprs() -> str:
    """Per-script count columns for DuckDB, generated from the same
    SCRIPT_RANGES constants the Spark side compiles (literal unicode
    chars — Java and RE2 escape syntaxes differ, literals do not).
    DuckDB regexp_replace needs the explicit 'g' flag
    (first-match-only by default; Spark replaces all)."""
    return ",\n".join(
        f"(length(text) - length(regexp_replace(text, "
        f"'{textstats.script_class_pattern(r)}', '', 'g')))::bigint "
        f"AS n_{n}"
        for n, r in textstats.SCRIPT_RANGES)


def _script_sql() -> str:
    """DuckDB twin of textstats.script_profile over documents + the
    committed multilingual sample."""
    vals = ",\n".join(f"({i}, '{t}')"
                      for i, t in textstats.SCRIPT_SAMPLE_ROWS)
    counts = _script_count_exprs()
    return f"""
        WITH sample(doc_id, text) AS (VALUES {vals}),
        corpus AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents
          UNION ALL SELECT doc_id, text FROM sample),
        counts AS (
          SELECT doc_id, length(text)::bigint AS n_chars,
                 {counts}
          FROM corpus)
        SELECT *, {textstats.dominant_script_case()} AS dominant_script
        FROM counts"""


# declared-lang-vs-script sample rows (doc_id, lang, text): a correct
# cyrillic ru page, a transliterated (latin) ru page, han zh, a
# too-short page (never judged), and an unmapped lang (never flagged)
_LS_ROWS = (
    (3000000001, "ru", "Это настоящий русский текст кириллицей здесь"),
    (3000000002, "ru", "Eto transliterirovannyj russkij tekst latinicej"),
    (3000000003, "zh", "这是一段真正的中文文本内容这里还有更多汉字"),
    (3000000004, "el", "short"),
    (3000000005, "xx", "some unmapped language row that never flags"),
)


def _script_lang_sql() -> str:
    """DuckDB twin of textstats.script_lang_consistency over
    documents + the _LS_ROWS sample: same generated count exprs, the
    SAME dominant/expected CASE strings the Spark side compiles."""
    vals = ",\n".join(f"({i}, '{lg}', '{t}')" for i, lg, t in _LS_ROWS)
    return f"""
        WITH sample(doc_id, lang, text) AS (VALUES {vals}),
        corpus AS (
          SELECT doc_id, lang, coalesce(text, '') AS text
          FROM documents
          UNION ALL SELECT doc_id, lang, text FROM sample),
        counts AS (
          SELECT doc_id, lang, length(text)::bigint AS n_chars,
                 {_script_count_exprs()}
          FROM corpus),
        dom AS (
          SELECT *, {textstats.dominant_script_case()}
                    AS dominant_script
          FROM counts)
        SELECT doc_id, lang, n_chars, dominant_script,
               {textstats.expected_script_case('lang')}
                 AS expected_script,
               ({textstats.expected_script_case('lang')} != 'any'
                AND dominant_script
                    != {textstats.expected_script_case('lang')}
                AND n_chars >= 20) AS mismatch
        FROM dom"""


def _nfc_sql() -> str:
    """DuckDB twin of encoding.nfc_normalize_df: VALUES generated from
    the same committed sample constant (texts carry the decomposed
    forms verbatim — both engines read UTF-8 literals identically)."""
    vals = ",\n".join(f"({i}, '{t}')" for i, t in NFC_SAMPLE_ROWS)
    return f"""
        WITH sample(doc_id, text) AS (VALUES {vals}),
        corpus AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents
          UNION ALL SELECT doc_id, text FROM sample)
        SELECT doc_id, nfc_normalize(text) AS text_nfc,
               nfc_normalize(text) != text AS changed
        FROM corpus"""


def _text_norm_oracle() -> str:
    """DuckDB twin of nfc_clean + ascii_fold: nfc_normalize +
    regexp_replace over the SHARED explicit whitespace class (RE2 \\s
    is ASCII-only, so both engines use the same literal class) +
    lower(strip_accents(...))."""
    vals = ", ".join(
        "('{}', '{}')".format(r, t.replace("'", "''"))
        for r, t in _NORM_ROWS)
    return f"""
            WITH t(row_id, raw) AS (VALUES {vals}),
            c AS (SELECT row_id,
                    trim(regexp_replace(nfc_normalize(raw),
                         '{fn.UNICODE_WS}+', ' ', 'g')) AS clean
                  FROM t)
            SELECT row_id, clean,
                   lower(strip_accents(clean)) AS folded
            FROM c"""


_GOLDEN_STEMS = _fixture("golden_stems_seed42.parquet")

# BM25 query terms (shared Spark/oracle)
_BM25_TERMS = ("spark", "join", "window")

# unicode-normalization fixture (deterministic VALUES both sides):
# decomposed accents, NBSP, tabs/newlines, ideographic + narrow
# spaces, line/paragraph separators, accented letters for folding
_NORM_ROWS = [
    ("n1", "Cafe\u0301  du\u00a0monde"),      # decomposed accent + NBSP
    ("n2", "  tabs\tand\nnewlines  "),
    ("n3", "already clean"),
    ("n4", "ideographic\u3000space"),
    ("n5", "\u00c0\u00c9\u00ce\u00d5\u00dc \u00e7\u00f1"),
    ("n6", "\u2028line\u2029sep\u202fnarrow"),
]

_SW = {"en": "('the','a','of','and','to','in','is')",
       "fr": "('le','la','de','et','un','une','est')",
       "es": "('el','la','de','y','un','una','es')",
       "de": "('der','die','das','und','ein','ist','zu')"}

_RATIOS = {
    lg: (f"(len(list_filter({_TOK}, t -> lower(t) IN {words}))"
         f" / greatest(len({_TOK}), 1))")
    for lg, words in _SW.items()}

_BEST = "greatest({})".format(", ".join(_RATIOS.values()))


# --- scans + aggregation (S1/A3/A6 analogs) — SQL-checked
@query("lang_stats", oracle=lambda: f"""
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::bigint AS total_chars,
                   sum(len({_TOK}))::bigint AS total_tokens
            FROM documents GROUP BY lang""")
def q_lang_stats(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum(textstats.token_count("text")).cast("long")
                 .alias("total_tokens")))


# --- text analysis (C5/C10 analogs + pipeline ops) — SQL-checked
@query("text_profile", oracle=lambda: f"""
            SELECT doc_id,
                   len({_TOK}) AS n_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
                   round((length(text) - length(regexp_replace(text,
                       '[^\\w\\s]', '', 'g'))) /
                       greatest(length(text), 1), 6) AS punct_ratio,
                   round(list_reduce(list_transform({_TOK},
                       t -> length(t)::bigint), (x, y) -> x + y) /
                       greatest(len({_TOK}), 1), 6) AS mean_word_len,
                   round((
                     (CASE WHEN length(text) BETWEEN 100 AND 20000
                           THEN 1.0 ELSE 0.0 END)
                   + (CASE WHEN (length(text) - length(regexp_replace(text,
                       '[^\\w\\s]', '', 'g'))) /
                       greatest(length(text), 1) < 0.2
                           THEN 1.0 ELSE 0.0 END)
                   + (CASE WHEN list_reduce(list_transform({_TOK},
                       t -> length(t)::bigint), (x, y) -> x + y) /
                       greatest(len({_TOK}), 1) BETWEEN 3 AND 12
                           THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality,
                   substr(md5(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                          1, 16) AS fingerprint
            FROM documents""")
def q_profile(spark, sf_dir):
    return textstats.text_profile(_t(spark, sf_dir, "documents"))


# Gopher-style repetition signals (training-data quality filter)
@query("repetition_profile", oracle=lambda: f"""
            WITH base AS (
              SELECT doc_id,
                     list_transform({_TOK}, t -> lower(t)) AS w
              FROM documents
            ), per_doc AS (
              SELECT doc_id, len(w) AS n_words,
                     round(1 - len(list_distinct(w))::double
                           / greatest(len(w), 1), 6) AS dup_word_ratio, w
              FROM base
            ), bg AS (
              SELECT doc_id, concat_ws(' ', w[i], w[i + 1]) AS g
              FROM base, unnest(generate_series(1, len(w) - 1)) AS u(i)
              WHERE len(w) >= 2
            ), bgc AS (
              SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
            ), top AS (
              SELECT doc_id, max(c) AS top_c, sum(c) AS total
              FROM bgc GROUP BY doc_id
            )
            SELECT p.doc_id, p.n_words, p.dup_word_ratio,
                   round(coalesce(top.top_c::double / top.total::double,
                                  0.0e0), 6) AS top_bigram_ratio
            FROM per_doc p LEFT JOIN top USING (doc_id)""")
def q_repetition(spark, sf_dir):
    return textstats.repetition_profile(
        _t(spark, sf_dir, "documents"))


# --- Flesch reading-ease (quality-gate family) — SQL-checked,
# IEEE-double score evaluated in the same order as the twin
# Flesch reading-ease: identical count definitions and the
# same left-associated double arithmetic as the Spark side
# (a - b - c evaluates ((a-b)-c) in both engines; literals
# carry e0 so DuckDB parses DOUBLE, not DECIMAL)
@query("readability_scores", oracle=lambda: f"""
            WITH t AS (
              SELECT doc_id,
                     len({_TOK})::bigint AS words,
                     greatest(len(regexp_extract_all(text, '[.!?]+')),
                              1)::bigint AS sentences,
                     (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      + len(list_filter({_TOK},
                          x -> NOT regexp_matches(lower(x),
                                                  '[aeiouy]')))
                     )::bigint AS syllables
              FROM documents
            )
            SELECT doc_id, words, sentences, syllables,
                   CASE WHEN words > 0 THEN
                     206.835e0
                     - 1.015e0 * (words::double / sentences::double)
                     - 84.6e0 * (syllables::double / words::double)
                   END AS flesch
            FROM t""")
def q_readability(spark, sf_dir):
    return textstats.readability_scores(
        _t(spark, sf_dir, "documents"))


# --- F4 + A2 keyword sections — SQL-checked
@query("keyword_sections", oracle=lambda: """
            SELECT lang, string_agg(text, chr(10) || chr(10)
                                    ORDER BY doc_id) AS joined
            FROM documents
            WHERE regexp_matches(lower(text), 'merge|window|stream')
            GROUP BY lang""")
def q_keywords(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return keywords.keyword_sections(
        docs, _KEYWORDS, group_col="lang", order_col="doc_id")


# --- unicode NFC clean + ascii fold (web-corpus hygiene) —
# SQL-checked (DuckDB nfc_normalize/strip_accents twins; shared
# explicit whitespace class because RE2's \s is ASCII-only)
@query("text_normalize", oracle=_text_norm_oracle)
def q_text_norm(spark, sf_dir):
    df = spark.createDataFrame(_NORM_ROWS, "row_id string, raw string")
    cleaned = df.select("row_id", fn.nfc_clean("raw").alias("clean"))
    return cleaned.select("row_id", "clean",
                          fn.ascii_fold("clean").alias("folded"))


# --- BM25 retrieval scores — SQL-checked (unigram_logppl-style
# decimal fixed-point sum)
# BM25 (Lucene idf): per-(doc,term) score rounds into
# DECIMAL(20,9) before the associative sum — the unigram_logppl
# fixed-point pipeline; all float literals exponent-forced DOUBLE
@query("bm25_scores", oracle=lambda: f"""
            WITH base AS (
              SELECT doc_id, len({_TOK})::double AS dl,
                     list_transform({_TOK}, t -> lower(t)) AS tk
              FROM documents
            ), corpus AS (
              SELECT count(*)::double AS n_docs, sum(dl) AS sum_dl
              FROM base
            ), tf AS (
              SELECT doc_id, dl, term, count(*)::double AS tf
              FROM base, unnest(tk) AS u(term)
              WHERE term IN {repr(tuple(_BM25_TERMS))}
              GROUP BY 1, 2, 3
            ), dfreq AS (
              SELECT term, count(*)::double AS df_t FROM tf GROUP BY 1
            ), scored AS (
              SELECT doc_id,
                     round(
                       ln((n_docs - df_t + {_flit(0.5)})
                          / (df_t + {_flit(0.5)}) + 1)
                       * (tf * {_flit(1.2 + 1)})
                       / (tf + {_flit(1.2)} * ({_flit(1 - 0.75)}
                          + {_flit(0.75)} * dl / (sum_dl / n_docs))),
                       9)::decimal(20,9) AS s
              FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
            )
            SELECT doc_id, count(*)::bigint AS n_terms,
                   round(sum(s), 6)::double AS bm25
            FROM scored GROUP BY doc_id""")
def q_bm25(spark, sf_dir):
    return webtext.bm25_scores(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS))


# --- positional inverted index (capped postings) — SQL-checked
# positional inverted index: df/total exact, postings capped to
# 50 by (doc, pos) — DuckDB's list(... ORDER BY) slice == Spark's
# array_sort(collect_list(struct)) slice (keys are unique)
@query("inverted_index", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, {_TOK} AS tk FROM documents
            ), pos_tok AS (
              SELECT doc_id AS doc, i AS pos, lower(tk[i]) AS term
              FROM toks, unnest(generate_series(1, len(tk))) AS u(i)
            )
            SELECT term, count(DISTINCT doc)::bigint AS df_t,
                   count(*)::bigint AS n_total,
                   least(count(*), 50)::bigint AS n_postings,
                   array_to_string(list_slice(
                     list(doc || ':' || pos ORDER BY doc, pos),
                     1, 50), ',') AS postings
            FROM pos_tok GROUP BY term""")
def q_inv_index(spark, sf_dir):
    return webtext.inverted_index(
        _t(spark, sf_dir, "documents"), max_postings=50)


# --- CCNet perplexity buckets — SQL-checked (integer fixed-point
# percentile: quantile_cont on round(ppl*1e6) quarters is exact)
# CCNet ppl buckets: unigram_logppl CTE + quantile_cont over the
# INTEGER fixed-point round(ppl*1e6) at quarter fractions
# (integer interpolation is exact in both engines)
@query("ccnet_ppl_buckets", oracle=lambda: f"""
            WITH tok AS (
              SELECT doc_id AS id,
                     unnest(list_transform({_TOK}, t -> lower(t))) AS term
              FROM documents
            ), counts AS (
              SELECT term, count(*) AS c FROM tok GROUP BY term
            ), totals AS (
              SELECT sum(c)::double AS n_tok, count(*)::double AS v
              FROM counts
            ), scored AS (
              SELECT id,
                     round(-ln((c + 1) / (n_tok + v)),
                           9)::decimal(20,9) AS nlp
              FROM tok JOIN counts USING (term), totals
            ), ppl AS (
              SELECT id AS doc_id,
                     round(sum(nlp)::double / count(*), 6) AS log_ppl
              FROM scored GROUP BY id
            ), p6 AS (
              SELECT doc_id, log_ppl,
                     round(log_ppl * 1e6)::bigint AS p
              FROM ppl
            ), cuts AS (
              SELECT quantile_cont(p, 0.25e0) AS c25,
                     quantile_cont(p, 0.75e0) AS c75
              FROM p6
            )
            SELECT doc_id, log_ppl,
                   CASE WHEN p <= c25 THEN 'head'
                        WHEN p <= c75 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM p6 CROSS JOIN cuts""")
def q_ppl_buckets(spark, sf_dir):
    return textstats.ccnet_ppl_buckets(_t(spark, sf_dir, "documents"))


# --- mojibake repair — the query corrupts accented text through
# the real defect (UTF-8 bytes mis-decoded as sloppy cp1252) and
# repairs it; the oracle states the CONTRACT (repair restores the
# original byte-exactly wherever corruption occurred), so any
# repair failure is a driver-grade hash mismatch
# contract twin: corruption happens iff an a/e/o/u was
# accented into non-ASCII; repair must restore byte-exactly
@query("mojibake_repair", oracle=lambda: """
            SELECT doc_id,
                   regexp_matches(text, '[aeou]') AS was_mojibake,
                   true AS restored
            FROM documents""")
def q_mojibake(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.translate("text", "aeou", "áéöü").alias("t"))
    out = (docs
           .withColumn("c", fn.mojibake_corrupt("t"))
           .withColumn("r", fn.fix_mojibake("c")))
    return out.select(
        "doc_id", (F.col("c") != F.col("t")).alias("was_mojibake"),
        (F.col("r") == F.col("t")).alias("restored"))


# --- fixed-width length histogram — SQL-checked
@query("doc_length_histogram", oracle=lambda: """
            SELECT (n_chars // 50)::int AS bucket, count(*) AS n,
                   min(n_chars) AS lo, max(n_chars) AS hi
            FROM documents GROUP BY 1""")
def q_len_hist(spark, sf_dir):
    return webtext.length_histogram(
        _t(spark, sf_dir, "documents"), "n_chars", width=50)


# --- TF-IDF top terms per document — SQL-checked
# TF-IDF: idf = ln((N+1)/(df+1)) + 1 with (N+1) as double and
# (df+1) as bigint on BOTH sides — one IEEE division, one ln,
# rounded to 6; ties sort by the ROUNDED score then term
@query("tfidf_top_terms", oracle=lambda: f"""
            WITH tok AS (
              SELECT doc_id AS id,
                     unnest(list_transform({_TOK}, t -> lower(t))) AS term
              FROM documents
            ), tf AS (
              SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term
            ), dfq AS (
              SELECT term, count(DISTINCT id) AS doc_freq
              FROM tok GROUP BY term
            ), n AS (SELECT count(*) AS nd FROM documents)
            SELECT id AS doc_id, term, tf, doc_freq,
                   round(tf * (ln((nd + 1)::double / (doc_freq + 1)) + 1),
                         6) AS tfidf,
                   row_number() OVER (PARTITION BY id
                     ORDER BY round(tf * (ln((nd + 1)::double
                                / (doc_freq + 1)) + 1), 6) DESC,
                              term ASC) AS rk
            FROM tf JOIN dfq USING (term), n
            QUALIFY rk <= 3""")
def q_tfidf(spark, sf_dir):
    return webtext.tfidf_top_terms(
        _t(spark, sf_dir, "documents"), k=3)


# --- unigram LM cross-entropy (KenLM-style quality signal) —
# SQL-checked via fixed-point decimal summation on both sides
# unigram LM cross-entropy: per-token -ln p rounded to 9 and
# summed as DECIMAL (associative, order-free) on both engines
@query("unigram_logppl", oracle=lambda: f"""
            WITH tok AS (
              SELECT doc_id AS id,
                     unnest(list_transform({_TOK}, t -> lower(t))) AS term
              FROM documents
            ), counts AS (
              SELECT term, count(*) AS c FROM tok GROUP BY term
            ), totals AS (
              SELECT sum(c)::double AS n_tok, count(*)::double AS v
              FROM counts
            ), scored AS (
              SELECT id,
                     round(-ln((c + 1) / (n_tok + v)),
                           9)::decimal(20,9) AS nlp
              FROM tok JOIN counts USING (term), totals
            )
            SELECT id AS doc_id, count(*) AS n_tokens,
                   round(sum(nlp)::double / count(*), 6) AS log_ppl
            FROM scored GROUP BY id""")
def q_logppl(spark, sf_dir):
    return textstats.unigram_logppl(_t(spark, sf_dir, "documents"))


# --- interpolated bigram LM cross-entropy (order-2 KenLM signal) —
# SQL-checked; same fixed-point pipeline, shuffle-joined bigram
# table (too big to broadcast at scale), broadcast unigrams
# interpolated bigram LM: p = 0.75*c12/c1 + 0.25*(c2+1)/(N+V),
# -ln p fixed-pointed to DECIMAL(20,9) before the sum (the
# unigram_logppl pipeline at order 2; 0.75 is binary-exact)
@query("bigram_logppl", oracle=lambda: f"""
            WITH t AS (
              SELECT doc_id, list_transform({_TOK}, x -> lower(x)) AS tk
              FROM documents
            ), uni AS (
              SELECT term, count(*) AS c
              FROM (SELECT unnest(tk) AS term FROM t) GROUP BY term
            ), tot AS (
              SELECT sum(c)::double AS n_tok, count(*)::double AS v
              FROM uni
            ), pairs AS (
              SELECT doc_id, tk[i] AS t1, tk[i + 1] AS t2
              FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
              WHERE len(tk) >= 2
            ), big AS (
              SELECT t1, t2, count(*) AS c12 FROM pairs GROUP BY t1, t2
            ), s AS (
              SELECT doc_id,
                     round(-ln(0.75e0 * c12 / u1.c
                               + 0.25e0 * (u2.c + 1)
                                 / (tot.n_tok + tot.v)),
                           9)::decimal(20,9) AS nlp
              FROM pairs
              JOIN big USING (t1, t2)
              JOIN uni u1 ON pairs.t1 = u1.term
              JOIN uni u2 ON pairs.t2 = u2.term
              CROSS JOIN tot
            )
            SELECT doc_id, count(*)::bigint AS n_bigrams,
                   round(sum(nlp)::double / count(*), 6) AS log_ppl
            FROM s GROUP BY doc_id""")
def q_bigram(spark, sf_dir):
    return textstats.bigram_logppl(_t(spark, sf_dir, "documents"))


# --- language-ID confidence margin (top1 vs top2 trigram hits) —
# SQL-checked (rank<=2 pivot twin over the shared profile VALUES)
@query("lang_id_margin", oracle=lambda: r"""
            WITH prof(lang, tri) AS (VALUES {profvals}),
            t AS (SELECT doc_id,
                         ' ' || regexp_replace(lower(substr(text, 1, 256)),
                                               '\s+', ' ', 'g') || ' ' AS s
                  FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(
                             generate_series(1, greatest(length(s) - 2, 0)),
                             i -> substr(s, i, 3))) AS tri
                  FROM t),
            h AS (SELECT g.doc_id, prof.lang, count(*)::bigint AS n_hits
                  FROM g JOIN prof ON g.tri = prof.tri
                  GROUP BY g.doc_id, prof.lang),
            r AS (SELECT doc_id, lang, n_hits,
                         row_number() OVER (
                             PARTITION BY doc_id
                             ORDER BY n_hits DESC, lang ASC) AS rk
                  FROM h QUALIFY rk <= 2),
            b AS (SELECT doc_id,
                         max(CASE WHEN rk = 1 THEN lang END) AS lang,
                         max(CASE WHEN rk = 1 THEN n_hits END) AS n1,
                         max(CASE WHEN rk = 2 THEN n_hits END) AS n2
                  FROM r GROUP BY doc_id),
            o AS (SELECT d.doc_id,
                         coalesce(b.lang, 'unknown') AS lang_pred,
                         coalesce(b.n1, 0)::bigint AS n_hits,
                         coalesce(b.n2, 0)::bigint AS n_hits_2nd
                  FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id)
            SELECT doc_id, lang_pred, n_hits, n_hits_2nd,
                   (CASE WHEN n_hits > 0
                    THEN (n_hits - n_hits_2nd) * 10000 // n_hits
                    ELSE 0 END)::bigint AS margin_bp,
                   (n_hits > 0 AND
                    (CASE WHEN n_hits > 0
                     THEN (n_hits - n_hits_2nd) * 10000 // n_hits
                     ELSE 0 END) >= 3000) AS confident
            FROM o
        """.replace("{profvals}", ", ".join(
    f"('{lg}', '{t}')"
    for lg, tris in sorted(textstats.TRIGRAM_PROFILES.items())
    for t in tris)))
def q_lang_margin(spark, sf_dir):
    return textstats.lang_id_margin(_t(spark, sf_dir, "documents"))


# --- per-language length quartiles — SQL-checked (integer inputs
# make the interpolation exact in doubles on both engines)
@query("length_quantiles", oracle=lambda: """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.25e0), 6) AS q25,
                   round(quantile_cont(n_chars, 0.5e0), 6) AS q50,
                   round(quantile_cont(n_chars, 0.75e0), 6) AS q75,
                   count(*) AS n
            FROM documents GROUP BY lang""")
def q_quantiles(spark, sf_dir):
    return textstats.grouped_quantiles(
        _t(spark, sf_dir, "documents"), "n_chars", "lang")


# --- language-ID heuristic (C10) — SQL-checked
@query("lang_id_heuristic", oracle=lambda: f"""
            SELECT doc_id,
                   CASE
                     WHEN {_RATIOS['en']} = {_BEST} AND {_BEST} > 0 THEN 'en'
                     WHEN {_RATIOS['fr']} = {_BEST} AND {_BEST} > 0 THEN 'fr'
                     WHEN {_RATIOS['es']} = {_BEST} AND {_BEST} > 0 THEN 'es'
                     WHEN {_RATIOS['de']} = {_BEST} AND {_BEST} > 0 THEN 'de'
                     ELSE 'unknown'
                   END AS lang_pred
            FROM documents""")
def q_lang_id(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    textstats.lang_id("text").alias("lang_pred")))


# --- character-trigram language ID (C10 upgrade) — SQL-checked
# trigram language ID: same profile table (VALUES), same
# space-padded 256-char sample, same (n_hits DESC, lang ASC)
# argmax; docs with zero profile hits -> 'unknown'
@query("lang_id_trigram", oracle=lambda: r"""
            WITH prof(lang, tri) AS (VALUES {profvals}),
            t AS (SELECT doc_id,
                         ' ' || regexp_replace(lower(substr(text, 1, 256)),
                                               '\s+', ' ', 'g') || ' ' AS s
                  FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(
                             generate_series(1, greatest(length(s) - 2, 0)),
                             i -> substr(s, i, 3))) AS tri
                  FROM t),
            h AS (SELECT g.doc_id, prof.lang, count(*)::bigint AS n_hits
                  FROM g JOIN prof ON g.tri = prof.tri
                  GROUP BY g.doc_id, prof.lang),
            b AS (SELECT doc_id, lang, n_hits FROM h
                  QUALIFY row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY n_hits DESC, lang ASC) = 1)
            SELECT d.doc_id, coalesce(b.lang, 'unknown') AS lang_pred,
                   coalesce(b.n_hits, 0)::bigint AS n_hits
            FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id
        """.replace("{profvals}", ", ".join(
    f"('{lg}', '{t}')"
    for lg, tris in sorted(textstats.TRIGRAM_PROFILES.items())
    for t in tris)))
def q_lang_tri(spark, sf_dir):
    return textstats.lang_id_trigram(_t(spark, sf_dir, "documents"))


# --- Unicode script profile (pre-lang-ID routing): documents is
# ASCII-only, so the committed multilingual sample rows ride along
# to exercise every range cross-engine
# Unicode script profile: generated char classes + shared CASE
@query("script_profile", oracle=_script_sql)
def q_scripts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sample = spark.createDataFrame(
        list(textstats.SCRIPT_SAMPLE_ROWS), "doc_id long, text string")
    return textstats.script_profile(docs.unionByName(sample))


# --- Unicode NFC normalization (pre-dedup canonicalization):
# ASCII documents + the committed decomposed/jamo/singleton
# sample rows; oracle = DuckDB's utf8proc nfc_normalize vs the
# stdlib unicodedata UDF (same stable canonical composition)
# NFC canonicalization: utf8proc twin of the unicodedata UDF
@query("nfc_normalize", oracle=_nfc_sql)
def q_nfc(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sample = spark.createDataFrame(
        list(_enc.NFC_SAMPLE_ROWS), "doc_id long, text string")
    return _enc.nfc_normalize_df(docs.unionByName(sample))


# --- declared-language vs dominant-script gate: the testdata's
# romanized zh rows flag (ASCII text under a zh label — exactly
# the mislabel this catches); sample rows cover the pass/flag/
# short/unmapped quadrants
# declared-lang vs dominant-script gate (shared CASE chains)
@query("script_lang_consistency", oracle=_script_lang_sql)
def q_ls_gate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "text")
    sample = spark.createDataFrame(
        list(_LS_ROWS), "doc_id long, lang string, text string")
    return textstats.script_lang_consistency(docs.unionByName(sample))


# --- Porter stemmer (retrieval-side normalization; the paper's
# rule set, vector-pinned) — Spark re-derives the vocabulary
# with the SAME pure functions that generated the committed
# golden; collisions read the golden on BOTH sides
# Porter vocabulary: committed golden pinned by
# tests/test_stem.py against the pure re-derivation (and
# the paper's step vectors); Spark re-derives it live
@query("stem_vocab", oracle=lambda: f"""
            SELECT word, stem
            FROM read_parquet('{_GOLDEN_STEMS}')""")
def q_stem_vocab(spark, sf_dir):
    rows = fixtures.stem_texts(40)
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows],
        "url string, text string").repartition(8)
    return textstats.stem_vocab(df)


@query("stem_collisions", oracle=lambda: f"""
            SELECT stem, count(*)::bigint AS n_words,
                   list(word ORDER BY word) AS words
            FROM read_parquet('{_GOLDEN_STEMS}')
            GROUP BY stem HAVING count(*) > 1
            ORDER BY stem""")
def q_stem_collisions(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_STEMS)
    return (g.groupBy("stem")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sort_array(F.collect_list("word"))
                 .alias("words"))
            .where(F.col("n_words") > 1)
            .orderBy("stem"))
