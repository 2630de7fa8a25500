"""Quality gates: Gopher/C4 rules, the classifier, PII, licenses."""

from pyspark.sql import functions as F

from .. import functions as fn
from ..extractor import licensex, piix as _piix
from ..operators import (
    licensing, pii, psl as _psl, qmodel as _qmodel, quality, textstats,
    webtext)
from ..operators.textstats import tokens
from ..operators.webtext import URL_SOFT_WORDS
from . import (
    _GOLDEN, _SPLIT_TLDS, _TOK, _TOKSPLIT, _W_SQL, _fixture, _t, query)


def _url_quality_oracle() -> str:
    """DuckDB twin of webtext.url_quality over the synthetic urls
    built in q_url_quality: hostbase (digit-heavy 'cdn<id>' for
    doc_id%7==0, else 'sub<0..2>') + source + a TLD picked from
    _SPLIT_TLDS, with a '?session=1&download=now' query string on
    every 5th doc. Same PSL CASE cascade as _domain_split_oracle for
    the registrable domain; instr probes for the soft words; integer
    basis points for the digit share (no floats anywhere)."""
    suf2 = ", ".join(f"'{s}'" for s in sorted(_psl.SUFFIX_2))
    suf3 = ", ".join(f"'{s}'" for s in sorted(_psl.SUFFIX_3))
    tlds = ", ".join(f"'{t}'" for t in _SPLIT_TLDS)
    soft = "\n                   + ".join(
        f"(instr(lower(url), '{w}') > 0)::bigint"
        for w in sorted(set(URL_SOFT_WORDS)))
    return f"""
            WITH u AS (
              SELECT doc_id,
                     'https://' ||
                     CASE WHEN doc_id % 7 = 0 THEN 'cdn' || doc_id
                          ELSE 'sub' || (doc_id % 3) END
                     || '.' || source || '.' ||
                     ([{tlds}])[ascii(right(source, 1)) % 4 + 1]
                     || '/doc-' || doc_id ||
                     CASE WHEN doc_id % 5 = 0
                          THEN '?session=1&download=now'
                          ELSE '' END AS url
              FROM documents
            ), h AS (
              SELECT doc_id, url,
                     lower(regexp_replace(regexp_extract(url,
                       '^[^:/?#]+://([^/?#:@]+(?::\\d+)?)', 1),
                       ':\\d+$', '')) AS host
              FROM u
            ), d AS (
              SELECT doc_id, url, host,
                   CASE WHEN regexp_extract(host,
                          '([^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({suf3})
                        THEN regexp_extract(host,
                          '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1)
                        WHEN regexp_extract(host,
                          '([^.]+\\.[^.]+)$', 1) IN ({suf2})
                        THEN regexp_extract(host,
                          '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                        ELSE regexp_extract(host,
                          '([^.]+\\.[^.]+)$', 1) END AS domain
              FROM h
            ), s AS (
              SELECT doc_id, domain,
                     ({soft})::bigint AS n_soft,
                     length(regexp_replace(host, '[^0-9]', '', 'g'))
                       ::bigint AS _nd,
                     length(host)::bigint AS _hl
              FROM d
            ), b AS (
              SELECT doc_id, domain, n_soft,
                     (CASE WHEN _hl > 0 THEN (_nd * 10000) // _hl
                           ELSE 0 END)::bigint AS digit_bp
              FROM s)
            SELECT doc_id, domain, n_soft, digit_bp,
                   (domain NOT IN ('src1.co.uk', 'src2.com')
                    AND n_soft <= 1 AND digit_bp <= 2000) AS keep
            FROM b"""


def _pii_luhn_sql(ds: str) -> str:
    """Luhn mod-10 as a DuckDB integer fold over a digits-only column
    NAME — the RE2-side twin of operators/pii._luhn_ok (Spark
    ``aggregate`` fold) and extractor/piix.luhn_ok."""
    d = f"({ds}[i]::int)"
    return (f"list_sum(list_transform(generate_series(1, length({ds})), "
            f"i -> CASE WHEN (length({ds}) - i) % 2 = 1 THEN "
            f"CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END "
            f"ELSE {d} END)) % 10 = 0")


def _pii_fix_sql() -> str:
    return f"SELECT url, text FROM read_parquet('{_PII_FIX}')"


def _license_sig_cte() -> str:
    """Three-channel license signals (ends in ``sig``) — regexes
    and the phrase table GENERATED from extractor/licensex.py (the
    soft404 precedent)."""
    cc = licensex.CC_HREF_RE
    phrase_sel = "\n          UNION ALL\n          ".join(
        f"SELECT url, 'phrase' AS source, '{lic}' AS license_id "
        f"FROM raw WHERE text IS NOT NULL "
        f"AND contains(lower(text), '{needle}')"
        for needle, lic in licensex.PHRASES)
    return f"""
        raw AS (SELECT * FROM read_parquet('{_LIC_FIX}')),
        sig0 AS (
          SELECT url, 'link' AS source,
                 CASE WHEN regexp_extract(href, '{cc}', 1) != ''
                      THEN 'CC-' ||
                           upper(regexp_extract(href, '{cc}', 1))
                           || '-' ||
                           regexp_extract(href, '{cc}', 2)
                      WHEN regexp_matches(href,
                               '{licensex.CC0_HREF_RE}')
                      THEN 'CC0-1.0' END AS license_id
          FROM raw WHERE href IS NOT NULL
          UNION ALL
          SELECT url, 'spdx',
                 regexp_extract(text, '{licensex.SPDX_RE}', 1)
          FROM raw WHERE text IS NOT NULL
          UNION ALL
          {phrase_sel}
        ),
        sig AS (
          SELECT * FROM sig0
          WHERE license_id IS NOT NULL AND license_id != ''
        )"""


def _license_signals_sql() -> str:
    return f"""
        WITH {_license_sig_cte()}
        SELECT url, source, license_id FROM sig
        ORDER BY url, source, license_id"""


def _license_resolve_sql() -> str:
    return f"""
        WITH {_license_sig_cte()}
        SELECT url, license_id, source FROM sig
        QUALIFY row_number() OVER (PARTITION BY url ORDER BY
          CASE source WHEN 'link' THEN 0 WHEN 'spdx' THEN 1
               ELSE 2 END, license_id, source) = 1
        ORDER BY url"""


def _pii_spans_sql() -> str:
    """Candidates by kind (UNION ALL of regexp_extract_all unnests),
    then the per-kind validity post-filter — structurally the same
    explode-then-filter plan the Spark side builds.  Patterns are
    GENERATED from extractor/piix.PATTERNS (the _W_SQL precedent)."""
    p = _piix.PATTERNS
    return f"""
            WITH t AS ({_pii_fix_sql()}),
            cand AS (
              SELECT url, 'card' AS kind,
                     unnest(regexp_extract_all(text, '{p["card"]}')) AS value
              FROM t
              UNION ALL SELECT url, 'email',
                     unnest(regexp_extract_all(text, '{p["email"]}')) FROM t
              UNION ALL SELECT url, 'ipv4',
                     unnest(regexp_extract_all(text, '{p["ipv4"]}')) FROM t
              UNION ALL SELECT url, 'phone',
                     unnest(regexp_extract_all(text, '{p["phone"]}')) FROM t
            ), v AS (
              SELECT url, kind, value,
                     regexp_replace(value, '[^0-9]', '', 'g') AS ds
              FROM cand
            )
            SELECT url, kind, value FROM v
            WHERE CASE kind
              WHEN 'email' THEN true
              WHEN 'ipv4' THEN len(list_filter(string_split(value, '.'),
                                   o -> o::int > 255)) = 0
              WHEN 'phone' THEN length(ds) BETWEEN 7 AND 15
              ELSE {_pii_luhn_sql('ds')}
            END
            ORDER BY url, kind, value"""


def _pii_profile_sql() -> str:
    """Per-document valid-instance counts by kind — zero-PII documents
    keep their row with zero counts, like the Spark projection."""
    p = _piix.PATTERNS
    n_email = f"len(regexp_extract_all(text, '{p['email']}'))"
    n_phone = (f"len(list_filter(regexp_extract_all(text, '{p['phone']}'), "
               f"v -> length(regexp_replace(v, '[^0-9]', '', 'g')) "
               f"BETWEEN 7 AND 15))")
    n_ipv4 = (f"len(list_filter(regexp_extract_all(text, '{p['ipv4']}'), "
              f"v -> len(list_filter(string_split(v, '.'), "
              f"o -> o::int > 255)) = 0))")
    n_card = (f"len(list_filter(list_transform("
              f"regexp_extract_all(text, '{p['card']}'), "
              f"v -> regexp_replace(v, '[^0-9]', '', 'g')), "
              f"ds -> {_pii_luhn_sql('ds')}))")
    return f"""
            SELECT url,
                   {n_email}::bigint AS n_emails,
                   {n_phone}::bigint AS n_phones,
                   {n_ipv4}::bigint AS n_ipv4,
                   {n_card}::bigint AS n_cards,
                   ({n_email} + {n_phone} + {n_ipv4} + {n_card})::bigint
                     AS n_pii
            FROM ({_pii_fix_sql()})
            ORDER BY url"""


def _pii_redact_sql() -> str:
    """Recall-oriented masking twin: nested global regexp_replace in
    piix.REDACT_ORDER (masks carry no digits/'@', so later patterns
    never match inside earlier masks)."""
    expr = "text"
    for kind in _piix.REDACT_ORDER:
        expr = (f"regexp_replace({expr}, '{_piix.PATTERNS[kind]}', "
                f"'{_piix.MASKS[kind]}', 'g')")
    return f"""
            SELECT url, md5(redacted) AS redacted_md5,
                   length(redacted)::bigint AS redacted_len
            FROM (SELECT url, {expr} AS redacted
                  FROM ({_pii_fix_sql()}))
            ORDER BY url"""


def _pii_oracle() -> str:
    """DuckDB twin of functions.redact_pii: identical RE2/Java-common
    patterns applied globally in the same order.  (The corpus-scale
    PII family with validity post-filters lives in operators/pii.py;
    its twins are _pii_spans_sql/_pii_profile_sql/_pii_redact_sql.)"""
    vals = ", ".join(f"('{r}', '{t}')" for r, t in _PII_ROWS)
    expr = "text"
    for pat, repl in fn.PII_PATTERNS:
        # DuckDB single-quoted strings take backslashes literally —
        # only quotes need escaping
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return f"""
            WITH t(row_id, text) AS (VALUES {vals})
            SELECT row_id, {expr} AS clean FROM t"""


_PII_FIX = _fixture("pii_texts_seed42_n160.parquet")
_LIC_FIX = _fixture("license_pages_seed42_n40.parquet")

# PII-redaction fixture (deterministic VALUES both sides)
_PII_ROWS = [
    ("t1", "contact john.doe+x@example.com or jane@sub.domain.org now"),
    ("t2", "server at 192.168.1.250 port 8080"),
    ("t3", "call +1 (555) 123-4567 today"),
    ("t4", "mixed: a@b.co, 10.0.0.1, +44 20 7946 0958."),
    ("t5", "no pii here, just text 42"),
]


def _qclass_sql() -> str:
    """Hashed-linear quality classifier as a complete DuckDB query
    over documents — shared by the quality_classifier oracle and the
    quality_gate_agreement oracle."""
    tok = (r"list_filter(regexp_split_to_array(trim(text), '\s+'), "
           r"x -> x != '')")
    return f"""
            WITH t AS (SELECT doc_id, {tok} AS tk FROM documents),
            s AS (
              SELECT doc_id, len(tk)::bigint AS n_tokens,
                     coalesce(list_sum(list_transform(tk,
                       x -> ({_W_SQL})[((cast('0x' ||
                         substr(md5(lower(x)), 1, 8) AS bigint))
                         % {_qmodel.N_BUCKETS}) + 1])), 0)::bigint
                       AS score_micro
              FROM t)
            SELECT doc_id, n_tokens, score_micro,
                   (CASE WHEN score_micro >
                       {-_qmodel.BIAS_MICRO}::bigint * n_tokens
                    THEN 1 ELSE 0 END)::bigint AS keep
            FROM s"""


def _gopher_sql(src: str, min_words: int = 50,
                max_words: int = 100000) -> str:
    """Gopher document-quality rules as a complete DuckDB query over
    any (url, text) source select ``src`` — shared by the golden-
    corpus ``gopher_rules`` oracle and the documents-table
    ``quality_gate_agreement`` oracle (the id column keeps the name
    ``url`` whatever its type)."""
    return f"""
            WITH d AS ({src}), t AS (
              SELECT url, text,
                     list_filter(regexp_split_to_array(trim(text),
                                 '\\s+'), x -> x != '') AS tok,
                     str_split(text, chr(10)) AS lines
              FROM d
            ), m AS (
              SELECT url,
                len(tok)::bigint AS n_words,
                (CASE WHEN len(tok) = 0 THEN 0 ELSE
                   list_reduce(list_transform(tok,
                     w -> length(w)::bigint), (a, b) -> a + b)
                 END)::bigint AS total_word_chars,
                len(list_filter(tok, w -> regexp_matches(w,
                    '[A-Za-z]')))::bigint AS n_alpha_words,
                len(list_filter(
                    ['the','be','to','of','and','that','have','with'],
                    s -> list_contains(list_transform(tok,
                         w -> lower(w)), s)))::bigint AS n_stop_hits,
                ((length(text) - length(replace(text, '...', ''))) / 3
                  + length(text) - length(replace(text, '…', ''))
                  + length(text) - length(replace(text, '#', ''))
                 )::bigint AS symbol_hits,
                len(lines)::bigint AS n_lines,
                len(list_filter(lines, l -> regexp_matches(l,
                    '^\\s*[-*•]')))::bigint AS n_bullet_lines,
                len(list_filter(lines, l -> regexp_matches(l,
                    '(\\.\\.\\.|…)\\s*$')))::bigint AS n_ellipsis_lines
              FROM t
            )
            SELECT url, n_words, total_word_chars, n_alpha_words,
                   n_stop_hits, symbol_hits, n_lines, n_bullet_lines,
                   n_ellipsis_lines,
                   (n_words BETWEEN {min_words} AND {max_words}) AS r_word_count,
                   (total_word_chars >= 3 * n_words
                    AND total_word_chars <= 10 * n_words
                    AND n_words > 0) AS r_mean_word_len,
                   (10 * symbol_hits <= n_words) AS r_symbol_ratio,
                   (10 * n_bullet_lines <= n_lines) AS r_bullet_lines,
                   (10 * n_ellipsis_lines <= 3 * n_lines)
                     AS r_ellipsis_lines,
                   (5 * n_alpha_words >= 4 * n_words) AS r_alpha_words,
                   (n_stop_hits >= 2) AS r_stop_words,
                   ((n_words BETWEEN {min_words} AND {max_words})
                    AND total_word_chars >= 3 * n_words
                    AND total_word_chars <= 10 * n_words
                    AND n_words > 0
                    AND 10 * symbol_hits <= n_words
                    AND 10 * n_bullet_lines <= n_lines
                    AND 10 * n_ellipsis_lines <= 3 * n_lines
                    AND 5 * n_alpha_words >= 4 * n_words
                    AND n_stop_hits >= 2) AS keep
            FROM m"""


# --- soft-404 / error-page gate — SQL-checked; error phrases are
# derived arithmetically from doc_id on BOTH sides (the synthetic-
# edges pattern) so outcomes genuinely vary on word-soup fixtures
# soft-404 gate: phrase list + brevity over the arithmetically
# marked text (same CASE derivation as the Spark side; the
# phrase OR-chain is generated from webtext.SOFT404_PHRASES so
# the two engines can never drift)
@query("soft404_gate", oracle=lambda: rf"""
            WITH marked AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 13 = 0
                         THEN ' error 404 - page not found'
                       WHEN doc_id % 13 = 5 THEN ' access denied'
                       ELSE '' END AS text
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(list_filter(regexp_split_to_array(trim(text),
                         '\s+'), x -> x != ''))::bigint AS n_words,
                     contains(lower(text), '404') AS has_404,
                     ({" OR ".join(f"contains(lower(text), '{p}')"
                                   for p in webtext.SOFT404_PHRASES)}
                     ) AS has_error_phrase
              FROM marked
            )
            SELECT doc_id, n_words, has_404, has_error_phrase,
                   n_words <= 30 AS is_short,
                   (has_404 AND has_error_phrase)
                     OR (has_error_phrase AND n_words <= 30) AS soft404,
                   NOT ((has_404 AND has_error_phrase)
                     OR (has_error_phrase AND n_words <= 30)) AS keep
            FROM sig""")
def q_soft404(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    marked = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit(" error 404 - page not found"))
         .when(F.col("doc_id") % 13 == 5, F.lit(" access denied"))
         .otherwise(F.lit(""))))
    return webtext.soft404_gate(marked)


# --- consent-banner / paywall interstitial gate — SQL-checked
# (the soft404 shape: arithmetically marked text, phrase chains
# GENERATED from the shared Python constants on both sides)
# consent/paywall interstitial gate: phrase-hit counts +
# brevity over the arithmetically marked text (hit chains
# generated from webtext.CONSENT_PHRASES/PAYWALL_PHRASES so
# the two engines can never drift)
@query("interstitial_gate", oracle=lambda: rf"""
            WITH marked AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 11 = 0
                         THEN ' We use cookies: accept all cookies or manage preferences.'
                       WHEN doc_id % 11 = 3
                         THEN ' Subscribe to continue reading.'
                       WHEN doc_id % 11 = 7 THEN ' Cookie Policy'
                       ELSE '' END AS text
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(list_filter(regexp_split_to_array(trim(text),
                         '\s+'), x -> x != ''))::bigint AS n_words,
                     ({" + ".join(
                         f"CASE WHEN contains(lower(text), '{p}') "
                         "THEN 1 ELSE 0 END"
                         for p in webtext.CONSENT_PHRASES)})::bigint
                       AS consent_hits,
                     ({" + ".join(
                         f"CASE WHEN contains(lower(text), '{p}') "
                         "THEN 1 ELSE 0 END"
                         for p in webtext.PAYWALL_PHRASES)})::bigint
                       AS paywall_hits
              FROM marked
            )
            SELECT doc_id, n_words, consent_hits, paywall_hits,
                   n_words <= 80 AS is_short,
                   consent_hits >= 2 AND n_words <= 80 AS consent_shell,
                   paywall_hits >= 1 AS paywalled,
                   NOT (consent_hits >= 2 AND n_words <= 80)
                     AND NOT (paywall_hits >= 1 AND n_words <= 80)
                     AS keep
            FROM sig""")
def q_interstitial(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    marked = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" We use cookies: accept all cookies or "
                     "manage preferences."))
         .when(F.col("doc_id") % 11 == 3,
               F.lit(" Subscribe to continue reading."))
         .when(F.col("doc_id") % 11 == 7, F.lit(" Cookie Policy"))
         .otherwise(F.lit(""))))
    return webtext.interstitial_gate(marked)


# --- parked-domain gate — same soft404 shape (arithmetic
# marking, generated phrase chains)
@query("parked_gate", oracle=lambda: rf"""
            WITH marked AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 13 = 0
                         THEN ' This domain is for sale. Interested in this domain? Contact the registrar.'
                       WHEN doc_id % 13 = 4
                         THEN ' The domain is parked free, courtesy of the registrar.'
                       WHEN doc_id % 13 = 8
                         THEN ' domain name registration'
                       ELSE '' END AS text
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(list_filter(regexp_split_to_array(trim(text),
                         '\s+'), x -> x != ''))::bigint AS n_words,
                     ({" + ".join(
                         f"CASE WHEN contains(lower(text), '{p}') "
                         "THEN 1 ELSE 0 END"
                         for p in webtext.PARKED_PHRASES)})::bigint
                       AS parked_hits
              FROM marked
            )
            SELECT doc_id, n_words, parked_hits,
                   n_words <= 120 AS is_thin,
                   parked_hits >= 2 OR (parked_hits >= 1
                     AND n_words <= 120) AS parked,
                   NOT (parked_hits >= 2 OR (parked_hits >= 1
                     AND n_words <= 120)) AS keep
            FROM sig""")
def q_parked(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    marked = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit(" This domain is for sale. Interested in "
                     "this domain? Contact the registrar."))
         .when(F.col("doc_id") % 13 == 4,
               F.lit(" The domain is parked free, courtesy of "
                     "the registrar."))
         .when(F.col("doc_id") % 13 == 8,
               F.lit(" domain name registration"))
         .otherwise(F.lit(""))))
    return webtext.parked_gate(marked)


# --- PII redaction (training-data hygiene) — SQL-checked
@query("pii_redaction", oracle=_pii_oracle)
def q_pii(spark, sf_dir):
    df = spark.createDataFrame(_PII_ROWS, "row_id string, text string")
    return df.select("row_id", fn.redact_pii("text").alias("clean"))


# --- corpus-scale PII family (operators/pii.py over the committed
# fixture corpus): validity-filtered detection spans, zero-shuffle
# per-document profile, recall-oriented masking.  Triple-checked:
# Spark Java regex vs DuckDB RE2 here, vs pure-Python re in
# tests/test_pii.py — all three generated from piix.PATTERNS.
# corpus-scale PII family: patterns GENERATED from
# extractor/piix.PATTERNS into RE2 (Java-regex/RE2/Python-re
# common subset; Luhn as an integer fold both sides)
@query("pii_spans", oracle=_pii_spans_sql)
def q_pii_spans(spark, sf_dir):
    docs = spark.read.parquet(_PII_FIX)
    return pii.pii_spans(docs).orderBy("url", "kind", "value")


@query("pii_profile", oracle=_pii_profile_sql)
def q_pii_profile(spark, sf_dir):
    docs = spark.read.parquet(_PII_FIX)
    return pii.pii_profile(docs).orderBy("url")


@query("pii_redact_corpus", oracle=_pii_redact_sql)
def q_pii_redact(spark, sf_dir):
    docs = spark.read.parquet(_PII_FIX)
    return (pii.redact_pii(docs)
            .select("url",
                    F.md5(F.col("redacted")).alias("redacted_md5"),
                    F.length("redacted").cast("long")
                    .alias("redacted_len"))
            .orderBy("url"))


# --- content-license detection (training-data gate): CC link /
# SPDX / phrase channels, resolved by precedence — TRUE
# dual-engine (JVM built-ins vs generated SQL, shared constants)
@query("license_signals", oracle=_license_signals_sql)
def q_license_signals(spark, sf_dir):
    raw = spark.read.parquet(_LIC_FIX)
    return (licensing.license_signals(
        raw.where(F.col("href").isNotNull()),
        raw.where(F.col("text").isNotNull()))
        .orderBy("url", "source", "license_id"))


@query("license_resolve", oracle=_license_resolve_sql)
def q_license_resolve(spark, sf_dir):
    raw = spark.read.parquet(_LIC_FIX)
    sig = licensing.license_signals(
        raw.where(F.col("href").isNotNull()),
        raw.where(F.col("text").isNotNull()))
    return licensing.license_resolve(sig).orderBy("url")


# --- C4 blocklist document gate — SQL-checked (list_intersect
# twin; 'window' hits ~80% of docs, 'vacuum' never — both classes)
@query("blocklist_gate", oracle=lambda: f"""
            WITH h AS (
              SELECT doc_id,
                     len(list_intersect(list_distinct(
                       list_transform({_TOK}, y -> lower(y))),
                       ['vacuum', 'window']))::bigint AS n_hits
              FROM documents)
            SELECT doc_id, n_hits, n_hits = 0 AS keep FROM h""")
def q_blocklist(spark, sf_dir):
    return webtext.blocklist_gate(
        _t(spark, sf_dir, "documents"), ["window", "vacuum"])


# --- RefinedWeb-style URL quality filter — SQL-checked (synthetic
# urls exercise banned domains, soft words, digit-heavy hosts)
@query("url_quality_filter", oracle=_url_quality_oracle)
def q_url_quality(spark, sf_dir):
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _SPLIT_TLDS]),
        (F.ascii(F.expr("right(source, 1)")) % 4 + 1).cast("int"))
    hostbase = (
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("cdn"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("sub"), (F.col("doc_id") % 3))))
    url = F.concat(
        F.lit("https://"), hostbase, F.lit("."), F.col("source"),
        F.lit("."), tld, F.lit("/doc-"), F.col("doc_id"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("?session=1&download=now")).otherwise(F.lit("")))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url"))
    return webtext.url_quality(
        docs, banned_domains=("src1.co.uk", "src2.com"))


# --- curation retention funnel: cumulative per-gate survival in
# ONE corpus pass (first-failing-gate histogram) — SQL-checked
@query("retention_funnel", oracle=lambda: f"""
            WITH f AS (
              SELECT CASE
                WHEN NOT coalesce(n_chars >= 100, false) THEN 1
                WHEN NOT coalesce(
                  lang IN ('en', 'de', 'es', 'fr'), false) THEN 2
                WHEN NOT coalesce(len({_TOK}) >= 20, false) THEN 3
                WHEN NOT coalesce(NOT list_contains(
                  list_transform({_TOK}, x -> lower(x)), 'window'),
                  false) THEN 4
                ELSE 5 END AS ff
              FROM documents
            ), h AS (SELECT ff, count(*) AS cnt FROM f GROUP BY ff),
            s AS (SELECT * FROM (VALUES
              (1, 'min_chars'), (2, 'lang_latin'),
              (3, 'min_tokens'), (4, 'blocklist'))
              AS v(stage_idx, stage))
            SELECT stage_idx, stage,
                   sum(CASE WHEN ff >= stage_idx THEN cnt ELSE 0 END)
                     ::bigint AS n_in,
                   sum(CASE WHEN ff > stage_idx THEN cnt ELSE 0 END)
                     ::bigint AS n_out,
                   (CASE WHEN sum(CASE WHEN ff >= stage_idx
                                  THEN cnt ELSE 0 END) > 0
                    THEN sum(CASE WHEN ff > stage_idx
                             THEN cnt ELSE 0 END) * 10000
                         // sum(CASE WHEN ff >= stage_idx
                                THEN cnt ELSE 0 END) END)::bigint
                     AS kept_bp
            FROM s, h GROUP BY stage_idx, stage""")
def q_funnel(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = tokens("text")
    gates = [
        ("min_chars", F.col("n_chars") >= 100),
        ("lang_latin", F.col("lang").isin("en", "de", "es", "fr")),
        ("min_tokens", F.size(tok) >= 20),
        ("blocklist", ~F.array_contains(
            F.transform(tok, lambda x: F.lower(x)), "window")),
    ]
    return webtext.retention_funnel(docs, gates)


# --- gate agreement: C4 blocklist rule gate vs hashed-linear
# learned gate, 2x2 confusion over the same corpus — SQL-checked
# (both gates already have exact twins; the join/agg composes
# them). Gopher-vs-classifier is the production pairing, but its
# stop-word rule is degenerate (always-false) on this synthetic
# corpus; the blocklist gate splits ~20/80 so all four cells fill.
@query("quality_gate_agreement", oracle=lambda: f"""
            WITH g AS (
              SELECT doc_id,
                     (len(list_intersect(list_distinct(
                        list_transform({_TOK}, y -> lower(y))),
                        ['vacuum', 'window'])) = 0) AS ka
              FROM documents
            ), c AS (
              SELECT doc_id, keep FROM ({_qclass_sql()})
            ), j AS (
              SELECT g.doc_id, g.ka, (c.keep = 1) AS kb
              FROM g JOIN c USING (doc_id))
            SELECT count(*)::bigint AS n_docs,
                   sum((ka AND kb)::bigint)::bigint AS n_both_keep,
                   sum((ka AND NOT kb)::bigint)::bigint AS n_a_only,
                   sum((NOT ka AND kb)::bigint)::bigint AS n_b_only,
                   sum((NOT ka AND NOT kb)::bigint)::bigint
                     AS n_neither,
                   (sum((ka = kb)::bigint) * 10000 // count(*))
                     ::bigint AS agree_bp
            FROM j""")
def q_gate_agree(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = webtext.blocklist_gate(docs, ["window", "vacuum"]).select(
        "doc_id", "keep")
    c = quality.quality_classifier(docs)
    return quality.gate_agreement(g, c)


# --- DSIR importance-resampling weights — SQL-checked (target =
# doc_id % 11 == 0 subset; decimal fixed-point log-ratio sum)
# DSIR: hashed-bigram buckets (portable md5 hash), add-1
# smoothed log-ratio per bucket fixed-pointed to decimal(20,9)
# before the per-doc sum; tf * decimal products exact
@query("dsir_weights", oracle=lambda: f"""
            WITH tk AS (
              SELECT doc_id, list_transform({_TOK}, t -> lower(t)) AS tk
              FROM documents
            ), cb AS (
              SELECT doc_id,
                     cast('0x' || substr(md5(tk[i] || ' ' || tk[i+1]),
                          1, 8) AS bigint) % 512 AS b
              FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)
              WHERE doc_id % 11 != 0
            ), tb AS (
              SELECT cast('0x' || substr(md5(tk[i] || ' ' || tk[i+1]),
                          1, 8) AS bigint) % 512 AS b
              FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)
              WHERE doc_id % 11 = 0
            ), docb AS (
              SELECT doc_id, b, count(*) AS tf FROM cb GROUP BY 1, 2
            ), raw AS (
              SELECT b, sum(tf)::bigint AS c_r FROM docb GROUP BY 1
            ), tgt AS (
              SELECT b, count(*) AS c_t FROM tb GROUP BY 1
            ), tt AS (SELECT sum(c_t)::double AS tt FROM tgt),
            rr AS (SELECT sum(c_r)::double AS rr FROM raw),
            lr AS (
              SELECT b,
                     round(ln((coalesce(c_t, 0) + 1)::double / (tt + 512))
                         - ln((coalesce(c_r, 0) + 1)::double / (rr + 512)),
                           9)::decimal(20,9) AS lr
              FROM tgt FULL OUTER JOIN raw USING (b)
              CROSS JOIN tt CROSS JOIN rr
            )
            SELECT doc_id, sum(tf)::bigint AS n_bigrams,
                   round(sum(tf::decimal(10,0) * lr)::double, 6)
                     AS logratio
            FROM docb JOIN lr USING (b) GROUP BY doc_id""")
def q_dsir(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return webtext.dsir_weights(
        docs.where(F.col("doc_id") % 11 != 0),
        docs.where(F.col("doc_id") % 11 == 0), n_buckets=512)


# --- Gopher document-quality rules over the EXTRACTED corpus —
# SQL-checked: both sides read the committed golden parquet (the
# extraction==golden byte-identity is already proven by
# extract_corpus, so this isolates the rule logic on realistic
# multi-line punctuated text); thresholds are integer-cross-
# multiplied, so no float ever reaches the hash
# Gopher rules: every threshold is an integer cross-multiply,
# so no float reaches the hash; symbol_hits' /3 is exact (the
# replace-diff is always a multiple of 3) and DuckDB's
# round-on-cast == Spark's trunc-on-cast on exact integers
@query("gopher_rules", oracle=lambda: _gopher_sql(
    f"SELECT url, extracted_text AS text "
    f"FROM read_parquet('{_GOLDEN}')"))
def q_gopher(spark, sf_dir):
    docs = spark.read.parquet(_GOLDEN).select(
        "url", F.col("extracted_text").alias("text"))
    return (webtext.gopher_rules(docs, id_col="url")
            .withColumnRenamed("id", "url"))


# --- C4 line-level cleaning pass over the extracted corpus —
# SQL-checked byte-exact (clean_text is a string rebuild)
# C4 line filter: terminal punctuation by last-char compare
# (NOT '$'-anchored regex — Java vs RE2 end-anchor semantics
# differ on trailing \\r); clean_text is byte-exact
@query("c4_line_filter", oracle=lambda: f"""
            WITH d AS (
              SELECT url, extracted_text AS text
              FROM read_parquet('{_GOLDEN}')
            ), t AS (
              SELECT url, text, str_split(text, chr(10)) AS lines
              FROM d
            ), k AS (
              SELECT url, text, lines,
                     list_filter(lines, l ->
                       right(trim(l), 1) IN ('.', '!', '?', '"')
                       AND len(list_filter(regexp_split_to_array(
                             trim(l), '\\s+'), x -> x != '')) >= 5
                       AND NOT contains(lower(l), 'javascript')) AS kept
              FROM t
            )
            SELECT url, len(lines)::bigint AS n_lines,
                   len(kept)::bigint AS n_kept,
                   (len(kept) >= 3
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(text, chr(123))) AS keep,
                   coalesce(array_to_string(kept, chr(10)), '')
                     AS clean_text
            FROM k""")
def q_c4(spark, sf_dir):
    docs = spark.read.parquet(_GOLDEN).select(
        "url", F.col("extracted_text").alias("text"))
    return (webtext.c4_line_filter(docs, id_col="url")
            .withColumnRenamed("id", "url"))


# --- hashed-linear quality classifier (fastText/DCLM-style gate,
# committed integer weights) — SQL-checked; pure int64 on both
# sides (weights in micro-units, normalization cross-multiplied)
# hashed-linear quality gate: committed integer weights as a
# list literal, md5 bucket per token, pure int64 cross-multiply
# (list_sum on [] is NULL in DuckDB -> coalesce; Spark's
# aggregate fold returns the 0 seed)
@query("quality_classifier", oracle=_qclass_sql)
def q_quality(spark, sf_dir):
    return quality.quality_classifier(_t(spark, sf_dir, "documents"))


# --- compression-ratio quality signal — rows-only for the driver
# (the compressor IS the model; zlib isn't SQL). Exactness oracle:
# pytest pins Spark == per-row textstats.compression_ratio_bp.
@query("compression_profile", oracle=None)
def q_compression(spark, sf_dir):
    return textstats.compression_profile(
        _t(spark, sf_dir, "documents"))


# --- domain reputation: volume / keep rate / dup rate / score per
# registrable domain, spam flag — SQL-checked (PSL cascade +
# classifier + md5 dup twin; a forced 25% template class per
# domain exercises the dup rate)
@query("host_reputation", oracle=lambda: f"""
            WITH b AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 4 = 0
                          THEN 'TEMPLATE PAGE ' || source
                          ELSE text END AS text
              FROM documents
            ), h AS (
              SELECT doc_id, text,
                     'sub' || (doc_id % 3) || '.' || source || '.' ||
                     ([{", ".join(f"'{t}'" for t in _SPLIT_TLDS)}])
                       [ascii(right(source, 1)) % 4 + 1] AS host
              FROM b
            ), d AS (
              SELECT doc_id, text,
                   CASE WHEN regexp_extract(host,
                          '([^.]+\\.[^.]+\\.[^.]+)$', 1) IN
                          ({", ".join(f"'{s}'"
                                      for s in sorted(_psl.SUFFIX_3))})
                        THEN regexp_extract(host,
                          '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1)
                        WHEN regexp_extract(host,
                          '([^.]+\\.[^.]+)$', 1) IN
                          ({", ".join(f"'{s}'"
                                      for s in sorted(_psl.SUFFIX_2))})
                        THEN regexp_extract(host,
                          '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                        ELSE regexp_extract(host,
                          '([^.]+\\.[^.]+)$', 1) END AS domain
              FROM h
            ), s AS (
              SELECT domain, md5(text) AS hsh,
                     len({_TOK})::bigint AS n_tokens,
                     coalesce(list_sum(list_transform({_TOK},
                       x -> ({_W_SQL})[((cast('0x' ||
                         substr(md5(lower(x)), 1, 8) AS bigint))
                         % {_qmodel.N_BUCKETS}) + 1])), 0)::bigint
                       AS score
              FROM d
            ), k AS (
              SELECT domain, hsh, score,
                     CASE WHEN score >
                          {-_qmodel.BIAS_MICRO}::bigint * n_tokens
                     THEN 1 ELSE 0 END AS keep
              FROM s
            ), g AS (
              SELECT domain, count(*)::bigint AS n_docs,
                     sum(keep)::bigint AS n_keep,
                     count(DISTINCT hsh)::bigint AS n_distinct,
                     sum(score)::bigint AS score_sum_micro
              FROM k GROUP BY domain)
            SELECT domain, n_docs,
                   (n_keep * 10000 // n_docs)::bigint AS keep_bp,
                   ((n_docs - n_distinct) * 10000 // n_docs)::bigint
                     AS dup_bp,
                   score_sum_micro,
                   ((n_keep * 10000 // n_docs) < 3000
                    OR ((n_docs - n_distinct) * 10000 // n_docs)
                       > 5000) AS flagged
            FROM g""")
def q_host_reputation(spark, sf_dir):
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _SPLIT_TLDS]),
        (F.ascii(F.expr("right(source, 1)")) % 4 + 1).cast("int"))
    url = F.concat(
        F.lit("https://sub"), (F.col("doc_id") % 3).cast("string"),
        F.lit("."), F.col("source"), F.lit("."), tld,
        F.lit("/p"), F.col("doc_id").cast("string"))
    text = F.when(F.col("doc_id") % 4 == 0,
                  F.concat(F.lit("TEMPLATE PAGE "),
                           F.col("source"))).otherwise(F.col("text"))
    docs = _t(spark, sf_dir, "documents").select(
        url.alias("url"), text.alias("text"))
    return webtext.host_reputation(docs)


# --- benchmark decontamination (eval-set n-gram overlap) — SQL-
# checked; the "benchmark" derives deterministically from the
# corpus itself (first 12 tokens of every 37th doc) so both engines
# build the identical gram set and contamination is non-degenerate
# decontamination: benchmark grams (from every 37th doc's first
# 12 tokens) semi-joined against every document's 8-gram set
@query("decontaminate", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, {_TOK} AS tk FROM documents
            ), bench AS (
              SELECT array_to_string(list_slice(tk, 1, 12), ' ')
                       AS btext
              FROM toks WHERE doc_id % 37 = 0
            ), btoks AS (
              SELECT list_filter(regexp_split_to_array(trim(btext),
                       '\\s+'), t -> t != '') AS tk
              FROM bench
            ), bgrams AS (
              SELECT DISTINCT md5(array_to_string(
                       list_slice(tk, i, i + 7), ' ')) AS gh
              FROM btoks, unnest(generate_series(1, len(tk) - 7)) u(i)
              WHERE len(tk) >= 8
            ), dgrams AS (
              SELECT doc_id, md5(array_to_string(
                       list_slice(tk, i, i + 7), ' ')) AS gh
              FROM toks, unnest(generate_series(1, len(tk) - 7)) u(i)
              WHERE len(tk) >= 8
            ), hits AS (
              SELECT doc_id, count(*) AS n_hits
              FROM dgrams JOIN bgrams USING (gh) GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, greatest(len(tk) - 7, 0)::bigint AS n_grams
              FROM toks
            )
            SELECT tot.doc_id, n_grams,
                   coalesce(n_hits, 0)::bigint AS n_hits,
                   (CASE WHEN coalesce(n_hits, 0) > 0 THEN 1
                    ELSE 0 END)::bigint AS contaminated
            FROM tot LEFT JOIN hits USING (doc_id)""")
def q_decontam(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = (docs.where(F.col("doc_id") % 37 == 0)
             .select(F.concat_ws(" ", F.slice(
                 F.filter(F.split(F.trim("text"), _TOKSPLIT),
                          lambda t: t != ""), 1, 12)).alias("text")))
    return webtext.decontaminate(docs, bench, ngram=8)
