"""Training-data sampling, splits, token budgets and packing."""

from pyspark.sql import functions as F

from .. import fixtures, functions as fn
from ..operators import packing, pagemeta, psl as _psl, skew, webtext
from . import _GOLDEN_DATES, _SPLIT_TLDS, _TOK, _flit, _t, query


def _hash_split_oracle() -> str:
    """DuckDB twin of functions.hash_split: same md5-derived unit
    hash, same cumulative thresholds (accumulated in the SAME Python
    floats — 0.8 + 0.1 is 0.9000000000000001, not 0.9)."""
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    u = ("(cast('0x' || substr(md5('42:' || doc_id), 1, 8) AS bigint)"
         " / 4294967296.0e0)")
    names, cum, whens = list(weights), 0.0, []
    for name in names[:-1]:
        cum += weights[name]
        whens.append(f"WHEN {u} < {_flit(cum)} THEN '{name}'")
    body = "\n              ".join(whens)
    return f"""
            SELECT doc_id, CASE
              {body}
              ELSE '{names[-1]}' END AS split
            FROM documents"""


def _hash_split_case(key: str = "doc_id") -> str:
    """The hash_split CASE expression alone (same Python-float
    cumulative thresholds), for embedding in larger oracles."""
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    u = (f"(cast('0x' || substr(md5('42:' || {key}), 1, 8) AS bigint)"
         " / 4294967296.0e0)")
    names, cum, whens = list(weights), 0.0, []
    for name in names[:-1]:
        cum += weights[name]
        whens.append(f"WHEN {u} < {_flit(cum)} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


def _domain_split_oracle() -> str:
    """DuckDB twin of webtext.domain_split over synthesized multi-host
    urls: the PSL CASE cascade on the host, then hash_split's md5-unit
    cascade keyed on the DOMAIN string (same Python-float cumulative
    thresholds as _hash_split_oracle)."""
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    u = ("(cast('0x' || substr(md5('42:' || domain), 1, 8) AS bigint)"
         " / 4294967296.0e0)")
    names, cum, whens = list(weights), 0.0, []
    for name in names[:-1]:
        cum += weights[name]
        whens.append(f"WHEN {u} < {_flit(cum)} THEN '{name}'")
    body = "\n              ".join(whens)
    suf2 = ", ".join(f"'{s}'" for s in sorted(_psl.SUFFIX_2))
    suf3 = ", ".join(f"'{s}'" for s in sorted(_psl.SUFFIX_3))
    tlds = ", ".join(f"'{t}'" for t in _SPLIT_TLDS)
    return f"""
            WITH h AS (
              SELECT doc_id,
                     'sub' || (doc_id % 3) || '.' || source || '.' ||
                     ([{tlds}])[ascii(right(source, 1)) % 4 + 1] AS host
              FROM documents
            ), d AS (
              SELECT doc_id,
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
            )
            SELECT doc_id, domain, CASE
              {body}
              ELSE '{names[-1]}' END AS split
            FROM d"""


# stratified-sample rates (shared Spark/oracle; absent stratum -> 0)
_SAMPLE_RATES = {"en": 0.5, "fr": 1.0, "de": 0.25}


# --- sampler mix report (one-pass rollup for the existing
# stratified_sample: realized per-10k rates in integer math)
# sampler mix report: the same md5-unit hash + rate CASE,
# grouped; per_10k by integer cross-multiply (// == div)
@query("sample_mix_report", oracle=lambda: f"""
            WITH sb AS (
              SELECT lang AS stratum,
                     (cast('0x' || substr(md5('42:' || doc_id), 1, 8)
                           AS bigint) / 4294967296.0e0)
                     < CASE lang
                         {" ".join(f"WHEN '{x}' THEN {_flit(r)}"
                                   for x, r in _SAMPLE_RATES.items())}
                         ELSE 0.0e0 END AS kept
              FROM documents
            )
            SELECT stratum, count(*)::bigint AS n_total,
                   sum(CASE WHEN kept THEN 1 ELSE 0 END)::bigint
                     AS n_kept,
                   (sum(CASE WHEN kept THEN 1 ELSE 0 END)::bigint
                    * 10000) // count(*)::bigint AS per_10k
            FROM sb GROUP BY stratum ORDER BY stratum""")
def q_sample_mix(spark, sf_dir):
    return webtext.sample_mix_report(
        _t(spark, sf_dir, "documents"), "lang",
        _SAMPLE_RATES).orderBy("stratum")


# --- deterministic hash split (leakage-safe train/val/test) —
# SQL-checked; thresholds shared with the oracle builder
@query("hash_split", oracle=_hash_split_oracle)
def q_hash_split(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    fn.hash_split("doc_id").alias("split")))


# --- domain cap (web-corpus sampling vs hot hosts) — SQL-checked
@query("cap_per_host", oracle=lambda: r"""
            SELECT doc_id, host, rk FROM (
              SELECT doc_id,
                     regexp_extract(url, 'https?://([^/]+)', 1) AS host,
                     row_number() OVER (
                       PARTITION BY regexp_extract(url,
                                    'https?://([^/]+)', 1)
                       ORDER BY md5(url)) AS rk
              FROM (SELECT doc_id,
                           'https://' || source || '/doc-' || doc_id
                             AS url
                    FROM documents))
            WHERE rk <= 3""")
def q_cap_host(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit("/doc-"), F.col("doc_id")))
    return skew.cap_per_host(docs, cap=3).select(
        "doc_id", "host", "rk")


# --- sqrt-temperature domain mixture sampling — SQL-checked
# (name-ordered Z fold, hash-unit membership)
# sqrt-temperature domain mixture: Z folds sqrt(n_d) in domain-
# name order (list_reduce seedless == 0.0-seeded F.aggregate:
# 0.0 + x is exact); membership = the portable md5 unit hash
@query("domain_mixture_sample", oracle=lambda: f"""
            WITH counts AS (
              SELECT source AS domain, count(*) AS n_d
              FROM documents GROUP BY 1
            ), ztab AS (
              SELECT list_reduce(list_transform(
                       list(n_d ORDER BY domain), x -> sqrt(x::double)),
                       (a, b) -> a + b) AS z,
                     sum(n_d)::bigint AS n_total
              FROM counts
            ), rates AS (
              SELECT domain,
                     least(1e0, {_flit(0.5)} * n_total
                           * (sqrt(n_d::double) / z) / n_d) AS rate
              FROM counts CROSS JOIN ztab
            )
            SELECT doc_id, domain
            FROM (SELECT doc_id, source AS domain FROM documents) d
            JOIN rates USING (domain)
            WHERE (cast('0x' || substr(md5('42:' || doc_id), 1, 8)
                        AS bigint) / 4294967296.0e0) < rate""")
def q_domain_mix(spark, sf_dir):
    return webtext.domain_mixture_sample(
        _t(spark, sf_dir, "documents"), target_frac=0.5)


# --- leakage-safe domain-disjoint split — SQL-checked (PSL
# cascade + md5-unit cascade keyed on the registrable domain)
@query("domain_split", oracle=_domain_split_oracle)
def q_domain_split(spark, sf_dir):
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _SPLIT_TLDS]),
        (F.ascii(F.expr("right(source, 1)")) % 4 + 1).cast("int"))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://sub"),
                 (F.col("doc_id") % 3).cast("string"), F.lit("."),
                 F.col("source"), F.lit("."), tld,
                 F.lit("/doc-"), F.col("doc_id")).alias("url"))
    return webtext.domain_split(docs).select(
        "doc_id", "domain", "split")


# --- corpus token accounting per (lang, split) — SQL-checked
# (integer basis points, lazy 1-row total)
@query("corpus_token_budget", oracle=lambda: f"""
            WITH per AS (
              SELECT lang, {_hash_split_case('doc_id')} AS split,
                     count(*) AS n_docs,
                     sum(len({_TOK}))::bigint AS n_tokens
              FROM documents GROUP BY lang, split
            ), tt AS (SELECT sum(n_tokens) AS _tt FROM per)
            SELECT lang, split, n_docs, n_tokens,
                   ((n_tokens * 10000) // _tt)::bigint AS share_bp
            FROM per CROSS JOIN tt""")
def q_token_budget(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "split", fn.hash_split("doc_id"))
    return webtext.corpus_token_budget(docs, ["lang", "split"])


# --- training-sequence packing — SQL-checked (concatenation
# manifest: pure window arithmetic; greedy: recursive-CTE fold)
# Concatenation-packing manifest: running-sum window + integer
# floor division (seq_len=64, n_shards=8; cost = tokens + EOS)
@query("pack_offsets", oracle=lambda: f"""
            WITH costs AS (
              SELECT (doc_id % 8)::int AS shard, doc_id,
                     (len({_TOK}) + 1)::bigint AS cost
              FROM documents
            ), offs AS (
              SELECT shard, doc_id, cost,
                     coalesce(sum(cost) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::bigint AS start_off
              FROM costs
            )
            SELECT shard, doc_id, cost, start_off,
                   (start_off // 64)::bigint AS first_seq,
                   ((start_off + cost - 1) // 64)::bigint AS last_seq,
                   ((start_off + cost - 1) // 64 - start_off // 64
                    + 1)::bigint AS n_seqs
            FROM offs""")
def q_pack_offsets(spark, sf_dir):
    return packing.sequence_pack_offsets(
        _t(spark, sf_dir, "documents"), seq_len=64, n_shards=8)


# Greedy boundary packing: linear recursive-CTE fold per shard
# carrying (open_seq, seq_used); oversize docs occupy
# ceil(cost/64) sequences alone and reset the fill
@query("pack_greedy", oracle=lambda: f"""
            WITH RECURSIVE costs AS (
              SELECT (doc_id % 8)::int AS shard, doc_id,
                     (len({_TOK}) + 1)::bigint AS cost,
                     row_number() OVER (PARTITION BY doc_id % 8
                                        ORDER BY doc_id) AS idx
              FROM documents
            ), rec AS (
              SELECT shard, idx, doc_id, cost,
                     0::bigint AS seq_id,
                     CASE WHEN cost > 64 THEN (cost + 63) // 64
                          ELSE 1 END::bigint AS n_pieces,
                     CASE WHEN cost > 64 THEN 0
                          ELSE cost END::bigint AS seq_used,
                     CASE WHEN cost > 64 THEN (cost + 63) // 64
                          ELSE 0 END::bigint AS open_seq
              FROM costs WHERE idx = 1
              UNION ALL
              SELECT c.shard, c.idx, c.doc_id, c.cost,
                     (CASE WHEN c.cost > 64 THEN r.open_seq
                             + (CASE WHEN r.seq_used > 0 THEN 1
                                ELSE 0 END)
                           WHEN r.seq_used + c.cost > 64
                             THEN r.open_seq + 1
                           ELSE r.open_seq END)::bigint,
                     (CASE WHEN c.cost > 64 THEN (c.cost + 63) // 64
                           ELSE 1 END)::bigint,
                     (CASE WHEN c.cost > 64 THEN 0
                           WHEN r.seq_used + c.cost > 64 THEN c.cost
                           ELSE r.seq_used + c.cost END)::bigint,
                     (CASE WHEN c.cost > 64 THEN r.open_seq
                             + (CASE WHEN r.seq_used > 0 THEN 1
                                ELSE 0 END) + (c.cost + 63) // 64
                           WHEN r.seq_used + c.cost > 64
                             THEN r.open_seq + 1
                           ELSE r.open_seq END)::bigint
              FROM rec r JOIN costs c
                ON c.shard = r.shard AND c.idx = r.idx + 1
            )
            SELECT shard, doc_id, cost, seq_id, n_pieces, seq_used
            FROM rec""")
def q_pack_greedy(spark, sf_dir):
    return packing.sequence_pack_greedy(
        _t(spark, sf_dir, "documents"), seq_len=64, n_shards=8)


# --- deterministic stratified sampling — SQL-checked
# deterministic stratified sample: same md5-unit hash as
# hash_split, rate per stratum (absent stratum -> 0)
@query("stratified_sample", oracle=lambda: f"""
            SELECT doc_id, lang FROM documents
            WHERE (cast('0x' || substr(md5('42:' || doc_id), 1, 8)
                        AS bigint) / 4294967296.0e0)
                  < CASE lang
                      {" ".join(f"WHEN '{s}' THEN {_flit(r)}"
                                for s, r in _SAMPLE_RATES.items())}
                      ELSE 0.0e0 END""")
def q_strat_sample(spark, sf_dir):
    return webtext.stratified_sample(
        _t(spark, sf_dir, "documents"), "lang", _SAMPLE_RATES) \
        .select("doc_id", "lang")


# --- temporal holdout split (time-based decontamination) — the
# composition the date family feeds: golden-derived per-page dates
# left-joined onto the page set, codegen CASE on the ISO string
# temporal split: url universe GENERATED from the fixture
# constant (the soft404/_W_SQL precedent — never hand-retyped);
# per-page dates re-derived from the golden by arg_min
@query("temporal_split", oracle=lambda: f"""
            WITH docs(url) AS (VALUES {", ".join(
                "('" + p["url"] + "')" for p in fixtures.date_pages(120))}),
            pd AS (
              SELECT url, arg_min(date_iso, pos) AS published
              FROM read_parquet('{_GOLDEN_DATES}')
              GROUP BY url
            )
            SELECT d.url, pd.published,
                   CASE WHEN pd.published IS NULL THEN 'train'
                        WHEN pd.published > '2019-12-31' THEN 'holdout'
                        ELSE 'train' END AS split
            FROM docs d LEFT JOIN pd ON pd.url = d.url
            ORDER BY d.url""")
def q_temporal_split(spark, sf_dir):
    docs = fixtures.date_pages_df(spark, 120)
    dates = pagemeta.publish_date(spark.read.parquet(_GOLDEN_DATES))
    return (webtext.temporal_split(docs, dates, "2019-12-31")
            .orderBy("url"))
