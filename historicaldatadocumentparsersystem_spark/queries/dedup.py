"""Exact and near-duplicate detection, clustering and keep policies."""

from pyspark.sql import functions as F

from ..operators import (
    dedup, incremental, pagemeta, qmodel as _qmodel, quality, webtext)
from . import _GOLDEN_META, _TOK, _W_SQL, _t, query


def _simhash_cc_sql(tok: str) -> str:
    """Recursive-CTE chain (tokens -> ... -> comp): 32-bit simhash over
    documents WHERE doc_id < 500, near-dup pairs at hamming <= 7, then
    the transitive-closure min-label components — the declarative twin
    of ``dedup.simhash_near_pairs`` + ``connected_components``, shared
    by the dedup_clusters and fuzzy_keep_best oracles."""
    return f"""tokens AS (
              SELECT doc_id, unnest({tok}) AS t FROM documents
              WHERE doc_id < 500
            ), hashes AS (
              SELECT doc_id,
                     cast(concat('0x', substr(md5(t), 1, 8)) AS bigint) AS h
              FROM tokens
            ), votes AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hashes, unnest(generate_series(0, 31)) AS bb(b)
              GROUP BY doc_id, b
            ), sim AS (
              SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN (1::bigint << b)
                              ELSE 0 END)::bigint AS s
              FROM votes GROUP BY doc_id
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.s, b.s)) <= 7
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM pairs
            ), reach AS (
              SELECT src AS node, src AS lab FROM edges
              UNION
              SELECT e.dst AS node, r.lab
              FROM reach r JOIN edges e ON e.src = r.node
            ), comp AS (
              SELECT node, min(lab) AS component FROM reach GROUP BY node
            )"""


# word 2-gram shingles, distinct (mirrors dedup.shingles(n=2))
_SH2 = (f"list_distinct(list_transform(generate_series(1, "
        f"greatest(len({_TOK}) - 1, 0)), "
        f"i -> concat_ws(' ', {_TOK}[i], {_TOK}[i+1])))")


# --- dedup family — SQL-checked where the hash family is portable
@query("exact_dedup", oracle=lambda: """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)""")
def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


# pair queries run on a deterministic id-bounded subset: the synthetic
# corpus has a ~30-word vocabulary, so all-pairs candidate sets grow
# quadratically with sf — the bound keeps bench wall-time flat while
# the correctness check stays exact (oracle SQL applies it too)
@query("ngram_jaccard_pairs", oracle=lambda: f"""
            WITH sh AS (
              SELECT doc_id AS id, unnest({_SH2}) AS s FROM documents
              WHERE doc_id < 500
            ), sizes AS (
              SELECT id, count(*) AS n FROM sh GROUP BY id
            ), inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= 0.05""")
def q_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.05)


@query("minhash_lsh_pairs", oracle=lambda: f"""
            WITH sig AS (
              SELECT doc_id AS id,
                     list_transform(generate_series(0, 15),
                       i -> list_min(list_transform({_SH2},
                            s -> md5(i::varchar || ':' || s)))) AS sig
              FROM documents
              WHERE doc_id < 500 AND len({_SH2}) > 0
            ), banded AS (
              SELECT id, sig, b,
                     md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
              FROM sig, unnest(generate_series(0, 7)) AS t(b)
            ), cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id
            )
            SELECT id_a, id_b,
                   round(len(list_filter(generate_series(1, 16),
                         i -> sig_a[i] = sig_b[i])) / 16.0, 6)
                   AS est_jaccard
            FROM cand""")
def q_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                                   n=2, threshold=0.0)


@query("simhash", oracle=lambda: f"""
            WITH tokens AS (
              SELECT doc_id, unnest({_TOK}) AS t FROM documents
            ), hashes AS (
              SELECT doc_id,
                     cast(concat('0x', substr(md5(t), 1, 8)) AS bigint) AS h
              FROM tokens
            ), votes AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hashes, unnest(generate_series(0, 31)) AS bb(b)
              GROUP BY doc_id, b
            )
            SELECT doc_id,
                   sum(CASE WHEN v > 0 THEN (1::bigint << b)
                            ELSE 0 END)::bigint AS simhash
            FROM votes GROUP BY doc_id""")
def q_simhash(spark, sf_dir):
    return (dedup.simhash(_t(spark, sf_dir, "documents"), bits=32)
            .withColumnRenamed("id", "doc_id"))


@query("simhash_near_pairs", oracle=lambda: f"""
            WITH tokens AS (
              SELECT doc_id, unnest({_TOK}) AS t FROM documents WHERE doc_id < 500
            ), hashes AS (
              SELECT doc_id,
                     cast(concat('0x', substr(md5(t), 1, 8)) AS bigint) AS h
              FROM tokens
            ), votes AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hashes, unnest(generate_series(0, 31)) AS bb(b)
              GROUP BY doc_id, b
            ), sim AS (
              SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN (1::bigint << b)
                              ELSE 0 END)::bigint AS s
              FROM votes GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.s, b.s)) AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.s, b.s)) <= 7""")
def q_simhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return dedup.simhash_near_pairs(docs, bits=32, max_hamming=7)


# --- winnowing fingerprints (Schleimer/MOSS local fingerprints:
# min k-gram hash per window — positional coverage guarantee the
# MinHash family lacks) — SQL-checked
# winnowing: min of each window of 4 consecutive 8-gram hashes,
# distinct per doc; 48-bit md5-prefix hashes keep the bigint
# positive in both engines (DuckDB slice l[i:j] is 1-based
# inclusive == Spark slice(l, i, 4))
@query("winnow_fingerprints", oracle=lambda: """
            WITH grams AS (
              SELECT doc_id,
                     list_transform(generate_series(1, length(text) - 7),
                       p -> cast('0x' || substr(md5(substr(text, p, 8)),
                                 1, 12) AS bigint)) AS hs
              FROM documents WHERE length(text) >= 8
            ), fps AS (
              SELECT doc_id,
                     CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                          ELSE list_transform(generate_series(1,
                                 len(hs) - 3),
                               i -> list_min(hs[i : i + 3])) END AS fp
              FROM grams
            )
            SELECT doc_id, unnest(list_distinct(fp)) AS fingerprint
            FROM fps""")
def q_winnow(spark, sf_dir):
    return (dedup.winnow_fingerprints(
                _t(spark, sf_dir, "documents"), k=8, window=4)
            .withColumnRenamed("id", "doc_id"))


# --- winnowing near-dup candidate pairs (shared-passage detector:
# positional fingerprints catch containment that global-Jaccard
# MinHash dilutes) — SQL-checked; doc_id < 800 scope + the
# stop-fingerprint cap keep the oracle join bounded
# winnowing candidate pairs: same CTE chain scoped to
# doc_id < 800, stop-fingerprint doc-freq cap 16, >= 3 shared
@query("winnow_near_pairs", oracle=lambda: """
            WITH grams AS (
              SELECT doc_id,
                     list_transform(generate_series(1, length(text) - 7),
                       p -> cast('0x' || substr(md5(substr(text, p, 8)),
                                 1, 12) AS bigint)) AS hs
              FROM documents WHERE length(text) >= 8 AND doc_id < 800
            ), fps AS (
              SELECT doc_id,
                     CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                          ELSE list_transform(generate_series(1,
                                 len(hs) - 3),
                               i -> list_min(hs[i : i + 3])) END AS fp
              FROM grams
            ), flat AS (
              SELECT doc_id, unnest(list_distinct(fp)) AS f FROM fps
            ), kept AS (
              SELECT doc_id, f FROM flat
              QUALIFY count(*) OVER (PARTITION BY f) <= 16
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::bigint AS n_shared
            FROM kept a JOIN kept b
              ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 3""")
def q_winnow_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    return dedup.winnow_near_pairs(docs, k=8, window=4,
                                   min_shared=3,
                                   max_fingerprint_doc_freq=16)


# --- dedup clustering: connected components over near-dup pairs —
# SQL-checked (oracle: recursive-CTE transitive closure + min)
# connected components == transitive closure min-label (the
# iterative Spark loop's fixpoint, computed declaratively)
@query("dedup_clusters", oracle=lambda: f"""
            WITH RECURSIVE {_simhash_cc_sql(_TOK)}
            SELECT component, count(*) AS n_members,
                   min(node) AS keep_id
            FROM comp GROUP BY component""")
def q_dedup_clusters(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    pairs = dedup.simhash_near_pairs(docs, bits=32, max_hamming=7)
    return dedup.dedup_clusters(pairs)


# --- fuzzy-dedup keep-policy: best-quality member per near-dup
# cluster — SQL-checked (closure CTE + window twin)
# fuzzy-dedup keep-policy: same closure chain, then the
# quality-classifier score ranks members within each component
# (singletons = own component, always kept)
@query("fuzzy_keep_best", oracle=lambda: f"""
            WITH RECURSIVE {_simhash_cc_sql(_TOK)}, scored AS (
              SELECT doc_id,
                     coalesce(list_sum(list_transform({_TOK},
                       x -> ({_W_SQL})[((cast('0x' ||
                         substr(md5(lower(x)), 1, 8) AS bigint))
                         % {_qmodel.N_BUCKETS}) + 1])), 0)::bigint
                       AS score_micro
              FROM documents WHERE doc_id < 500
            ), lab AS (
              SELECT s.doc_id,
                     coalesce(c.component, s.doc_id) AS component,
                     s.score_micro
              FROM scored s LEFT JOIN comp c ON c.node = s.doc_id
            )
            SELECT doc_id, component, score_micro,
                   (row_number() OVER (PARTITION BY component
                      ORDER BY score_micro DESC, doc_id ASC) = 1)
                     AS keep
            FROM lab""")
def q_fuzzy_keep(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    pairs = dedup.simhash_near_pairs(docs, bits=32, max_hamming=7)
    return dedup.keep_best_per_cluster(
        docs, pairs, quality.quality_score_micro("text"))


# --- J4 id-preserving first-seen dedup — SQL-checked
@query("first_seen_dedup", oracle=lambda: """
            SELECT user_id, event_id, event_type
            FROM (SELECT user_id, event_id, event_type,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY event_id) AS rn
                  FROM events)
            WHERE rn = 1""")
def q_first_seen(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return dedup.first_seen_dedup(ev, key="user_id", order="event_id") \
        .select("user_id", "event_id", "event_type")


# --- CCNet-style line-level dedup (cross-document boilerplate
# removal) — SQL-checked; lines are deterministic 8-word segments
# CCNet-style line dedup: same 8-word line derivation as the
# chunk oracle; lines in > 2 distinct docs are boilerplate.
# (Spark groups on md5(line) — same partition, 16-byte keys.)
@query("line_dedup", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, {_TOK} AS tk FROM documents
            ), rawlines AS (
              SELECT doc_id, (i - 1)::int AS pos,
                     array_to_string(
                       list_slice(tk, (i - 1) * 8 + 1, i * 8), ' ') AS line
              FROM toks, unnest(generate_series(1,
                     greatest((len(tk) + 7) // 8, 1))) AS u(i)
            ), lines AS (
              SELECT * FROM rawlines WHERE line != ''
            ), freq AS (
              SELECT line, count(DISTINCT doc_id) AS doc_freq
              FROM lines GROUP BY line
            ), kept AS (
              SELECT lines.* FROM lines JOIN freq USING (line)
              WHERE doc_freq <= 2
            ), ka AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(line, ' ' ORDER BY pos) AS text_kept
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
            )
            SELECT tot.doc_id, n_lines,
                   coalesce(n_kept, 0)::bigint AS n_kept,
                   coalesce(text_kept, '') AS text_kept
            FROM tot LEFT JOIN ka USING (doc_id)""")
def q_line_dedup(spark, sf_dir):
    return webtext.line_dedup(_t(spark, sf_dir, "documents"),
                              line_words=8, max_doc_freq=2)


# --- per-HOST template stripping (site boilerplate) — SQL-checked;
# integer cross-multiply threshold keeps floats out of the hash.
# line_words=2: the synthetic corpus's 8-word segments are unique,
# so the template rule only fires at bigram-line granularity
# per-HOST template stripping: integer cross-multiply threshold
# (100*line_docs > pct*host_docs), string_agg ORDER BY pos ==
# Spark's array_sort struct fold
@query("host_boilerplate", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, source AS host, {_TOK} AS tk FROM documents
            ), rawlines AS (
              SELECT doc_id, host, (i - 1)::int AS pos,
                     array_to_string(
                       list_slice(tk, (i - 1) * 2 + 1, i * 2), ' ') AS line
              FROM toks, unnest(generate_series(1,
                     greatest((len(tk) + 1) // 2, 1))) AS u(i)
            ), lines AS (
              SELECT * FROM rawlines WHERE line != ''
            ), hd AS (
              SELECT source AS host, count(DISTINCT doc_id) AS host_docs
              FROM documents GROUP BY 1
            ), lf AS (
              SELECT host, line, count(DISTINCT doc_id) AS line_docs
              FROM lines GROUP BY 1, 2
            ), tmpl AS (
              SELECT host, line FROM lf JOIN hd USING (host)
              WHERE 100 * line_docs > 10 * host_docs AND host_docs >= 2
            ), kept AS (
              SELECT l.* FROM lines l
              WHERE NOT EXISTS (SELECT 1 FROM tmpl t
                                WHERE t.host = l.host AND t.line = l.line)
            ), ka AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(line, ' ' ORDER BY pos) AS text_kept
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, host, count(*) AS n_lines
              FROM lines GROUP BY 1, 2
            )
            SELECT tot.doc_id, host, n_lines,
                   coalesce(n_kept, 0)::bigint AS n_kept,
                   coalesce(text_kept, '') AS text_kept
            FROM tot LEFT JOIN ka USING (doc_id)""")
def q_host_boiler(spark, sf_dir):
    return webtext.host_boilerplate_strip(
        _t(spark, sf_dir, "documents"), host_col="source",
        line_words=2, pct=10, min_host_docs=2)


# --- content-defined (FastCDC) block dedup over binary payloads —
# rows-only here (a sequential gear-hash fold over bytes is not
# SQL-expressible); the REAL oracle is structural: pytest pins
# Spark blocks == pure-Python extractor.cdc.cdc_chunks per row
# (test_cdc_blocks_spark_matches_oracle_and_stats)
@query("cdc_block_dedup", oracle=None)
def q_cdc(spark, sf_dir):
    did = F.col("doc_id")
    shared = F.repeat(
        F.concat(F.lit("SHARED-"), (did % 20).cast("string"),
                 F.lit("-")), 600)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.concat(F.substring("text", 1, 1500), shared),
                 "utf-8").alias("payload"))
    blocks = dedup.cdc_blocks(docs, min_size=256, avg_size=1024,
                              max_size=4096)
    return dedup.block_dedup_stats(blocks)


# --- MinHash estimator calibration: signature-agreement estimate
# vs EXACT shingle Jaccard on strided sample pairs, integer basis
# points — SQL-checked (list_intersect + per-index agreement twin)
@query("minhash_calibration", oracle=lambda: f"""
            WITH t AS (
              SELECT doc_id AS id, {_SH2} AS sh FROM documents
              WHERE doc_id < 500
            ), s AS (
              SELECT id, sh,
                     list_transform(generate_series(0, 15),
                       i -> list_min(list_transform(sh,
                            g -> md5(i::varchar || ':' || g)))) AS sig
              FROM t WHERE len(sh) > 0
            ), p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     len(list_filter(generate_series(1, 16),
                         i -> a.sig[i] = b.sig[i])) AS n_match,
                     len(list_intersect(a.sh, b.sh)) AS n_inter,
                     len(a.sh) AS sz_a, len(b.sh) AS sz_b
              FROM s a JOIN s b ON b.id = a.id + 1 AND a.id % 2 = 0
            )
            SELECT id_a, id_b, n_match::bigint AS n_match,
                   (n_match * 10000 // 16)::bigint AS est_bp,
                   (n_inter * 10000 // (sz_a + sz_b - n_inter))::bigint
                     AS exact_bp,
                   abs(n_match * 10000 // 16
                       - n_inter * 10000 // (sz_a + sz_b - n_inter))
                     ::bigint AS err_bp
            FROM p""")
def q_minhash_cal(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    pairs = (docs.select(F.col("doc_id").alias("id_a"),
                         (F.col("doc_id") + 1).alias("id_b"))
             .where(F.col("id_a") % 2 == 0))
    return dedup.minhash_calibration(docs, pairs, num_hashes=16, n=2)


# --- incremental dedup vs a persisted signature store — the
# batch (doc_id in [250, 500)) probes the store (doc_id < 250):
# store-vs-new + new-vs-new pairs only, store never re-hashed
@query("incremental_dedup_pairs", oracle=lambda: f"""
            WITH sig AS (
              SELECT doc_id AS id,
                     list_transform(generate_series(0, 15),
                       i -> list_min(list_transform({_SH2},
                            s -> md5(i::varchar || ':' || s)))) AS sig
              FROM documents
              WHERE doc_id < 500 AND len({_SH2}) > 0
            ), banded AS (
              SELECT id, sig, b,
                     md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
              FROM sig, unnest(generate_series(0, 7)) AS t(b)
            ), cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id
            )
            SELECT id_a, id_b,
                   round(len(list_filter(generate_series(1, 16),
                         i -> sig_a[i] = sig_b[i])) / 16.0, 6)
                   AS est_jaccard
            FROM cand WHERE id_b >= 250""")
def q_incremental(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    store = incremental.minhash_band_table(
        docs.where(F.col("doc_id") < 250), n=2)
    pairs, _ = incremental.incremental_minhash_pairs(
        docs.where((F.col("doc_id") >= 250)
                   & (F.col("doc_id") < 500)),
        store, n=2, threshold=0.0)
    return pairs


# --- duplicated-substring removal (Lee et al. 2022 adapted to
# hashed token-n-gram spans) — SQL-checked end-to-end including the
# per-document text rebuild (byte-exact string_agg twin)
# duplicated-substring removal: hashed 8-token windows with
# corpus doc_freq > 1 mark their positions; kept tokens rebuild
# the text byte-exactly (string_agg ORDER BY pos == Spark's
# array_sort struct fold)
@query("dup_span_removal", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, {_TOK} AS tk FROM documents
            ), grams AS (
              SELECT doc_id, i AS p,
                     md5(array_to_string(list_slice(tk, i, i + 7), ' '))
                       AS gh
              FROM toks, unnest(generate_series(1, len(tk) - 7)) AS u(i)
              WHERE len(tk) >= 8
            ), dup AS (
              SELECT gh FROM grams GROUP BY gh
              HAVING count(DISTINCT doc_id) > 1
            ), cov AS (
              SELECT DISTINCT doc_id, p + j AS pos
              FROM grams JOIN dup USING (gh),
                   unnest(generate_series(0, 7)) AS v(j)
            ), tokpos AS (
              SELECT doc_id, i AS pos, tk[i] AS tok
              FROM toks, unnest(generate_series(1, len(tk))) AS w(i)
            ), kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM tokpos t
              WHERE NOT EXISTS (SELECT 1 FROM cov c
                                WHERE c.doc_id = t.doc_id
                                  AND c.pos = t.pos)
            ), ka AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(tok, ' ' ORDER BY pos) AS text_kept
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, len(tk)::bigint AS n_tokens FROM toks
            )
            SELECT tot.doc_id, n_tokens,
                   (n_tokens - coalesce(n_kept, 0))::bigint AS n_removed,
                   coalesce(text_kept, '') AS text_kept
            FROM tot LEFT JOIN ka USING (doc_id)""")
def q_dup_span(spark, sf_dir):
    return webtext.duplicate_span_removal(
        _t(spark, sf_dir, "documents"), ngram=8, max_doc_freq=1)


# --- canonical-URL pre-dedup + noindex gate — SQL-checked; reads
# the GOLDEN meta parquet on BOTH sides (extraction==golden is
# proven by extract_meta, so this isolates the composition logic,
# the quality-gate pattern)
# canonical pre-dedup: noindex gate + group on declared
# canonical (fallback: own url), first member kept
@query("canonical_dedup", oracle=lambda: f"""
            SELECT coalesce(canonical, url) AS canonical_key,
                   min(url) AS kept_url,
                   count(*)::bigint AS n_copies
            FROM read_parquet('{_GOLDEN_META}')
            WHERE robots IS NULL
               OR NOT contains(lower(robots), 'noindex')
            GROUP BY 1""")
def q_canon(spark, sf_dir):
    return pagemeta.canonical_dedup(spark.read.parquet(_GOLDEN_META))
