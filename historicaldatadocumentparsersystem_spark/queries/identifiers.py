"""Scholarly identifiers and ID-embedded timestamps."""

from pyspark.sql import functions as F

from .. import fixtures
from ..extractor import idsx as _idsx
from ..operators import idents, idtime
from ..operators.idtime import id_time_exprs
from . import _fixture, query


def _ids_fix_sql() -> str:
    return f"SELECT url, text FROM read_parquet('{_IDS_FIX}')"


def _isbn10_sql(ds: str) -> str:
    """ISBN-10 mod-11 as a DuckDB integer fold over a normalized-id
    column NAME — the RE2-side twin of operators/idents._isbn10_ok
    (Spark ``aggregate`` fold) and extractor/idsx.isbn10_ok. X (=10)
    is only legal in the last position."""
    d = (f"(CASE WHEN {ds}[i] = 'X' THEN 10 "
         f"ELSE TRY_CAST({ds}[i] AS int) END)")
    return (f"(NOT contains(substr({ds}, 1, 9), 'X') AND "
            f"list_sum(list_transform(generate_series(1, 10), "
            f"i -> (11 - i) * {d})) % 11 = 0)")


def _isbn13_sql(ds: str) -> str:
    """EAN-13 mod-10 fold; bookland 978/979 prefix required."""
    d = f"TRY_CAST({ds}[i] AS int)"
    return (f"(NOT contains({ds}, 'X') AND "
            f"substr({ds}, 1, 3) IN ('978', '979') AND "
            f"list_sum(list_transform(generate_series(1, 13), "
            f"i -> (CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END) * {d})) "
            f"% 10 = 0)")


def _ident_norm_sql(kind: str, v: str) -> str:
    """Per-kind normalization over an expression — generated from the
    idsx constants (the _W_SQL precedent). DuckDB regexp_replace is
    first-match-only, so the hyphen strip needs 'g' (Spark's is
    global by default)."""
    if kind == "doi":
        return f"lower(regexp_replace({v}, '{_idsx.DOI_TRAIL_RE}', ''))"
    if kind == "arxiv_new":
        return (f"lower(regexp_replace({v}, "
                f"'{_idsx.ARXIV_PREFIX_RE}', ''))")
    if kind == "isbn":
        return (f"upper(regexp_replace(regexp_replace({v}, "
                f"'{_idsx.ISBN_PREFIX_RE}', ''), '-', '', 'g'))")
    return v


def _ident_valid_sql(kind: str, d: str) -> str:
    """Per-kind validity over the NORMALIZED id expression — the
    RE2-side twin of idsx.is_valid."""
    if kind == "doi":
        return "true"
    if kind == "arxiv_new":
        return f"substr({d}, 3, 2) BETWEEN '01' AND '12'"
    if kind == "arxiv_old":
        return (f"substr(split_part({d}, '/', 2), 3, 2) "
                f"BETWEEN '01' AND '12'")
    return (f"((length({d}) = 10 AND {_isbn10_sql(d)}) OR "
            f"(length({d}) = 13 AND {_isbn13_sql(d)}))")


def _id_values() -> str:
    rows = ",\n            ".join(
        f"({i}, " + ("CAST(NULL AS VARCHAR))" if s is None
                     else f"'{s}')")
        for i, s in enumerate(fixtures.id_sample_rows()))
    return f"ids(pos, id) AS (VALUES\n            {rows})"


def _id_time_cols(e: str) -> str:
    """kind/ts_ms twin expressions rendered by the SAME generator
    the Spark side compiles (operators/idtime.id_time_exprs)."""
    ex = id_time_exprs(e, "duckdb")
    return (f"{ex['kind']} AS kind,\n"
            f"            {ex['ts_ms']} AS ts_ms")


def _ident_spans_sql() -> str:
    """Candidates by kind (UNION ALL of regexp_extract_all unnests),
    normalization, then the per-kind validity post-filter —
    structurally the same explode-then-filter plan the Spark side
    builds."""
    p = _idsx.PATTERNS
    unions = "\n              UNION ALL ".join(
        f"SELECT url, '{kind}' AS kind, unnest(regexp_extract_all("
        f"text, '{p[kind]}')) AS value FROM t"
        for kind in sorted(p))
    norm = " ".join(
        f"WHEN '{kind}' THEN {_ident_norm_sql(kind, 'value')}"
        for kind in sorted(p))
    valid = " ".join(
        f"WHEN '{kind}' THEN {_ident_valid_sql(kind, 'ident')}"
        for kind in sorted(p))
    return f"""
            WITH t AS ({_ids_fix_sql()}),
            cand AS (
              {unions}
            ), n AS (
              SELECT url, kind, value,
                     CASE kind {norm} ELSE value END AS ident
              FROM cand
            )
            SELECT url, kind, value, ident FROM n
            WHERE length(ident) > 0
              AND CASE kind {valid} ELSE false END
            ORDER BY url, kind, value, ident"""


def _ident_profile_sql() -> str:
    """Per-document valid-instance counts by kind — zero-id documents
    keep their row with zero counts, like the Spark projection."""
    p = _idsx.PATTERNS

    def n(kind: str) -> str:
        return (f"len(list_filter(list_transform(regexp_extract_all("
                f"text, '{p[kind]}'), v -> "
                f"{_ident_norm_sql(kind, 'v')}), d -> length(d) > 0 "
                f"AND {_ident_valid_sql(kind, 'd')}))")

    return f"""
            SELECT url,
                   {n('doi')}::bigint AS n_doi,
                   {n('arxiv_new')}::bigint AS n_arxiv_new,
                   {n('arxiv_old')}::bigint AS n_arxiv_old,
                   {n('isbn')}::bigint AS n_isbn,
                   ({n('doi')} + {n('arxiv_new')} + {n('arxiv_old')}
                    + {n('isbn')})::bigint AS n_ids
            FROM ({_ids_fix_sql()})
            ORDER BY url"""


_IDS_FIX = _fixture("ids_texts_seed42_n120.parquet")


# --- scholarly identifiers (DOI / arXiv old+new / ISBN with real
# mod-11 and EAN mod-10 checksums) — the citation-mining sibling
# of the PII family: same map-only explode-then-filter plan,
# same triple cross-engine check (Python re / Java regex / RE2)
@query("extract_identifiers", oracle=_ident_spans_sql)
def q_ident_spans(spark, sf_dir):
    docs = spark.read.parquet(_IDS_FIX)
    return (idents.ident_spans(docs)
            .orderBy("url", "kind", "value", "ident"))


@query("identifier_profile", oracle=_ident_profile_sql)
def q_ident_profile(spark, sf_dir):
    docs = spark.read.parquet(_IDS_FIX)
    return idents.ident_profile(docs).orderBy("url")


# --- ID-embedded timestamp mining (UUIDv1/v7, ULID, snowflake
# clocks recovered by integer arithmetic; one expression
# generator renders both engines — map-only codegen)
# id-time: both engines re-derive clocks from raw strings
@query("id_time_classify", oracle=lambda: f"""
            WITH {_id_values()}
            SELECT pos, id, {_id_time_cols('id')}
            FROM ids ORDER BY pos""")
def q_id_time_classify(spark, sf_dir):
    ids = fixtures.id_sample_rows()
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ids)],
        "pos int, id string").repartition(4)
    return (idtime.classify_ids(df)
            .select("pos", "id", "kind", "ts_ms")
            .orderBy("pos"))


@query("id_minting_days", oracle=lambda: f"""
            WITH {_id_values()},
            c AS (
              SELECT pos, id, {_id_time_cols('id')} FROM ids
            )
            SELECT kind, ts_ms // 86400000 AS day,
                   count(*)::bigint AS n,
                   min(ts_ms) AS first_ms, max(ts_ms) AS last_ms
            FROM c WHERE ts_ms IS NOT NULL
            GROUP BY kind, day ORDER BY kind, day""")
def q_id_minting_days(spark, sf_dir):
    ids = fixtures.id_sample_rows()
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ids)],
        "pos int, id string").repartition(4)
    c = idtime.classify_ids(df).where(F.col("ts_ms").isNotNull())
    return (c.withColumn("day", F.expr("ts_ms div 86400000"))
            .groupBy("kind", "day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min("ts_ms").alias("first_ms"),
                 F.max("ts_ms").alias("last_ms"))
            .orderBy("kind", "day"))
