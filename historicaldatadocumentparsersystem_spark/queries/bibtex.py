"""BibTeX citation databases."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..operators import bibops
from . import _fixture, _payload_df, query


_GOLDEN_BIB = _fixture("golden_bibtex_seed42_n24.parquet")


# --- BibTeX source (citation-database member of the per-format
# loader family) — hash-checked against the committed golden
# fields parquet (pinned by tests/test_bibtex.py against the
# pure re-derivation; macros, concat, paren entries, cp1252)
# bibtex fields: committed golden parquet pinned by
# tests/test_bibtex.py against the pure re-derivation
@query("bibtex_fields", oracle=lambda: f"""
            SELECT url, pos, entry_type, key, field, value
            FROM read_parquet('{_GOLDEN_BIB}')""")
def q_bib(spark, sf_dir):
    df = _payload_df(spark, fixtures.bib_file_rows(24), 8)
    return sources.read_bib_fields(df)


@query("bib_entry_stats", oracle=lambda: f"""
            SELECT entry_type,
                   count(DISTINCT (url, pos))::bigint AS n_entries,
                   sum(CASE WHEN field IS NOT NULL THEN 1 ELSE 0
                       END)::bigint AS n_fields,
                   count(DISTINCT key)::bigint AS n_keys
            FROM read_parquet('{_GOLDEN_BIB}')
            GROUP BY entry_type ORDER BY entry_type""")
def q_bib_stats(spark, sf_dir):
    # composition over the GOLDEN on both sides (fields==golden
    # is proven by bibtex_fields; this isolates the rollup)
    g = spark.read.parquet(_GOLDEN_BIB)
    return (g.groupBy("entry_type")
            .agg(F.countDistinct("url", "pos").cast("long")
                 .alias("n_entries"),
                 F.sum(F.col("field").isNotNull().cast("long"))
                 .alias("n_fields"),
                 F.countDistinct("key").cast("long")
                 .alias("n_keys"))
            .orderBy("entry_type"))


# crossref inheritance: the same joins in SQL over the
# golden (first-in-file parent wins a duplicated key;
# chains not followed — bibtex's single pass)
@query("bib_crossref_resolve", oracle=lambda: f"""
            WITH g AS (SELECT * FROM
                       read_parquet('{_GOLDEN_BIB}')),
            own AS (
              SELECT url, pos, entry_type, key, field, value,
                     false AS inherited
              FROM g
            ),
            xref AS (
              SELECT url, pos, entry_type, key,
                     lower(value) AS target
              FROM g WHERE field = 'crossref'
            ),
            pf AS (
              SELECT url, lower(key) AS target, pos, field, value
              FROM g WHERE key IS NOT NULL AND field IS NOT NULL
                        AND field != 'crossref'
            ),
            parents AS (
              SELECT * FROM pf
              QUALIFY pos = min(pos)
                OVER (PARTITION BY url, target)
            ),
            cand AS (
              SELECT x.url, x.pos, x.entry_type, x.key,
                     p.field, p.value, true AS inherited
              FROM xref x JOIN parents p
                ON x.url = p.url AND x.target = p.target
            )
            SELECT * FROM own
            UNION ALL
            SELECT * FROM cand c
            WHERE NOT EXISTS (
              SELECT 1 FROM g
              WHERE g.url = c.url AND g.pos = c.pos
                AND g.field = c.field)
            ORDER BY url, pos, inherited, field""")
def q_bib_xref(spark, sf_dir):
    # golden on both sides: isolates the inheritance joins
    g = spark.read.parquet(_GOLDEN_BIB)
    return (bibops.bib_crossref_resolve(g)
            .orderBy("url", "pos", "inherited", "field"))
