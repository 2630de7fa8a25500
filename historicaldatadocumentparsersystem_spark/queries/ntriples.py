"""N-Triples linked-data dumps."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_NTRIPLES = _fixture("golden_ntriples_seed42_n12.parquet")


# --- N-Triples dumps + HTTP access logs (linked-data dumps and
# the server side of the crawl) — rows golden-pinned; censuses
# read the goldens on BOTH sides
# N-Triples: committed golden pinned by tests/test_ntlog.py
# against the pure re-derivation
@query("nt_triples", oracle=lambda: f"""
            SELECT url, pos, subj, subj_kind, pred, obj, obj_kind,
                   obj_lang, obj_datatype
            FROM read_parquet('{_GOLDEN_NTRIPLES}')""")
def q_nt_triples(spark, sf_dir):
    df = _payload_df(spark, fixtures.ntriples_file_rows(12), 8)
    return sources.read_ntriples(df)


@query("nt_predicate_census", oracle=lambda: f"""
            SELECT pred, count(*)::bigint AS n_triples,
                   sum(CASE WHEN obj_kind = 'literal' THEN 1
                       ELSE 0 END)::bigint AS n_literals,
                   count(DISTINCT obj_lang)::bigint AS n_langs,
                   count(DISTINCT subj)::bigint AS n_subjects
            FROM read_parquet('{_GOLDEN_NTRIPLES}')
            GROUP BY pred ORDER BY pred""")
def q_nt_census(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_NTRIPLES)
    return (g.groupBy("pred")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_triples"),
                 F.sum(F.when(F.col("obj_kind") == "literal", 1)
                       .otherwise(0)).cast("long")
                 .alias("n_literals"),
                 F.countDistinct("obj_lang").cast("long")
                 .alias("n_langs"),
                 F.countDistinct("subj").cast("long")
                 .alias("n_subjects"))
            .orderBy("pred"))
