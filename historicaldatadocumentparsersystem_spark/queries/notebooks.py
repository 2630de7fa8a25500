"""Jupyter notebooks."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_IPYNB = _fixture("golden_ipynb_cells_seed42_n30.parquet")


# --- Jupyter notebook source (the JSON member of the per-format
# loader family) — hash-checked against the committed golden cells
# parquet (pinned by tests/test_ipynb.py against the pure
# re-derivation; v4 list/string sources, v3 worksheets, outputs,
# non-notebook JSON + garbage rows)
# notebook cells: committed golden parquet pinned by
# tests/test_ipynb.py against the pure re-derivation
@query("ipynb_cells", oracle=lambda: f"""
            SELECT url, cell_idx, cell_type, lang, source,
                   exec_count, n_outputs, output_text
            FROM read_parquet('{_GOLDEN_IPYNB}')
            ORDER BY url, cell_idx""")
def q_ipynb(spark, sf_dir):
    df = _payload_df(spark, fixtures.ipynb_file_rows(30), 8)
    return sources.read_ipynb_cells(df).orderBy("url", "cell_idx")


# --- notebook corpus profile — golden both sides (cells==golden
# is proven by ipynb_cells; this isolates the aggregation)
# notebook profile: golden both sides
@query("notebook_lang_stats", oracle=lambda: f"""
            SELECT lang, cell_type, count(*)::bigint AS n_cells,
                   sum(length(source))::bigint AS src_chars,
                   sum(n_outputs)::bigint AS total_outputs,
                   count(exec_count)::bigint AS n_executed
            FROM read_parquet('{_GOLDEN_IPYNB}')
            GROUP BY lang, cell_type
            ORDER BY lang, cell_type""")
def q_ipynb_stats(spark, sf_dir):
    cells = spark.read.parquet(_GOLDEN_IPYNB)
    return (cells.groupBy("lang", "cell_type")
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum(F.length("source")).cast("long")
                 .alias("src_chars"),
                 F.sum("n_outputs").cast("long")
                 .alias("total_outputs"),
                 F.count("exec_count").cast("long")
                 .alias("n_executed"))
            .orderBy("lang", "cell_type"))
