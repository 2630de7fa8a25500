"""LaTeX sources and the tar archives that carry them."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..operators import chunking
from . import _fixture, _payload_df, _section_sql, query


_GOLDEN_LATEX = _fixture("golden_latex_elements_seed42_n32.parquet")
_GOLDEN_TARMEM = _fixture("golden_tar_members_seed42_n12.parquet")
_GOLDEN_TARLATEX = _fixture("golden_tar_latex_seed42_n12.parquet")


# --- LaTeX source (detex analog; arXiv corpora) — elements in the
# SHARED office/outline schema, hash-checked against the committed
# golden (pinned by tests/test_latex.py against the pure
# re-derivation)
# latex elements: committed golden parquet pinned by
# tests/test_latex.py against the pure re-derivation
@query("latex_elements", oracle=lambda: f"""
            SELECT url, para, kind, level, text
            FROM read_parquet('{_GOLDEN_LATEX}')
            ORDER BY url, para""")
def q_latex(spark, sf_dir):
    pages = fixtures.latex_rows(32)
    df = spark.createDataFrame(
        [(r["url"], r["tex"]) for r in pages],
        "url string, tex string").repartition(8)
    return sources.read_latex_elements(df).orderBy("url", "para")


# --- the SAME section operator over the LaTeX elements golden
# the shared section operator over the latex golden
@query("latex_sections", oracle=lambda: _section_sql(
    f"SELECT * FROM read_parquet('{_GOLDEN_LATEX}')"))
def q_latex_sections(spark, sf_dir):
    els = spark.read.parquet(_GOLDEN_LATEX)
    return chunking.section_chunks(els).orderBy("url", "section_idx")


# --- tar archive members (arXiv-bulk shape; payloads stay binary
# so per-format readers chain) — payload identity via md5
@query("tar_members", oracle=lambda: f"""
            SELECT url, member_idx, name, size, mtime, typeflag,
                   payload_md5
            FROM read_parquet('{_GOLDEN_TARMEM}')
            ORDER BY url, member_idx""")
def q_tar_members(spark, sf_dir):
    df = _payload_df(spark, fixtures.tar_file_rows(12), 4)
    return (sources.read_tar_members(df)
            .select("url", "member_idx", "name", "size", "mtime",
                    "typeflag",
                    F.md5(F.coalesce(F.col("payload"),
                                     F.lit(b"")))
                    .alias("payload_md5"))
            .orderBy("url", "member_idx"))


# --- container x content composition: .tex members of the tar
# fixture archives through the LaTeX element reader
@query("tar_latex_elements", oracle=lambda: f"""
            SELECT url, para, kind, level, text
            FROM read_parquet('{_GOLDEN_TARLATEX}')
            ORDER BY url, para""")
def q_tar_latex(spark, sf_dir):
    df = _payload_df(spark, fixtures.tar_file_rows(12), 4)
    members = sources.read_tar_members(df).where(
        (F.col("typeflag") == "0")
        & F.col("name").endswith(".tex"))
    texes = members.select(
        F.concat_ws("#", "url", "name").alias("url"),
        F.decode(F.col("payload"), "UTF-8").alias("tex"))
    return (sources.read_latex_elements(texes)
            .orderBy("url", "para"))
