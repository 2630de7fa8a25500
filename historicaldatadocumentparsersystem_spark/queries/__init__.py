"""The query registry: one record per query, declared in its family's
module next to its DuckDB twin.

Each module in this package is one family, a unit that is kept or
retired as a whole; retiring a family means deleting its module. A
family declares each query with ``@query(name, oracle=...)`` on its
Spark builder. ``oracle`` is a zero-argument callable returning the
DuckDB SQL twin, so oracle text is only built when asked for; it is
``None`` only for rows-only queries. This module also holds the
helpers that two or more families share.
"""

import importlib
import os
import pkgutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..extractor import cachex
from ..operators import qmodel as _qmodel


class Query(NamedTuple):
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str] | None


_DECLARED: list[Query] = []


def query(name: str, *, oracle: Callable[[], str] | None):
    """Declare the decorated builder as query ``name``."""
    def declare(build):
        _DECLARED.append(Query(name, build, oracle))
        return build
    return declare


def records() -> dict[str, Query]:
    """Every family's records by name, in family-module order; a name
    declared twice raises instead of shadowing the first."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    out: dict[str, Query] = {}
    for rec in _DECLARED:
        if rec.name in out:
            raise ValueError(
                f"query {rec.name!r} declared in both "
                f"{out[rec.name].build.__module__} and "
                f"{rec.build.__module__}")
        out[rec.name] = rec
    return out


# the repository root; goldens and fixtures live under it
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _fixture(name: str) -> str:
    """Path of a committed file under ``fixtures/``."""
    return os.path.join(_REPO, "fixtures", name)


def _payload_df(spark: SparkSession, rows, partitions: int) -> DataFrame:
    """A fixture encoder's ``{url, payload}`` rows as a DataFrame."""
    return spark.createDataFrame(
        [(r["url"], r["payload"]) for r in rows],
        "url string, payload binary").repartition(partitions)


_KEYWORDS = ["merge", "window", "stream"]  # F4 keyword sets analog
_TOKSPLIT = r"\s+"


def _flit(p: float) -> str:
    """DuckDB DOUBLE literal: an exponent forces DOUBLE parsing (plain
    decimals parse as DECIMAL, whose re-conversion need not be
    IEEE-exact); repr round-trips the exact double."""
    s = repr(float(p))
    return s if ("e" in s or "E" in s) else s + "e0"


_SPLIT_TLDS = ("com", "co.uk", "com.au", "org")


def _httpdate_stages(ps=(("dt", "hdr_date"), ("ex", "hdr_expires"),
                         ("lm", "hdr_last_modified"))) -> str:
    """Strict IMF-fixdate -> epoch seconds for the given
    (prefix, column) pairs, as a chained-CTE integer pipeline: the
    days-from-civil formula from cachex.httpdate_to_epoch with
    DuckDB ``//`` == Python ``//`` (all intermediates non-negative
    for 4-digit years). Unparseable headers become NULL via
    try_cast('') and the month CASE, then propagate."""
    hre = cachex.HTTP_DATE_RE

    def mon(col: str) -> str:
        whens = " ".join(f"WHEN '{m}' THEN {i + 1}"
                         for i, m in enumerate(cachex.MONTHS))
        return f"CASE regexp_extract({col}, '{hre}', 2) {whens} END"

    def cast(col: str, g: int) -> str:
        return (f"try_cast(regexp_extract({col}, '{hre}', {g}) "
                f"AS bigint)")

    x1 = ", ".join(
        f"{cast(c, 1)} AS {p}_dd, {mon(c)} AS {p}_mo, "
        f"{cast(c, 3)} AS {p}_y, {cast(c, 4)} AS {p}_h, "
        f"{cast(c, 5)} AS {p}_mi, {cast(c, 6)} AS {p}_s"
        for p, c in ps)
    x2 = ", ".join(f"{p}_y - CASE WHEN {p}_mo <= 2 THEN 1 ELSE 0 END"
                   f" AS {p}_yy" for p, _ in ps)
    x3 = ", ".join(
        f"{p}_yy // 400 AS {p}_era, "
        f"(153 * ({p}_mo + CASE WHEN {p}_mo > 2 THEN -3 ELSE 9 END)"
        f" + 2) // 5 + {p}_dd - 1 AS {p}_doy" for p, _ in ps)
    x4 = ", ".join(f"{p}_yy - {p}_era * 400 AS {p}_yoe"
                   for p, _ in ps)
    x5 = ", ".join(f"{p}_yoe * 365 + {p}_yoe // 4 - {p}_yoe // 100 "
                   f"+ {p}_doy AS {p}_doe" for p, _ in ps)
    x6 = ", ".join(
        f"({p}_era * 146097 + {p}_doe - 719468) * 86400 "
        f"+ {p}_h * 3600 + {p}_mi * 60 + {p}_s AS {p}_e"
        for p, _ in ps)
    return f"""
        x1 AS (SELECT *, {x1} FROM t),
        x2 AS (SELECT *, {x2} FROM x1),
        x3 AS (SELECT *, {x3} FROM x2),
        x4 AS (SELECT *, {x4} FROM x3),
        x5 AS (SELECT *, {x5} FROM x4),
        x6 AS (SELECT *, {x6} FROM x5)"""


# committed golden output of the PURE-PYTHON extractor over the seed-42
# corpus (regenerated only on conscious semantic change; see
# tests/test_golden.py) — serves as the DuckDB oracle source for the
# extraction queries, whose DOM parse itself is not SQL-expressible
_GOLDEN = _fixture("golden_extracted_seed42_n300.parquet")
_GOLDEN_LINKS = _fixture("golden_links_seed42_n300.parquet")
_GOLDEN_META = _fixture("golden_meta_seed42_n120.parquet")
_GOLDEN_DATES = _fixture("golden_dates_seed42_n120.parquet")
_GOLDEN_AV = _fixture("golden_av_seed42_n120.parquet")
_GOLDEN_ODT = _fixture("golden_odt_elements_seed42_n40.parquet")
_GOLDEN_RTF = _fixture("golden_rtf_elements_seed42_n40.parquet")
_GOLDEN_OUTLINE = _fixture("golden_outline_seed42_n120.parquet")

# committed quality-classifier weights as a DuckDB list literal
_W_SQL = "[" + ", ".join(str(w) for w in _qmodel.W_MICRO) + "]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _section_sql(src: str, split_level: int = 3) -> str:
    """section_chunks twin over any (url, para, kind, level, text)
    source — the same cumulative-sum sectioning; DuckDB
    string_agg(ORDER BY) == Spark sort_array(collect_list) join;
    empty-body sections need the coalesce (string_agg over zero rows
    is NULL — the array_to_string lesson)."""
    return f"""
        WITH els AS ({src}), marked AS (
          SELECT url, para, text,
                 (kind = 'heading' AND level <= {split_level})
                   AS is_title,
                 sum(CASE WHEN kind = 'heading'
                          AND level <= {split_level}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY url ORDER BY para
                         ROWS UNBOUNDED PRECEDING)::int AS section_idx
          FROM els
        )
        SELECT url, section_idx,
               max(CASE WHEN is_title THEN text END) AS title,
               count(*) FILTER (WHERE NOT is_title)::bigint AS n_paras,
               length(coalesce(string_agg(text, chr(10) ORDER BY para)
                   FILTER (WHERE NOT is_title), ''))::bigint AS n_chars,
               coalesce(string_agg(text, chr(10) ORDER BY para)
                   FILTER (WHERE NOT is_title), '') AS text
        FROM marked
        GROUP BY url, section_idx
        ORDER BY url, section_idx"""


_TOK = (r"list_filter(regexp_split_to_array(trim(text), '\s+'), "
        r"x -> x != '')")
