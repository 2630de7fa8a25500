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


# committed golden output of the PURE-PYTHON extractor over the seed-42
# corpus (regenerated only on conscious semantic change; see
# tests/test_golden.py) — serves as the DuckDB oracle source for the
# extraction queries, whose DOM parse itself is not SQL-expressible
_GOLDEN = _fixture("golden_extracted_seed42_n300.parquet")
_GOLDEN_LINKS = _fixture("golden_links_seed42_n300.parquet")
_GOLDEN_META = _fixture("golden_meta_seed42_n120.parquet")
_GOLDEN_DATES = _fixture("golden_dates_seed42_n120.parquet")
_GOLDEN_ODT = _fixture("golden_odt_elements_seed42_n40.parquet")
_GOLDEN_RTF = _fixture("golden_rtf_elements_seed42_n40.parquet")
_GOLDEN_OUTLINE = _fixture("golden_outline_seed42_n120.parquet")

# committed quality-classifier weights as a DuckDB list literal
_W_SQL = "[" + ", ".join(str(w) for w in _qmodel.W_MICRO) + "]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TOK = (r"list_filter(regexp_split_to_array(trim(text), '\s+'), "
        r"x -> x != '')")
