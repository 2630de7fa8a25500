"""One flat-map pass: input rows -> typed output rows via a Python parser.

Every per-format reader (``sources``) and header-parsing operator has
the same shape: select a few columns, hand each row's values to a
Spark-free parser, and emit zero or more typed rows per input row.
:func:`flat_map` is that shape, written once, so the Arrow/pandas batch
boundary, the output typing and the F5 failure rule live in one place
instead of in every caller.

This module imports only pyspark, so ``sources`` and ``operators`` can
both use it without pulling each other in.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StructType)

# DDL types whose pandas default would upcast or lose NULLs; every
# other column goes to Arrow as pandas infers it.
_NULLABLE_DTYPES = {IntegerType: "Int32", LongType: "Int64",
                    BooleanType: "boolean"}


def flat_map(df: DataFrame, cols: Sequence[str], ddl: str,
             rows_of: Callable[..., Iterable[tuple]]) -> DataFrame:
    """``df[cols]`` -> the rows ``rows_of`` yields, typed by ``ddl``.

    One ``mapInPandas`` pass over the selected columns. For each input
    row, ``rows_of(*values)`` yields output tuples in ``ddl`` column
    order. ``int``, ``bigint`` and ``boolean`` columns are built
    straight from the yielded values as pandas nullable
    ``Int32``/``Int64``/``boolean``, so a NULL never routes an integer
    column through float64 (exact past 2**53); every other column is
    left to pandas inference (naive datetimes stay naive timestamps).

    F5 (the reference's "unparseable input gives an empty result, never
    a crash", ``llm_support_kickoff_parser.py:28-30``): if ``rows_of``
    raises for a row, that row yields no output rows, including any it
    yielded before raising; the other rows of the batch are kept.
    """
    schema = StructType.fromDDL(ddl)
    names = schema.fieldNames()
    dtypes = {f.name: _NULLABLE_DTYPES[type(f.dataType)]
              for f in schema.fields
              if type(f.dataType) in _NULLABLE_DTYPES}

    def run(batches):
        import pandas as pd

        for b in batches:
            rows = []
            for values in b.itertuples(index=False, name=None):
                try:
                    out = list(rows_of(*values))
                except Exception:
                    continue
                rows.extend(out)
            cols = zip(*rows, strict=True) if rows else [()] * len(names)
            yield pd.DataFrame({
                n: pd.array(c, dtype=dtypes[n]) if n in dtypes else list(c)
                for n, c in zip(names, cols, strict=True)})

    return (df.select(*(F.col(c).alias(c) for c in cols))
            .mapInPandas(run, ddl))
