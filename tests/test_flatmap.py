"""The contract of ``flatmap.flat_map``, the one batch loop behind every
per-format reader and header-parsing operator: the F5 rule (a row whose
parse raises yields nothing, its batch neighbours survive), DDL typing
with real NULLs, and the empty-output schema.

Each ``rows_of`` is defined inside its test so it reaches the Python
workers by value; patching a parser in the test process would not."""

from pyspark.sql.types import StructType

from historicaldatadocumentparsersystem_spark.flatmap import flat_map

DDL = "url string, pos int, n bigint, ok boolean"


def _one_batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, payload string").coalesce(1)


def test_raising_row_drops_only_its_own_rows(spark):
    def rows_of(url, payload):
        for i, part in enumerate(payload.split(",")):
            if part == "boom":
                raise ValueError(part)
            yield url, i, len(part), True

    df = _one_batch(spark, [("a", "x,yy"), ("bad", "z,boom,w"),
                            ("c", "q")])
    assert df.rdd.getNumPartitions() == 1
    got = sorted(tuple(r) for r in flat_map(
        df, ["url", "payload"], DDL, rows_of).collect())
    # "bad" yielded ("bad", 0, 1, True) before raising: dropped too
    assert got == [("a", 0, 1, True), ("a", 1, 2, True),
                   ("c", 0, 1, True)]


def test_none_in_int_bigint_boolean_is_null(spark):
    big = 2**60 + 1     # not representable as float64

    def rows_of(url, payload):
        if payload == "full":
            yield url, 7, big, False
        else:
            yield url, None, None, None

    df = _one_batch(spark, [("a", "full"), ("b", "empty")])
    out = flat_map(df, ["url", "payload"], DDL, rows_of)
    assert out.schema == StructType.fromDDL(DDL)
    got = {r["url"]: tuple(r) for r in out.collect()}
    assert got == {"a": ("a", 7, big, False),
                   "b": ("b", None, None, None)}


def test_no_output_rows_keeps_the_ddl_schema(spark):
    def rows_of(url, payload):
        return iter(())

    df = _one_batch(spark, [("a", "x"), (None, None)])
    out = flat_map(df, ["url", "payload"], DDL, rows_of)
    assert out.schema == StructType.fromDDL(DDL)
    assert out.collect() == []
    empty = flat_map(df.limit(0), ["url", "payload"], DDL, rows_of)
    assert empty.schema == StructType.fromDDL(DDL)
    assert empty.collect() == []
