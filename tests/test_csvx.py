"""CSV/DSV source: extractor/csvx.py grammar vectors, dialect
sniffing, golden pin, and Spark reader == golden parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import csvx

GOLDEN_CSV = "fixtures/golden_csv_seed42_n18.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for r in fixtures.csv_file_rows(n):
        d = csvx.extract_csv(r["payload"])
        for row, col, header, value in d["records"]:
            out.append((r["url"], row, col, header, value))
    return out


def test_csv_matches_committed_golden():
    golden = [(r["url"], r["row"], r["col"], r["header"], r["value"])
              for r in pq.read_table(GOLDEN_CSV).to_pylist()]
    assert golden == _pure_rows(18)
    assert len(golden) == 79


def test_grammar_vectors():
    rows = csvx._parse_rows('a,"b,c",d\ne,"f""g",h\n', ",")
    assert rows == [["a", "b,c", "d"], ["e", 'f"g', "h"]]
    # quoted newline is data; CRLF / lone CR both end rows
    assert csvx._parse_rows('"x\ny",z\r\nq\rw\n', ",") == [
        ["x\ny", "z"], ["q"], ["w"]]
    # Excel lenient rule: text after a closing quote is appended
    assert csvx._parse_rows('"ab"cd,e', ",") == [["abcd", "e"]]
    # a quote mid-field is literal (field already started)
    assert csvx._parse_rows('a"b,c', ",") == [['a"b', "c"]]
    # unterminated quote runs to EOF as one final field
    assert csvx._parse_rows('"open,\nstill', ",") == [["open,\nstill"]]
    # trailing newline emits no empty row; empty physical rows skip
    assert csvx._parse_rows("a,b\n\n\nc,d\n", ",") == [
        ["a", "b"], ["c", "d"]]
    # trailing delimiter emits a trailing empty field
    assert csvx._parse_rows("a,b,\n", ",") == [["a", "b", ""]]
    assert csvx._parse_rows("", ",") == []


def test_sniffing():
    assert csvx.sniff_delimiter("a;b;c\nd;e;f\n") == ";"
    assert csvx.sniff_delimiter("a\tb\nc\td\n") == "\t"
    # quoted delimiters don't count: semicolons inside quotes
    assert csvx.sniff_delimiter('"a;b",c\n"d;e",f\n') == ","
    # ragged file sniffs by its dominant width (mode covers >= half)
    assert csvx.sniff_delimiter("a\tb\nv\tw\tX\nx\t\n") == "\t"
    # modal coverage beats a rarer wider mode: 3 of 4 rows are
    # 2-wide pipe; commas appear on only one row
    assert csvx.sniff_delimiter("a|b\nc|d\ne|f\ng|h|i\n") == "|"
    # nothing scores -> comma
    assert csvx.sniff_delimiter("plain text\nno tables\n") == ","
    assert csvx.sniff_delimiter("") == ","


def test_header_detection():
    assert csvx.detect_header(["id", "name"]) is True
    # numeric cell, empty cell, case-insensitive duplicate -> data
    assert csvx.detect_header(["id", "42"]) is False
    assert csvx.detect_header(["id", ""]) is False
    assert csvx.detect_header(["Id", "id"]) is False
    assert csvx.detect_header([]) is False
    # negative/decimal numerics count as numeric
    assert csvx.detect_header(["x", "-1.5"]) is False


def test_extract_csv_shapes():
    d = csvx.extract_csv(b"h1,h2\n1,2,3\n")
    assert d["has_header"] and d["header"] == ["h1", "h2"]
    # ragged overflow column carries NULL header
    assert d["records"] == [(0, 0, "h1", "1"), (0, 1, "h2", "2"),
                            (0, 2, None, "3")]
    # headerless: first row is data at row 0
    d = csvx.extract_csv(b"1,2\n3,4\n")
    assert not d["has_header"] and d["header"] is None
    assert d["records"][0] == (0, 0, None, "1")
    # cp1252 fallback decode
    d = csvx.extract_csv("k,v\nx,Caf\xe9\n".encode("cp1252"))
    assert d["records"][1] == (0, 1, "v", "Café")
    assert csvx.extract_csv(b"")["records"] == []
    assert csvx.extract_csv(None)["records"] == []


def test_spark_reader_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.csv_file_rows(18)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = sorted((r.url, r.row, r.col, r.header, r.value)
                 for r in sources.read_csv_records(df).collect())
    assert got == sorted(_pure_rows(18))


def test_spark_meta_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.csv_file_rows(18)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = {r.url: (r.delimiter, r.has_header, r.n_rows, r.n_cols)
           for r in sources.read_csv_meta(df).collect()}
    for f in files:
        d = csvx.extract_csv(f["payload"])
        recs = d["records"]
        n_rows = max((r for r, _, _, _ in recs), default=-1) + 1
        n_cols = max((c for _, c, _, _ in recs), default=-1) + 1
        delim = "\\t" if d["delimiter"] == "\t" else d["delimiter"]
        assert got[f["url"]] == (delim, d["has_header"],
                                 n_rows, n_cols)


def test_fuzz_never_raises():
    """Arbitrary text or bytes never raise: the sniffed delimiter is a
    single character and every record is (row, col, name, value)."""
    rng = random.Random(75)
    chars = "ab1,;\t|\"\r\n x"
    for _ in range(300):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 200)))
        for payload in (src, src.encode("utf-8")):
            d = csvx.extract_csv(payload)
            assert len(d["delimiter"]) == 1
            assert isinstance(d["has_header"], bool)
            assert all(len(r) == 4 for r in d["records"])
    for _ in range(100):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 160)))
        assert isinstance(csvx.extract_csv(blob)["records"], list)
