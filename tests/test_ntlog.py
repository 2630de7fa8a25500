"""N-Triples source: grammar vectors, golden pin, Spark parity, fuzz."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import ntriplesx

GOLDEN_NT = "fixtures/golden_ntriples_seed42_n12.parquet"

NT_COLS = ["pos", "subj", "subj_kind", "pred", "obj", "obj_kind",
           "obj_lang", "obj_datatype"]


def test_ntriples_vectors():
    d = ntriplesx.parse_ntriples(
        '<http://e/s> <http://e/p> "v\\n\\"x\\u00E9"@en-GB .\n'
        "# comment\n"
        '_:b1 <http://e/p> "42"^^<http://w3/int> .\n'
        "<http://e/s> <http://e/p2> _:b1 .\n"
        '<http://e/s> <http://e/p> "bad \\q" .\n'
        '<http://e/s> <http://e/p> "no dot"\n'
        '"lit subject" <http://e/p> <http://e/o> .\n'
        '<http://e/s> <http://e/p> "surro \\uDC00" .\n')
    assert d["n_malformed"] == 4
    t = d["triples"]
    assert t[0][4] == 'v\n"xé' and t[0][6] == "en-gb"
    assert t[1][2] == "bnode" and t[1][7] == "http://w3/int"
    assert t[2][5] == "bnode"
    assert [x[0] for x in t] == [0, 1, 2]
    # encode half round-trips through the grammar
    weird = 'a"b\\c\nd\te\x01f'
    line = (f'<http://e/s> <http://e/p> '
            f'"{ntriplesx.escape_literal(weird)}" .')
    d2 = ntriplesx.parse_ntriples(line)
    assert d2["triples"][0][4] == weird and not d2["n_malformed"]
    assert ntriplesx.parse_ntriples(None)["triples"] == []
    assert ntriplesx.parse_ntriples(b"\xff\xfe")["triples"] == []


def _nt_pure() -> list[tuple]:
    out = []
    for r in fixtures.ntriples_file_rows(12):
        for t in ntriplesx.parse_ntriples(r["payload"])["triples"]:
            out.append((r["url"],) + t)
    return out


def test_match_committed_goldens():
    nt = [(r["url"],) + tuple(r[c] for c in NT_COLS)
          for r in pq.read_table(GOLDEN_NT).to_pylist()]
    assert nt == _nt_pure() and len(nt) == 33


def test_spark_readers_match_pure(spark):
    from historicaldatadocumentparsersystem_spark import sources
    ndf = spark.createDataFrame(
        [(r["url"], r["payload"])
         for r in fixtures.ntriples_file_rows(12)],
        "url string, payload binary").repartition(8)
    got = sorted(tuple(str(x) for x in r)
                 for r in sources.read_ntriples(ndf).collect())
    assert got == sorted(tuple(str(x) for x in r)
                         for r in _nt_pure())


def test_fuzz_never_raises():
    rng = random.Random(16)
    for _ in range(300):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 200)))
        assert isinstance(
            ntriplesx.parse_ntriples(blob)["triples"], list)
