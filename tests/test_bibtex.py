"""BibTeX source: extractor/bibx.py grammar vectors, golden pin,
and the Spark reader == golden parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import bibx

GOLDEN_BIB = "fixtures/golden_bibtex_seed42_n24.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for r in fixtures.bib_file_rows(n):
        for e in bibx.extract_bib_entries(r["payload"]):
            if not e["fields"]:
                out.append((r["url"], e["pos"], e["entry_type"],
                            e["key"], None, None))
            for f, v in e["fields"]:
                out.append((r["url"], e["pos"], e["entry_type"],
                            e["key"], f, v))
    return out


def test_bibtex_matches_committed_golden():
    golden = [(r["url"], r["pos"], r["entry_type"], r["key"],
               r["field"], r["value"])
              for r in pq.read_table(GOLDEN_BIB).to_pylist()]
    assert golden == _pure_rows(24)
    assert len(golden) == 72


def test_grammar_vectors():
    def one(t):
        es = bibx.extract_bib_entries(t)
        assert len(es) == 1
        return es[0]

    e = one('@Article{k1, Title = {X {Y} Z}, year = 2001}')
    assert (e["entry_type"], e["key"]) == ("article", "k1")
    assert e["fields"] == [("title", "X {Y} Z"), ("year", "2001")]
    # duplicate fields: FIRST wins; whitespace collapses
    e = one('@a{k, x = {one\n  two}, X = {later}}')
    assert e["fields"] == [("x", "one two")]
    # macros + concat; undefined macros stay verbatim
    es = bibx.extract_bib_entries(
        '@string{v = "Very"}\n@a{k, t = v # " " # good # 9}')
    assert es[0]["fields"] == [("t", "Very good9")]
    # paren delimiter, trailing comma, numeric value
    e = one("@a(k, n = 42,)")
    assert e["fields"] == [("n", "42")]
    # quoted value: braces protect an inner quote
    e = one('@a{k, t = "say {"}hi{"} now"}')
    assert e["fields"] == [("t", 'say {"}hi{"} now')]
    # @comment skips balanced group including decoy entries
    es = bibx.extract_bib_entries(
        "@comment{ {nest} @a{decoy, x=1} }\n@b{real}")
    assert [e["key"] for e in es] == ["real"]
    # malformed entries drop whole; later entries survive
    es = bibx.extract_bib_entries(
        "@a{bad, t = {open\n@b{good, y = 2}")
    assert [(e["key"], e["fields"]) for e in es] == [
        ("good", [("y", "2")])]
    # missing '=' drops the entry
    assert bibx.extract_bib_entries("@a{k, justname}") == []
    # preamble emits; @string emits nothing
    es = bibx.extract_bib_entries('@preamble{"\\\\x"}@string{a="b"}')
    assert [(e["entry_type"], e["key"], e["fields"])
            for e in es] == [("preamble", None,
                              [("preamble", "\\\\x")])]
    # non-entries between entries ignored (emails, bare @)
    assert bibx.extract_bib_entries("a@b.c and @ alone") == []
    assert bibx.extract_bib_entries(b"") == []
    assert bibx.extract_bib_entries(None) == []
    # cp1252 fallback decode
    es = bibx.extract_bib_entries("@a{k, t = {Caf\xe9}}"
                                  .encode("cp1252"))
    assert es[0]["fields"] == [("t", "Café")]


def test_crossref_resolve_semantics(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        bibops
    df = spark.createDataFrame(
        [("u", 0, "inproceedings", "c1", "title", "Own"),
         ("u", 0, "inproceedings", "c1", "crossref", "P1"),
         ("u", 1, "proceedings", "p1", "title", "ParentTitle"),
         ("u", 1, "proceedings", "p1", "year", "1999"),
         ("u", 1, "proceedings", "p1", "crossref", "GP"),
         # duplicate parent key: first in file order wins
         ("u", 2, "proceedings", "P1", "year", "2222"),
         ("u", 3, "misc", "gp", "note", "grandparent")],
        "url string, pos int, entry_type string, key string, "
        "field string, value string")
    got = {(r.pos, r.field): (r.value, r.inherited)
           for r in bibops.bib_crossref_resolve(df).collect()
           if r.pos == 0}
    # own title kept; parent title NOT inherited (child defines it);
    # year inherited from the FIRST p1; the parent's crossref (a
    # chain to gp) is NOT inherited, and gp's note doesn't leak
    assert got == {(0, "title"): ("Own", False),
                   (0, "crossref"): ("P1", False),
                   (0, "year"): ("1999", True)}


def test_spark_reader_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark import sources
    files = fixtures.bib_file_rows(24)
    df = spark.createDataFrame(
        [(r["url"], r["payload"]) for r in files],
        "url string, payload binary").repartition(8)
    got = sorted((r.url, r.pos, r.entry_type, r.key, r.field,
                  r.value)
                 for r in sources.read_bib_fields(df).collect())
    assert got == sorted(_pure_rows(24))


def test_fuzz_never_raises():
    """Arbitrary text or bytes never raise: every entry keeps its
    shape, its ordinal, a lowercased type and lowercased field
    names."""
    rng = random.Random(72)
    chars = "@{}()=,\"#%\\ \narticlebook0123xyz"
    for _ in range(300):
        src = "".join(rng.choice(chars)
                      for _ in range(rng.randrange(0, 200)))
        for pos, e in enumerate(bibx.extract_bib_entries(src)):
            assert set(e) == {"entry_type", "key", "fields", "pos"}
            assert e["pos"] == pos
            assert e["entry_type"] == e["entry_type"].lower()
            assert all(k == k.lower() for k, _v in e["fields"])
    for _ in range(100):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 160)))
        assert isinstance(bibx.extract_bib_entries(blob), list)
