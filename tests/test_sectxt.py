"""security.txt family: extractor/sectxtx.py grammar vectors and
Spark == pure parity on the committed fixture corpus."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import sectxtx

SEC_FIX = "fixtures/sectxt_texts_seed42_n48.parquet"
NOW_Z = "2026-08-19T00:00:00Z"


def test_fixture_parquet_matches_builder():
    regen = [(r["url"], r["text"]) for r in fixtures.security_texts()]
    disk = [(r["url"], r["text"])
            for r in pq.read_table(SEC_FIX).to_pylist()]
    assert disk == regen
    assert len(disk) == 48


def test_grammar_vectors():
    rows = sectxtx.parse_security_txt(
        "# header comment\r\n"
        "Contact: mailto:sec@ex.com\r\n"
        "EXPIRES:2027-01-01T00:00:00Z\r\n"
        "Hash: SHA256\r\n"
        "Policy:   \r\n"
        "Canonical: https://ex.com/.well-known/security.txt  \r\n"
        "-----BEGIN PGP SIGNATURE-----\r\n"
        "Contact: mailto:trap@evil.example\r\n"
        "-----END PGP SIGNATURE-----\r\n")
    assert rows == [
        (2, "contact", "mailto:sec@ex.com"),
        (3, "expires", "2027-01-01T00:00:00Z"),
        (6, "canonical", "https://ex.com/.well-known/security.txt")]
    assert sectxtx.parse_security_txt("") == []
    assert sectxtx.parse_security_txt(None) == []


def test_gate_vectors():
    ok = sectxtx.security_txt_gate(
        "Contact: a@b\nExpires: 2025-01-01T00:00:00Z\n", NOW_Z)
    assert ok == {"n_contact": 1, "n_fields": 2,
                  "expires": "2025-01-01T00:00:00Z",
                  "well_formed": True, "expired": True}
    # first expires wins even when a later one is Z-form
    first = sectxtx.security_txt_gate(
        "Contact: a@b\nExpires: 2026-06-30T12:00:00+02:00\n"
        "Expires: 2025-01-01T00:00:00Z\n", NOW_Z)
    assert first["expires"] == "2026-06-30T12:00:00+02:00"
    assert first["well_formed"] is True and first["expired"] is None
    # contact-only: present but not well-formed
    c = sectxtx.security_txt_gate("Contact: a@b\n", NOW_Z)
    assert c["well_formed"] is False and c["expired"] is None
    assert sectxtx.security_txt_gate(None, NOW_Z)["n_fields"] == 0


def test_spark_matches_pure(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        sectxt
    rows = fixtures.security_texts()
    df = spark.createDataFrame([(r["url"], r["text"]) for r in rows],
                               "url string, text string")
    got_f = [(r.url, r.line_no, r.field, r.value)
             for r in sectxt.securitytxt_fields(df)
             .orderBy("url", "line_no").collect()]
    want_f = []
    for r in rows:
        want_f += [(r["url"],) + t
                   for t in sectxtx.parse_security_txt(r["text"])]
    assert got_f == sorted(want_f)
    assert len(got_f) == 136

    got_g = {r.url: (r.n_contact, r.n_fields, r.expires,
                     r.well_formed, r.expired)
             for r in sectxt.securitytxt_gate(df, NOW_Z).collect()}
    want_g = {}
    for r in rows:
        g = sectxtx.security_txt_gate(r["text"], NOW_Z)
        want_g[r["url"]] = (g["n_contact"], g["n_fields"],
                            g["expires"], g["well_formed"],
                            g["expired"])
    assert got_g == want_g
    # every gate shape appears in the corpus
    assert {v[3:] for v in got_g.values()} == {
        (True, False), (True, True), (True, None),
        (False, None)}


def test_fuzz_never_raises():
    """Arbitrary text never raises: field names are lowercase with
    1-based line numbers, and the gate keeps its keys."""
    rng = random.Random(85)
    toks = ["Contact:", "expires:", "Policy: ", "mailto:a@b",
            " 2030-01-01T00:00:00Z", "2020-13-01", "#", "x", ":", " ",
            "\r", "-----BEGIN PGP SIGNED MESSAGE-----"]
    keys = set(sectxtx.security_txt_gate("", "2025-01-01T00:00:00Z"))
    for _ in range(400):
        src = "\n".join("".join(rng.choice(toks)
                                for _ in range(rng.randrange(0, 5)))
                        for _ in range(rng.randrange(0, 8)))
        n_lines = src.count("\n") + 1
        for line_no, name, _value in sectxtx.parse_security_txt(src):
            assert 1 <= line_no <= n_lines and name == name.lower()
        gate = sectxtx.security_txt_gate(src, "2025-01-01T00:00:00Z")
        assert set(gate) == keys
