"""PII family: extractor/piix.py (pure oracle), operators/pii.py
(JVM-native plans), the committed fixture corpus pin, and the
three-engine agreement (Python re vs Java regex vs DuckDB RE2 — the
common-subset patterns must behave identically; test_entry_oracle
covers the DuckDB leg, this file covers the other two)."""

import random

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import piix

PII_FIX = "fixtures/pii_texts_seed42_n160.parquet"


def test_fixture_matches_committed_parquet():
    committed = [(r["url"], r["text"])
                 for r in pq.read_table(PII_FIX).to_pylist()]
    regen = [(r["url"], r["text"]) for r in synth_inputs.pii_texts()]
    assert committed == regen
    assert len(committed) == 160


def test_luhn_vectors():
    assert piix.luhn_ok("79927398713")          # the ISO example
    assert piix.luhn_ok("4111111111111111")
    assert not piix.luhn_ok("4111111111111112")
    assert not piix.luhn_ok("79927398710")
    assert not piix.luhn_ok("")
    # every single-digit corruption of a valid number fails
    good = "4539578763621486"
    for i in range(len(good)):
        for d in "0123456789":
            if d != good[i]:
                assert not piix.luhn_ok(good[:i] + d + good[i + 1:])


def test_detection_kinds_and_negatives():
    t = ("mail a.b+c@x-y.example.COM, server 10.0.0.1, bogus "
         "999.0.300.1, version v1.2.3.4 and 1.2.3, card "
         "4111-1111-1111-1111, broken 4111-1111-1111-1112, bare "
         "79927398713, call 555-123-4567 or +44 20 7946 0958, "
         "short +12 34, date 2026-08-19, run 12345678901234567890")
    got = {(k, v) for k, _, _, v in piix.find_pii(t)}
    assert ("email", "a.b+c@x-y.example.COM") in got
    assert ("ipv4", "10.0.0.1") in got
    assert ("card", "4111-1111-1111-1111") in got
    assert ("card", "79927398713") not in got   # 11 digits: no candidate
    assert ("phone", "555-123-4567") in got
    assert ("phone", "+44 20 7946 0958") in got
    # validity drops: out-of-range octet, Luhn-failing card
    assert not any(v == "999.0.300.1" for _, v in got)
    assert not any("1112" in v for k, v in got if k == "card")
    # never matched at all: versions, dates, short codes, 20-digit runs
    for bad in ("1.2.3.4", "2026-08-19", "+12 34", "12345678901234567890"):
        assert not any(v == bad for _, v in got)
    # spans slice the source exactly
    for _, a, b, v in piix.find_pii(t):
        assert t[a:b] == v


def test_redact_is_recall_oriented_and_stable():
    t = "pay 4111-1111-1111-1112 or mail x@y.org at 999.999.999.999"
    r = piix.redact(t)
    # invalid card and out-of-range IP are still masked
    assert r == "pay [CARD] or mail [EMAIL] at [IP]"
    # masks never re-match: redaction is idempotent
    assert piix.redact(r) == r
    assert piix.redact("") == ""


def test_spark_matches_pure_on_fixture(spark):
    from historicaldatadocumentparsersystem_spark.operators import pii
    docs = spark.read.parquet(PII_FIX)
    rows = pq.read_table(PII_FIX).to_pylist()

    got = sorted((r.url, r.kind, r.value)
                 for r in pii.pii_spans(docs).collect())
    want = sorted((r["url"], k, v) for r in rows
                  for k, _, _, v in piix.find_pii(r["text"]))
    assert got == want

    prof = {r.url: (r.n_emails, r.n_phones, r.n_ipv4, r.n_cards, r.n_pii)
            for r in pii.pii_profile(docs).collect()}
    assert len(prof) == len(rows)
    for r in rows:
        c = {"email": 0, "phone": 0, "ipv4": 0, "card": 0}
        for k, *_ in piix.find_pii(r["text"]):
            c[k] += 1
        assert prof[r["url"]] == (c["email"], c["phone"], c["ipv4"],
                                  c["card"], sum(c.values()))

    red = {r.url: r.redacted for r in pii.redact_pii(docs).collect()}
    for r in rows:
        assert red[r["url"]] == piix.redact(r["text"])


def test_plans_are_map_only(spark):
    from historicaldatadocumentparsersystem_spark.operators import pii
    docs = spark.read.parquet(PII_FIX)
    for df in (pii.pii_spans(docs), pii.pii_profile(docs),
               pii.redact_pii(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_java_and_python_regex_agree_on_adversarial_text(spark):
    """One batched Spark job over fuzz strings drawn from the chars
    the patterns touch — any leftmost-match or class-semantics
    divergence between Java regex and Python re would surface here."""
    from historicaldatadocumentparsersystem_spark.operators import pii
    rng = random.Random("piix-fuzz")
    alpha = "0123456789abcXY @.+()-%_/:,\n"
    texts = ["".join(rng.choice(alpha) for _ in range(rng.randrange(120)))
             for _ in range(300)]
    # seed some near-miss structured strings among the noise
    texts += ["+1" + " 555" * 5, "1" * 13, "1" * 19, "1" * 20,
              "a@b.cd e@f.g", "0.0.0.0 256.1.1.1", "123-456-7890.",
              "4111 1111 1111 1111 4111-1111-1111-1111",
              ".19 1.2.3.4.5.6 +() +1-------------9"]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "url string, text string")
    got = sorted((r.url, r.kind, r.value)
                 for r in pii.pii_spans(df).collect())
    want = sorted((str(i), k, v) for i, t in enumerate(texts)
                  for k, _, _, v in piix.find_pii(t))
    assert got == want
    red = {r.url: r.redacted for r in pii.redact_pii(df).collect()}
    for i, t in enumerate(texts):
        assert red[str(i)] == piix.redact(t)


def test_fixture_has_every_kind_and_the_negatives():
    rows = pq.read_table(PII_FIX).to_pylist()
    kinds = {}
    for r in rows:
        for k, *_ in piix.find_pii(r["text"]):
            kinds[k] = kinds.get(k, 0) + 1
    assert set(kinds) == {"email", "phone", "ipv4", "card"}
    assert min(kinds.values()) >= 16
    # planted negatives: redaction masks MORE than detection validates
    n_masked = sum(
        sum(piix.redact(r["text"]).count(m) for m in piix.MASKS.values())
        for r in rows)
    assert n_masked > sum(kinds.values())
    assert any(r["text"] == "" for r in rows)
