"""Porter stemmer: full-pipeline vectors (official output
semantics), step-rule checks, golden pin, Spark parity."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor.stemx import (
    porter_stem, tokens)

GOLDEN_STEMS = "fixtures/golden_stems_seed42.parquet"

# full-pipeline outputs (Porter's reference implementation
# semantics — note agreed -> agre, conflated -> conflat: the paper's
# per-step examples continue through steps 4/5)
VECTORS = {
    "caresses": "caress", "ponies": "poni", "ties": "ti",
    "caress": "caress", "cats": "cat", "feed": "feed",
    "agreed": "agre", "plastered": "plaster", "bled": "bled",
    "motoring": "motor", "sing": "sing", "conflated": "conflat",
    "troubled": "troubl", "sized": "size", "hopping": "hop",
    "tanned": "tan", "falling": "fall", "hissing": "hiss",
    "fizzed": "fizz", "failing": "fail", "filing": "file",
    "happy": "happi", "sky": "sky",
    "relational": "relat", "conditional": "condit",
    "rational": "ration", "valenci": "valenc",
    "hesitanci": "hesit", "digitizer": "digit",
    "conformabli": "conform", "radicalli": "radic",
    "differentli": "differ", "vileli": "vile",
    "analogousli": "analog", "vietnamization": "vietnam",
    "predication": "predic", "operator": "oper",
    "feudalism": "feudal", "decisiveness": "decis",
    "hopefulness": "hope", "callousness": "callous",
    "formaliti": "formal", "sensitiviti": "sensit",
    "sensibiliti": "sensibl", "triplicate": "triplic",
    "formative": "form", "formalize": "formal",
    "electriciti": "electr", "electrical": "electr",
    "hopeful": "hope", "goodness": "good",
    "revival": "reviv", "allowance": "allow",
    "inference": "infer", "airliner": "airlin",
    "gyroscopic": "gyroscop", "adjustable": "adjust",
    "defensible": "defens", "irritant": "irrit",
    "replacement": "replac", "adjustment": "adjust",
    "dependent": "depend", "adoption": "adopt",
    "homologou": "homolog", "communism": "commun",
    "activate": "activ", "angulariti": "angular",
    "effective": "effect", "bowdlerize": "bowdler",
    "probate": "probat", "rate": "rate", "cease": "ceas",
    "controll": "control", "roll": "roll",
}


def test_vectors():
    bad = {w: (porter_stem(w), want) for w, want in VECTORS.items()
           if porter_stem(w) != want}
    assert not bad, bad


def test_rule_details():
    # longest-match-wins then condition STOPS the step: m=0 stems
    # leave step-2 suffixes alone
    assert porter_stem("ation") == "ation"
    # y-as-vowel definition: leading y is a consonant
    assert porter_stem("yelling") == "yell"
    # step 1b repair: at/bl/iz restore the e
    assert porter_stem("sizing") == "size"
    assert porter_stem("enabling") == "enabl"
    # *d not ending l/s/z drops one letter; l/s/z kept
    assert porter_stem("hopped") == "hop"
    assert porter_stem("hissed") == "hiss"
    assert porter_stem("fizzing") == "fizz"
    # short words and non-candidates unchanged
    assert porter_stem("by") == "by"
    assert porter_stem("a") == "a"
    assert porter_stem("Mixed") == "Mixed"  # caller lowercases
    assert porter_stem("naïve") == "naïve"  # non-ascii untouched
    # tokenizer: lowercase, strips digits/punct
    assert tokens("Hopping, SIZED-42 flies!") == \
        ["hopping", "sized", "flies"]


def test_matches_committed_golden():
    vocab = set()
    for r in fixtures.stem_texts(40):
        vocab.update(tokens(r["text"]))
    want = [(w, porter_stem(w)) for w in sorted(vocab)]
    golden = [(r["word"], r["stem"])
              for r in pq.read_table(GOLDEN_STEMS).to_pylist()]
    assert golden == want
    assert len(golden) == 92


def test_spark_vocab_matches_golden(spark):
    from historicaldatadocumentparsersystem_spark.operators import \
        textstats
    rows = fixtures.stem_texts(40)
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows],
        "url string, text string").repartition(8)
    got = sorted((r.word, r.stem)
                 for r in textstats.stem_vocab(df).collect())
    golden = sorted((r["word"], r["stem"])
                    for r in pq.read_table(GOLDEN_STEMS).to_pylist())
    assert got == golden


def test_fuzz_never_raises():
    """Random lowercase words never raise and never get longer;
    tokens() yields non-empty lowercase tokens."""
    rng = random.Random(86)
    for _ in range(1000):
        w = "".join(rng.choice("abcdeilnorstuvyz")
                    for _ in range(rng.randrange(0, 16)))
        s = porter_stem(w)
        assert isinstance(s, str) and len(s) <= max(len(w), 1)
    for _ in range(200):
        src = "".join(rng.choice("Ab c'-.,\n9é")
                      for _ in range(rng.randrange(0, 80)))
        assert all(t and t == t.lower() for t in tokens(src))
