"""IDN punycode codec and homograph profile: extractor/idnx.py
(stdlib-codec-pinned + golden-pinned) and its webtext operators."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import idnx
from historicaldatadocumentparsersystem_spark.operators import webtext

GOLDEN_IDN = "fixtures/golden_idn_seed42_n96.parquet"
_COLS = ("host", "unicode_host", "is_idn", "decode_ok",
         "n_idn_labels", "scripts", "mixed_label")


def test_profile_matches_committed_golden():
    golden = [tuple(r[c] for c in _COLS)
              for r in pq.read_table(GOLDEN_IDN).to_pylist()]
    assert golden == [idnx.host_profile(h)
                      for h in fixtures.idn_hosts(96)]
    assert len(golden) == 96


def test_codec_matches_stdlib_bidirectionally():
    """The from-scratch RFC 3492 codec against Python's stdlib
    punycode codec on random labels across seven script pools."""
    rng = random.Random("idnx-parity")
    pools = [(0x61, 0x7A), (0x430, 0x44F), (0x3B1, 0x3C9),
             (0x4E00, 0x4E80), (0x5D0, 0x5EA), (0x627, 0x64A),
             (0x915, 0x939)]
    for _ in range(500):
        k = rng.randrange(1, 12)
        label = "".join(chr(rng.randrange(*rng.choice(pools)))
                        for _ in range(k))
        enc = idnx.punycode_encode(label)
        assert enc == label.encode("punycode").decode("ascii")
        assert idnx.punycode_decode(enc) \
            == enc.encode("ascii").decode("punycode") == label


def test_known_hosts_decode():
    assert idnx.idn_to_unicode("XN--MNCHEN-3YA.de") == (
        "münchen.de", True, True)
    assert idnx.idn_to_unicode("xn--fiqs8s.cn") == ("中国.cn", True,
                                                    True)
    # the canonical homograph: Cyrillic а inside a Latin brand
    host, _, _ = idnx.idn_to_unicode("xn--pypal-4ve.com")
    assert host != "paypal.com" and len(host) == len("paypal.com")
    assert idnx.host_profile("xn--pypal-4ve.com")[6] is True


def test_malformed_punycode_degrades():
    assert idnx.punycode_decode("!!!") is None
    assert idnx.punycode_decode("9999999999") is None   # overflow
    assert idnx.punycode_decode("abc") is not None      # all extended
    # failed label keeps ASCII form, decode_ok False, never raises
    assert idnx.idn_to_unicode("xn--!!.ok.xn--wgv71a.jp")[1:] \
        == (True, False)
    for s in ("", "a", "-", "a-", "-a", "xn--", "0", "zz" * 40):
        idnx.punycode_decode(s)               # must not raise


def test_basic_codepoints_must_be_ascii():
    # a non-ASCII char before the last '-' is a violation
    assert idnx.punycode_decode("ü-abc") is None


def test_operator_matches_golden(spark):
    got = sorted(tuple(r) for r in webtext.idn_host_profile(
        fixtures.idn_hosts_df(spark, 96)).collect())
    golden = sorted(tuple(r[c] for c in _COLS)
                    for r in pq.read_table(GOLDEN_IDN).to_pylist())
    assert got == golden

    flat = spark.createDataFrame(
        [(h,) for h in fixtures.idn_hosts(24)], "host string")
    plan = (webtext.idn_host_profile(flat)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_homograph_gate_reasons(spark):
    prof = webtext.idn_host_profile(fixtures.idn_hosts_df(spark, 96))
    got = {r["host"]: r["reason"]
           for r in webtext.idn_homograph_gate(prof).collect()}
    assert got, "fixture must flag some hosts"
    for host, reason in got.items():
        k = fixtures.idn_hosts(96).index(host) % 8
        if reason == "bad-punycode":
            assert k == 5, host
        else:
            assert reason == "mixed-script" and k == 2, host
    # every homograph fixture host is flagged
    flagged_kinds = {fixtures.idn_hosts(96).index(h) % 8 for h in got}
    assert flagged_kinds == {2, 5}


def test_script_ranges_disjoint_and_classify_samples():
    """The shared block table is well formed (BMP intervals, unique
    names, no codepoint in two scripts) and one sample letter per
    script classifies to exactly that script."""
    from historicaldatadocumentparsersystem_spark.extractor.scriptranges \
        import SCRIPT_RANGES
    names = [n for n, _ in SCRIPT_RANGES]
    assert len(set(names)) == len(names)
    spans = sorted((lo, hi) for _n, rs in SCRIPT_RANGES for lo, hi in rs)
    assert all(0 <= lo <= hi <= 0xFFFF for lo, hi in spans)
    assert all(h1 < l2 for (_l1, h1), (l2, _h2) in zip(spans, spans[1:]))
    samples = {"latin": "a", "cyrillic": "я", "greek": "α",
               "arabic": "ب", "hebrew": "א",
               "devanagari": "क", "han": "中", "kana": "か",
               "hangul": "한"}
    assert set(samples) == set(names)
    for name, ch in samples.items():
        assert idnx.label_scripts(ch) == [name], name
    assert idnx.label_scripts("0-9") == []
