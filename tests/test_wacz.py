"""WACZ container family: extractor/waczx.py composition of the
cdxx/warcx parsers — build/parse round-trips, manifest audit
tri-state, the in-zip locator fetch path, and fuzz."""

from datetime import datetime, timezone

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import waczx


def _recs(n: int = 6):
    return [{"url": f"https://ex.com/p{i}",
             "warc_ts": datetime(2024, 1, 1 + i, 12, 0, i,
                                 tzinfo=timezone.utc),
             "body": f"<html><body>page {i} body</body></html>"
             .encode(),
             "status": 200 if i % 3 else 404}
            for i in range(n)]


def test_roundtrip_and_determinism():
    w = waczx.make_wacz(_recs(), title="T", main_url="https://ex.com/p0",
                        created="2024-02-01T00:00:00Z", shards=3)
    assert w == waczx.make_wacz(_recs(), title="T",
                                main_url="https://ex.com/p0",
                                created="2024-02-01T00:00:00Z",
                                shards=3)
    p = waczx.parse_wacz(w)
    assert (p["version"], p["title"], p["main_url"]) \
        == ("1.1.1", "T", "https://ex.com/p0")
    # round-robin sharding loses nothing; index is urlkey-sorted
    assert sorted(c["url"] for c in p["captures"]) \
        == [f"https://ex.com/p{i}" for i in range(6)]
    keys = [(c["urlkey"], c["ts"]) for c in p["captures"]]
    assert keys == sorted(keys)
    assert {c["status"] for c in p["captures"]} == {200, 404}
    # every resource self-consistent
    assert all(r["size_ok"] and r["hash_ok"] for r in p["resources"])
    assert len(p["resources"]) == 4        # 3 shards + 1 index


def test_tamper_audit_tristate():
    for mode, col in (("bytes", "size_ok"), ("hash", "hash_ok")):
        p = waczx.parse_wacz(waczx.make_wacz(_recs(3), tamper=mode))
        bad = [r for r in p["resources"] if r[col] is False]
        assert len(bad) == 1
    p = waczx.parse_wacz(waczx.make_wacz(_recs(3), tamper="missing"))
    missing = [r for r in p["resources"] if r["actual_bytes"] is None]
    assert len(missing) == 1
    assert missing[0]["size_ok"] is False
    assert missing[0]["hash_ok"] is False


def test_fixture_rows_and_fuzz():
    rows = fixtures.wacz_file_rows(12)
    assert rows == fixtures.wacz_file_rows(12)
    parses = [waczx.parse_wacz(r["payload"]) for r in rows]
    assert sum(len(p["captures"]) for p in parses) == 50
    # the no-index zip and garbage rows parse empty (F5)
    assert all(not p["captures"] and not p["resources"]
               for r, p in zip(rows, parses)
               if r["url"].endswith(("-5", "-11")))
    import random
    rng = random.Random("wacz-fuzz")
    for _ in range(150):
        payload = bytes(rng.randrange(256)
                        for _ in range(rng.randrange(600)))
        p = waczx.parse_wacz(payload)
        assert p["captures"] == [] and p["resources"] == []
