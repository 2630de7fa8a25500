"""Pagination-chain stitching (operators/pagemeta.stitch_pagination):
golden re-derivation and chain semantics (broken links, shared pages,
cycles, the depth cap) vs a pure-Python walk.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures  # noqa: E402
from historicaldatadocumentparsersystem_spark.operators import pagemeta  # noqa: E402

GOLDEN = "fixtures/golden_paging_seed42.parquet"


def _pure_stitch(rows, max_pages=16):
    """Reference walk mirroring the operator/oracle semantics."""
    by_url = {r["url"]: r for r in rows}
    in_edges = {r["rel_next"] for r in rows if r["rel_next"]}
    visits = []  # (url, pos, chain_id, text)
    for r in rows:
        if r["url"] in in_edges:
            continue
        cur, pos = r, 0
        while cur is not None and pos < max_pages:
            visits.append((cur["url"], pos, r["url"], cur["body_text"]))
            cur = by_url.get(cur["rel_next"]) if cur["rel_next"] else None
            pos += 1
    first = {}
    for url, pos, chain, text in visits:
        if url not in first or (pos, chain) < first[url][:2]:
            first[url] = (pos, chain, text)
    chains = {}
    for url, (pos, chain, text) in first.items():
        chains.setdefault(chain, []).append((pos, text))
    return {c: (len(ps), "\n\n".join(t for _, t in sorted(ps)))
            for c, ps in chains.items()}


def test_golden_rederivation():
    import pyarrow.parquet as pq

    from historicaldatadocumentparsersystem_spark.extractor import metax
    from historicaldatadocumentparsersystem_spark.extractor.htmlx import (
        decode_payload, extract_html)
    golden = pq.read_table(GOLDEN).to_pylist()
    derived = []
    for p in synth_inputs.paging_pages(24):
        meta = metax.extract_meta(p["html"], base_url=p["url"])
        text, _spans, _score, _title = extract_html(
            decode_payload(p["html"]))
        derived.append({"url": p["url"], "rel_next": meta["rel_next"],
                        "rel_prev": meta["rel_prev"],
                        "body_text": text or ""})
    assert golden == derived


@pytest.mark.usefixtures("spark")
def test_stitch_matches_pure_walk(spark):
    import pyarrow.parquet as pq
    rows = pq.read_table(GOLDEN).to_pylist()
    df = spark.read.parquet(GOLDEN)
    got = {r.chain_id: (r.n_pages, r.full_text)
           for r in pagemeta.stitch_pagination(df, max_pages=8).collect()}
    want = _pure_stitch(rows, max_pages=8)
    assert set(got) == set(want)
    for c, (n_pages, text) in want.items():
        assert got[c] == (n_pages, text), c


@pytest.mark.usefixtures("spark")
def test_chain_semantics(spark):
    rows = [
        # 3-part article
        ("a0", "a1", "t-a0"), ("a1", "a2", "t-a1"), ("a2", None, "t-a2"),
        # broken chain: next -> missing url
        ("b0", "missing", "t-b0"),
        # standalone page
        ("c0", None, "t-c0"),
        # head feeding a 2-cycle: d0 -> e1 -> e2 -> e1 ...
        ("d0", "e1", "t-d0"), ("e1", "e2", "t-e1"), ("e2", "e1", "t-e2"),
        # orphan 2-cycle (no head can reach it)
        ("f1", "f2", "t-f1"), ("f2", "f1", "t-f2"),
    ]
    df = spark.createDataFrame(
        rows, "url string, rel_next string, body_text string")
    got = {r.chain_id: (r.n_pages, r.full_text)
           for r in pagemeta.stitch_pagination(df, max_pages=6).collect()}
    assert got["a0"] == (3, "t-a0\n\nt-a1\n\nt-a2")
    assert got["b0"] == (1, "t-b0")          # broken link ends chain
    assert got["c0"] == (1, "t-c0")          # single page = 1-chain
    assert got["d0"] == (3, "t-d0\n\nt-e1\n\nt-e2")  # cycle: first visit
    assert "f1" not in got and "f2" not in got       # orphan cycle gone
    assert not any("t-f1" in v[1] for v in got.values())


@pytest.mark.usefixtures("spark")
def test_shared_tail_claimed_once(spark):
    # two chains converge on s: min (pos, chain_id) wins -> chain "a"
    rows = [("a", "s", "t-a"), ("b", "s", "t-b"), ("s", None, "t-s")]
    df = spark.createDataFrame(
        rows, "url string, rel_next string, body_text string")
    got = {r.chain_id: (r.n_pages, r.full_text)
           for r in pagemeta.stitch_pagination(df).collect()}
    assert got["a"] == (2, "t-a\n\nt-s")
    assert got["b"] == (1, "t-b")
