"""Link-graph layer: outlink extraction (golden-pinned), host edges,
integer PageRank — plus the new curation ops (duplicated-span removal,
hashed-linear quality gate) at unit level."""

import hashlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from historicaldatadocumentparsersystem_spark.extractor import linkx
from historicaldatadocumentparsersystem_spark.fixtures import generate_rows
from historicaldatadocumentparsersystem_spark.operators import (
    linkgraph, qmodel, quality, webtext)

GOLDEN_LINKS = "fixtures/golden_links_seed42_n300.parquet"


# --- linkx oracle ------------------------------------------------------------

def test_links_match_committed_golden():
    """Pins linkx semantics the way test_golden pins extraction: the
    committed parquet must equal a fresh pure-Python re-derivation."""
    golden: dict[str, list] = {}
    for r in pq.read_table(GOLDEN_LINKS).to_pylist():
        golden.setdefault(r["url"], []).append(
            (r["link_pos"], r["href"], r["anchor"]))
    n_golden = sum(len(v) for v in golden.values())
    n_fresh = 0
    for row in generate_rows(300):
        if not row["html"]:
            assert row["url"] not in golden
            continue
        fresh = linkx.extract_links(row["html"], row["url"])
        n_fresh += len(fresh)
        assert golden.get(row["url"], []) == fresh, row["url"]
    assert n_fresh == n_golden


def test_linkx_skips_and_resolution():
    src = ('<html><body>'
           '<a href="/rel/path">Rel</a>'
           '<a href="https://other.org/abs">Abs</a>'
           '<a href="#frag">skip frag</a>'
           '<a href="javascript:void(0)">skip js</a>'
           '<a href="mailto:x@y.z">skip mail</a>'
           '<a>no href</a>'
           '<a href="  ">blank</a>'
           '<div><a href="b.html"><b>nested</b> text</a></div>'
           '</body></html>')
    got = linkx.extract_links(src, "https://ex.com/dir/page.html")
    assert got == [
        (0, "https://ex.com/rel/path", "Rel"),
        (1, "https://other.org/abs", "Abs"),
        (2, "https://ex.com/dir/b.html", "nested text"),
    ]


def test_linkx_malformed_never_raises():
    for junk in (b"", b"<a href=", b"\xff\xfe\x00garbage",
                 b"<a href='x'>unclosed", b"<<<>>>&#;&bogus"):
        assert isinstance(linkx.extract_links(junk, "http://h/"), list)


# --- host edges + PageRank ---------------------------------------------------

def _pure_pagerank(edges: set[tuple[str, str]], iters: int = 3):
    """Pure-Python integer PageRank twin (same truncating arithmetic)."""
    scale, d = linkgraph.PAGERANK_SCALE, linkgraph.DAMPING_PCT
    hosts = sorted({h for e in edges for h in e})
    n = len(hosts)
    out = {h: 0 for h in hosts}
    for s, _ in edges:
        out[s] += 1
    rank = {h: scale // n for h in hosts}
    for _ in range(iters):
        inc = {h: 0 for h in hosts}
        for s, t in edges:
            inc[t] += rank[s] // out[s]
        dang = sum(rank[h] for h in hosts if out[h] == 0)
        rank = {h: (scale * (100 - d)) // (100 * n)
                + (d * (inc[h] + dang // n)) // 100
                for h in hosts}
    return rank


def test_pagerank_matches_pure_python(spark):
    edges = {("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("d", "a"), ("d", "c")}
    df = spark.createDataFrame(sorted(edges),
                               "src_host string, dst_host string")
    got = {r["host"]: r["rank_micro"]
           for r in linkgraph.pagerank_hosts(df, iters=3).collect()}
    assert got == _pure_pagerank(edges, 3)
    # link authority ordering: c has 3 in-edges, d none
    assert got["c"] > got["a"] > got["d"]


def test_pagerank_dangling_mass_redistributed(spark):
    """Graph with sinks: e and f have no outlinks. Their rank must be
    redistributed, not leaked — total rank stays SCALE up to integer-
    truncation dust (bounded by iters * (|E| + 2n + n) micro-units),
    and the Spark result still matches the pure-Python twin exactly."""
    edges = {("a", "b"), ("b", "e"), ("a", "e"), ("b", "f"),
             ("c", "a"), ("c", "f")}
    df = spark.createDataFrame(sorted(edges),
                               "src_host string, dst_host string")
    got = {r["host"]: r["rank_micro"]
           for r in linkgraph.pagerank_hosts(df, iters=3).collect()}
    assert got == _pure_pagerank(edges, 3)
    n, n_e, iters = 6, len(edges), 3
    dust = (iters + 1) * (n_e + 3 * n + 200)
    assert sum(got.values()) > linkgraph.PAGERANK_SCALE - dust
    assert sum(got.values()) <= linkgraph.PAGERANK_SCALE
    # sinks fed by two links outrank the one-in-edge host
    assert got["e"] > got["b"] and got["f"] > got["b"]


# --- duplicated-span removal -------------------------------------------------

def test_dup_span_removal_shared_passage(spark):
    shared = " ".join(f"s{i}" for i in range(10))     # 10 shared tokens
    doc1 = "alpha beta " + shared + " gamma delta"
    doc2 = "uniq one two " + shared + " three"
    doc3 = "totally different words here only once"
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           webtext.duplicate_span_removal(df, ngram=8).collect()}
    # every window inside the 10-token shared passage is duplicated ->
    # all 10 positions covered in both docs; unique prefix/suffix kept
    assert out[1]["text_kept"] == "alpha beta gamma delta"
    assert out[1]["n_removed"] == 10
    assert out[2]["text_kept"] == "uniq one two three"
    assert out[2]["n_removed"] == 10
    assert out[3]["n_removed"] == 0
    assert out[3]["text_kept"] == doc3


def test_dup_span_removal_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "only seven tokens in this tiny doc"),
         (2, "only seven tokens in this tiny doc")],
        "doc_id long, text string")
    out = webtext.duplicate_span_removal(df, ngram=8).collect()
    assert all(r["n_removed"] == 0 for r in out)      # no 8-windows
    assert all(r["text_kept"] == "only seven tokens in this tiny doc"
               for r in out)


# --- quality classifier ------------------------------------------------------

def _py_score(text: str) -> int:
    return sum(qmodel.W_MICRO[
        int(hashlib.md5(t.lower().encode()).hexdigest()[:8], 16)
        % qmodel.N_BUCKETS] for t in text.split())


@pytest.mark.parametrize("text,want_keep", [
    ("the data of the table and the index will be in the report "
     "because people think about information and history", 1),
    ("#$%& *+=~ ^|<> {}[] ()!? #$%& *+=~ ^|<> {}[] ()!?", 0),
    ("", 0),
])
def test_quality_classifier_gate(spark, text, want_keep):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = quality.quality_classifier(df).collect()[0]
    n = len(text.split())
    assert row["n_tokens"] == n
    assert row["score_micro"] == _py_score(text)
    assert row["keep"] == want_keep
    assert (row["score_micro"] > -qmodel.BIAS_MICRO * n) == bool(want_keep)


def test_quality_classifier_plan_is_map_only(spark):
    """The gate must stay a pure per-row projection: no Exchange, no
    Python UDF — one whole-stage-codegen pass over the scan."""
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("text"))
    plan = (quality.quality_classifier(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Python" not in plan


# --- property test ------------------------------------------------------------

from hypothesis import given, settings, strategies as st


@given(st.binary(max_size=2048))
@settings(max_examples=150, deadline=None)
def test_linkx_arbitrary_bytes_never_raise(data):
    out = linkx.extract_links(data, "https://base.example/")
    assert isinstance(out, list)
    for pos, href, anchor in out:
        assert isinstance(href, str) and isinstance(anchor, str)


# --- decontamination ----------------------------------------------------------

def test_decontaminate_flags_only_overlapping_docs(spark):
    passage = " ".join(f"b{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(1, "clean words that never appear in any benchmark at all ok"),
         (2, "prefix tokens " + passage + " suffix"),
         (3, passage),
         (4, "short doc")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(passage,)], "text string")
    got = {r["doc_id"]: r for r in
           webtext.decontaminate(docs, bench, ngram=8).collect()}
    assert got[1]["contaminated"] == 0 and got[1]["n_hits"] == 0
    # 9-token passage -> 2 overlapping 8-gram windows
    assert got[2]["contaminated"] == 1 and got[2]["n_hits"] == 2
    assert got[3]["contaminated"] == 1 and got[3]["n_hits"] == 2
    assert got[4]["contaminated"] == 0 and got[4]["n_grams"] == 0


def test_trustrank_demotes_unreachable_spam_cluster(spark):
    from historicaldatadocumentparsersystem_spark.operators import linkgraph
    # good: seed s links a <-> b; spam farm x <-> y interlinks itself
    # and links INTO the good side but receives no trusted link
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "s"),
         ("x", "y"), ("y", "x"), ("x", "a"), ("y", "a")],
        "src_host string, dst_host string")
    seeds = spark.createDataFrame([("s",)], "host string")
    got = {r["host"]: (r["is_seed"], r["trust_micro"])
           for r in linkgraph.trustrank_hosts(edges, seeds,
                                              iters=3).collect()}
    assert got["s"][0] and not got["x"][0]
    # spam farm: zero trust (no inlink path from the seed set)
    assert got["x"][1] == 0 and got["y"][1] == 0
    # trust flows along the good cycle; total mass bounded by SCALE
    assert got["a"][1] > 0 and got["b"][1] > 0 and got["s"][1] > 0
    assert sum(v for _, v in got.values()) <= linkgraph.PAGERANK_SCALE
    # plain PageRank would NOT zero the farm (its interlinks + the
    # uniform teleport give it mass) — the demotion is the point
    pr = {r["host"]: r["rank_micro"]
          for r in linkgraph.pagerank_hosts(edges, iters=3).collect()}
    assert pr["x"] > 0 and pr["y"] > 0
