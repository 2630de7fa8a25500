"""Operator-level unit tests (SURVEY.md §5.2 item 4)."""

import pytest
from pyspark.sql import functions as F

from historicaldatadocumentparsersystem_spark.operators import (
    chunking, dedup, keywords, multimodal, similarity, skew, spans)

SF = "/root/testdata/sf0.001"


# --- A4 chunking --------------------------------------------------------------

def test_chunk_oracle_budget_and_page_close():
    elements = [
        (1, 0, "a b c"),          # 3 tokens
        (1, 1, "d e f g"),        # +4 = 7 > 6 -> close, new chunk
        (2, 2, "h i"),            # page change -> close
    ]
    got = chunking.chunk_elements(elements, max_tokens=6, overlap=2)
    assert [(c[0], c[1], c[2]) for c in got] == [
        (0, 1, "a b c"), (1, 1, "d e f g"), (2, 2, "h i")]


def test_chunk_oracle_oversize_window_split():
    words = " ".join(f"w{i}" for i in range(10))
    got = chunking.chunk_elements([(1, 0, words)], max_tokens=4, overlap=1)
    texts = [c[2] for c in got]
    assert texts[0] == "w0 w1 w2 w3"
    assert texts[1] == "w3 w4 w5 w6"   # overlap rewind of 1
    assert texts[-1].endswith("w9")
    # every word appears
    assert set(words.split()) <= set(" ".join(texts).split())


def test_chunk_spark_matches_oracle(spark):
    # batches of 3 records split urls across Arrow batches, so the fold
    # carries a url's trailing elements into the next batch; u3's
    # elements are all empty and yield no rows
    rows = [("u1", p, i, f"tok{p}_{i} " * (i + 1)) for p in (1, 2)
            for i in range(5)] + [("u2", 1, 0, "a b c d e f g h i j")] \
        + [("u3", 1, i, " " * i) for i in range(4)] \
        + [(f"v{k}", 1, i, f"w{k} x{i} y z") for k in range(5)
           for i in range(k)]
    df = spark.createDataFrame(
        rows, "url string, page int, pos int, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = chunking.chunk_by_token_budget(
            df, max_tokens=6, overlap=2).collect()
    finally:
        spark.conf.set(key, prior)
    want = sorted(
        (url, *chunk) for url in sorted({r[0] for r in rows})
        for chunk in chunking.chunk_elements(
            [(p, i, t) for (u, p, i, t) in rows if u == url], 6, 2))
    assert sorted(tuple(r) for r in got) == want
    assert not [r for r in got if r.url == "u3"]


# --- dedup ---------------------------------------------------------------------

def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string")
    got = {r.keep_id: r.n_dups for r in dedup.exact_dedup(df).collect()}
    assert got == {1: 2, 3: 1}


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "the quick brown fox jumps"),
         (3, "completely different words here")],
        "doc_id long, text string")
    got = dedup.ngram_jaccard_pairs(df, n=2, threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_minhash_identical_docs_bucket_together(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "xx yy zz qq ww ee rr tt")],
        "doc_id long, text string")
    got = dedup.minhash_lsh_pairs(df, num_hashes=16, bands=4, n=2,
                                  threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]
    assert got[0].est_jaccard == 1.0


def test_hot_shingle_cap_bounds_candidates(spark):
    """Skew guard: one stop-shingle shared by 30% of docs must not
    drive O(hot^2) candidate pairs once the doc-frequency cap is on.

    30 of 100 docs share the 'spam spam spam' shingle but are otherwise
    unique. Uncapped, that one bucket alone emits C(30,2)=435 candidate
    pairs; capped at doc_freq<=5 the shingle is pruned and ZERO pairs
    co-occur. threshold=0.0 surfaces every candidate pair.
    """
    rows = [(i, f"spam spam spam u{i}a u{i}b u{i}c") for i in range(30)]
    rows += [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).count()
    assert uncapped == 435
    capped = dedup.ngram_jaccard_pairs(
        df, n=3, threshold=0.0, max_shingle_doc_freq=5).count()
    assert capped == 0
    # minhash path: pruning the stop-shingle must not create pairs
    # between otherwise-unique docs, and docs left with zero shingles
    # simply drop out (no crash on empty shingle sets)
    mh = dedup.minhash_lsh_pairs(df, num_hashes=16, bands=4, n=3,
                                 threshold=0.5, max_shingle_doc_freq=5)
    assert mh.count() == 0


def test_hot_shingle_cap_keeps_real_near_dups(spark):
    """The cap prunes ONLY shingles above the frequency bound: genuine
    near-dup pairs built from low-frequency shingles survive with the
    identical jaccard value."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta zeta"),
         (3, "one two three four five")],
        "doc_id long, text string")
    base = {(r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                df, n=2, threshold=0.3).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in dedup.ngram_jaccard_pairs(
                  df, n=2, threshold=0.3,
                  max_shingle_doc_freq=5).collect()}
    assert base == capped and (1, 2) in base


def test_simhash_lsh_complete_vs_bruteforce(spark):
    """Banding must find EVERY pair within max_hamming (pigeonhole)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    sh = dedup.simhash(docs, bits=32).collect()
    brute = set()
    for i, a in enumerate(sh):
        for b in sh[i + 1:]:
            ham = bin(a.simhash ^ b.simhash).count("1")
            if ham <= 5:
                key = (min(a.id, b.id), max(a.id, b.id))
                brute.add(key + (ham,))
    got = {(r.id_a, r.id_b, r.hamming)
           for r in dedup.simhash_near_pairs(docs, bits=32,
                                             max_hamming=5).collect()}
    assert got == brute


# --- similarity -----------------------------------------------------------------

def test_lsh_topk_subset_of_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qdf = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, qdf, k=3).collect()
    approx = similarity.lsh_topk(emb, qdf, k=3, dim=64, n_planes=6,
                                 n_tables=4).collect()
    assert {r.query_id for r in exact} == {0, 1, 2}
    # approximate neighbors are real rows with correct cosine values
    exact_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    approx_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in approx}
    for k_, v in approx_cos.items():
        if k_ in exact_cos:
            assert v == exact_cos[k_]
    # recall sanity: LSH with 4 tables finds at least one true top-3
    hits = sum(1 for k_ in approx_cos if k_ in exact_cos)
    assert hits >= 1


def test_near_dup_lsh_subset_of_allpairs(spark):
    """The bucketed near-dup returns a subset of the exact all-pairs
    result with IDENTICAL cosine values (all-pairs is the pytest-only
    oracle; it never runs in the driver queries or at scale)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(
        F.col("vec_id") < 200)
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in similarity.embedding_near_dup_pairs(
                 emb, threshold=0.35).collect()}
    approx = {(r.id_a, r.id_b): r.cos_sim
              for r in similarity.embedding_near_dup_lsh(
                  emb, threshold=0.35, dim=64, n_planes=4,
                  n_tables=6).collect()}
    assert approx, "LSH near-dup found no pairs at all"
    for pair, v in approx.items():
        assert pair in exact and v == exact[pair], pair
    # recall sanity at this config (not a tight bound; catches breakage)
    assert len(approx) >= len(exact) * 0.3, (len(approx), len(exact))


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id long, embedding array<double>")
    got = df.select(F.round(similarity.cosine("embedding", "embedding"), 6)
                    .alias("c")).first().c
    assert got == 1.0


# --- skew ------------------------------------------------------------------------

def test_salted_host_stats_equals_direct(spark):
    from historicaldatadocumentparsersystem_spark import fixtures
    docs = fixtures.corpus_df(spark, 300, num_partitions=8)
    salted = {(r.host): r.n_docs
              for r in skew.salted_host_stats(docs).collect()}
    direct = {r.host: r.n
              for r in docs.groupBy(
                  skew.host_of().alias("host"))
              .agg(F.count("*").alias("n")).collect()}
    assert salted == direct
    assert salted["hot.example.com"] / 300 > 0.25  # skew present


def test_salt_bounds_partition_skew(spark):
    """Salted composite key splits the hot host across reducers."""
    from historicaldatadocumentparsersystem_spark import fixtures
    docs = fixtures.corpus_df(spark, 400, num_partitions=8)
    parts = (docs.withColumn("host", skew.host_of())
             .withColumn("salt", skew.salted_key("url", 16))
             .groupBy("host", "salt").count().collect())
    hot = [r["count"] for r in parts if r.host == "hot.example.com"]
    assert len(hot) >= 8                     # hot host spread over salts
    assert max(hot) <= 0.3 * sum(hot)        # no salt owns the host


# --- multimodal plumbing -----------------------------------------------------------

def test_media_decode_stub_plumbing(spark):
    rows = [("m1", b"\xff\xd8\xff\xe0 jpeg bytes"),
            ("m2", b"\x89PNG\r\n\x1a\n rest"),
            ("m3", b""), ("m4", b"GIF89a...")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r.media_id: r for r in multimodal.decode_media(df).collect()}
    assert got["m1"].media_kind == "jpeg"
    assert got["m2"].media_kind == "png"
    assert got["m4"].media_kind == "gif"
    assert got["m3"].media_kind == "unknown"
    assert got["m3"].width is None           # stub: empty -> no dims
    assert got["m1"].width and got["m1"].height  # deterministic fake dims
    again = {r.media_id: (r.width, r.height)
             for r in multimodal.decode_media(df).collect()}
    assert again["m1"] == (got["m1"].width, got["m1"].height)


def test_image_header_dimensions_roundtrip():
    """REAL codec-free dimension parse: synthesized container headers
    round-trip exactly for PNG/GIF/JPEG; garbage/truncated -> None."""
    for maker, w, h in [(multimodal.make_png, 640, 480),
                        (multimodal.make_png, 16384, 1),
                        (multimodal.make_gif, 320, 200),
                        (multimodal.make_gif, 65535, 7),
                        (multimodal.make_jpeg, 1024, 768),
                        (multimodal.make_jpeg, 1, 33)]:
        assert multimodal.parse_image_dimensions(maker(w, h)) == (w, h)
    assert multimodal.parse_image_dimensions(b"junk") is None
    assert multimodal.parse_image_dimensions(
        multimodal.make_png(9, 9)[:20]) is None  # truncated IHDR
    assert multimodal.parse_image_dimensions(b"\xff\xd8\xff") is None


def test_image_header_dimensions_webp_bmp_ico_tiff():
    """Header-only dims for the wider container set: WebP's three
    bitstream layouts, BMP info/core headers (top-down abs), ICO's
    0-means-256 bytes, TIFF IFD walk in both byte orders and at a
    displaced IFD offset."""
    import struct
    pid = multimodal.parse_image_dimensions
    for maker, w, h in [(multimodal.make_webp_vp8, 800, 600),
                        (multimodal.make_webp_vp8l, 1, 16383),
                        (multimodal.make_webp_vp8x, 16384, 2),
                        (multimodal.make_bmp, 1920, 1080),
                        (multimodal.make_ico, 32, 32),
                        (multimodal.make_tiff, 4000, 3000)]:
        assert pid(maker(w, h)) == (w, h)
    assert pid(multimodal.make_bmp(64, -48)) == (64, 48)  # top-down
    assert pid(multimodal.make_ico(0, 0)) == (256, 256)
    assert pid(multimodal.make_tiff(17, 9, big_endian=True)) == (17, 9)
    assert pid(multimodal.make_tiff(5, 6, ifd_offset=40)) == (5, 6)
    # validity guards -> None (fake-dims path downstream)
    bad_sync = bytearray(multimodal.make_webp_vp8(800, 600))
    bad_sync[23] = 0x00
    assert pid(bytes(bad_sync)) is None
    assert pid(multimodal.make_webp_vp8(800, 600)[:24]) is None
    assert pid(b"\x00\x00\x01\x00\x00\x00" + b"\x00" * 16) is None
    assert pid(b"II*\x00" + struct.pack("<I", 9999)) is None
    assert pid(b"RIFF1234WAVEfmt ") is None


def test_media_sniff_riff_fourcc_dispatch(spark):
    """RIFF payloads dispatch on the byte-8 fourcc in BOTH the column
    expression and the Python batch sniff; unknown fourcc stays
    unknown; the new magic families sniff to their kinds."""
    rows = [("a", b"RIFF1234WEBPVP8 "), ("b", b"RIFF1234WAVEfmt "),
            ("c", b"RIFF1234JUNKxxxx"), ("d", b"BM\x36\x00\x00\x00xx"),
            ("e", b"\x00\x00\x01\x00\x01\x00"), ("f", b"II*\x00xxxx"),
            ("g", b"MM\x00*xxxx"), ("h", b"")]
    want = {"a": "webp", "b": "wav", "c": "unknown", "d": "bmp",
            "e": "ico", "f": "tiff", "g": "tiff", "h": "unknown"}
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r.media_id: r.k for r in df.select(
        "media_id",
        multimodal.sniff_media_kind_col().alias("k")).collect()}
    assert got == want
    for mid, payload in rows:
        assert multimodal._sniff_media_kind_py(payload) == want[mid]


def test_picture_class_filter_f3(spark):
    rows = [
        (1, [("bar_chart", 0.9), ("other", 0.1)]),          # keep
        (2, [("logo", 0.95), ("bar_chart", 0.05)]),          # drop: allowed
                                                             # class past 0.8
        (3, [("map", 0.5), ("logo", 0.5)]),                  # keep
    ]
    df = spark.createDataFrame(
        rows, "id long, classes array<struct<name:string, conf:double>>")
    got = sorted(r.id for r in multimodal.filter_allowed_classes(
        df, "classes", ["pie_chart", "bar_chart", "map", "flow_chart",
                        "line_chart", "other"]).collect())
    assert got == [1, 3]


# --- keyword sections ------------------------------------------------------------

def test_keyword_sections_f4_a2(spark):
    rows = [("d1", 2, "contains merge keyword"),
            ("d1", 1, "also a window here"),
            ("d1", 3, "nothing relevant"),
            ("d2", 1, "no match at all")]
    df = spark.createDataFrame(rows, "url string, pos int, text string")
    got = keywords.keyword_sections(df, ["merge", "window"],
                                    group_col="url", order_col="pos")
    out = {r.url: r.joined for r in got.collect()}
    assert out == {"d1": "also a window here\n\ncontains merge keyword"}


# --- span / bbox algebra -----------------------------------------------------------

def test_remove_nested_largest_wins(spark):
    df = spark.createDataFrame(
        [("u", 1, 0.0, 0.0, 10.0, 10.0, "big"),
         ("u", 1, 1.0, 1.0, 2.0, 2.0, "small"),
         ("u", 2, 1.0, 1.0, 2.0, 2.0, "otherpage")],
        "url string, page int, x0 double, y0 double, x1 double, "
        "y1 double, kind string")
    got = sorted((r.kind) for r in
                 spans.remove_nested_bboxes(df).collect())
    assert got == ["big", "otherpage"]


def test_binned_overlap_join_equals_theta_join(spark):
    """Grid binning must find EXACTLY the theta-join's overlap pairs,
    for any cell size (multi-cell duplicates deduped, none missed)."""
    import random
    rng = random.Random("overlap:42")
    rows = []
    for i in range(120):
        x0 = rng.uniform(0, 400); y0 = rng.uniform(0, 300)
        rows.append((f"u{i % 3}", 1 + i % 2, x0, y0,
                     x0 + rng.uniform(1, 120), y0 + rng.uniform(1, 90),
                     f"k{i}"))
    df = spark.createDataFrame(
        rows, "url string, page int, x0 double, y0 double, x1 double, "
              "y1 double, kind string")
    naive = {tuple(r) for r in
             spans.naive_overlapping_bbox_pairs(df).collect()}
    assert naive  # dense enough to overlap
    for cell in (25.0, 80.0, 500.0):
        binned = {tuple(r) for r in
                  spans.overlapping_bbox_pairs(df, cell=cell).collect()}
        assert binned == naive, f"cell={cell}"


def test_asof_join_tie_rule_deterministic(spark):
    """Right rows sharing (key, time): the greatest value tuple wins —
    pinned so the pick cannot drift with shuffle order."""
    from historicaldatadocumentparsersystem_spark.operators import asof
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, 7.0), (1, 9, 99.0)],
        "k int, t int, v double")
    got = asof.asof_join(left, right, key="k", time_col="t",
                         value_cols=["v"]).collect()
    assert len(got) == 1 and got[0].asof_v == 7.0


def test_rollup_cascade_equals_direct(spark):
    """Hypertable invariant: hour-from-minutes == hour-from-raw, and
    day-from-hours == day-from-raw (decomposable merge correctness)."""
    from historicaldatadocumentparsersystem_spark.operators import rollup
    ev = spark.read.parquet(f"{SF}/events.parquet")
    minute, hour, day = rollup.cascade(
        ev, lengths=("1 minute", "1 hour", "1 day"))

    def snap(df):
        return {(r.bucket_start, r.key):
                (r.n, round(r.total, 6), r.vmin, r.vmax)
                for r in df.collect()}

    direct_hour = rollup.finest_rollup(ev, length="1 hour")
    direct_day = rollup.finest_rollup(ev, length="1 day")
    assert snap(hour) == snap(direct_hour)
    assert snap(day) == snap(direct_day)
    assert minute.count() >= hour.count() >= day.count()


# --- webtext corpus-curation ops ----------------------------------------------

def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"          # one exact 8-word line
    rows = [(i, boiler + f" uniq{i}a uniq{i}b") for i in range(4)]
    rows.append((9, "solo a b c d e f g"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in webtext.line_dedup(
        df, max_doc_freq=2).collect()}
    # boilerplate line occurs in 4 > 2 docs -> removed everywhere
    for i in range(4):
        assert out[i]["n_lines"] == 2 and out[i]["n_kept"] == 1
        assert out[i]["text_kept"] == f"uniq{i}a uniq{i}b"
    # unique doc untouched
    assert out[9]["n_kept"] == 1 and out[9]["text_kept"].startswith("solo")


def test_host_boilerplate_strip_is_per_host(spark):
    """The SAME line is stripped on the host where it exceeds pct of
    docs and kept on the host where it does not — the per-host rule
    global line_dedup cannot express (globally the line is in 5 docs)."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    tmpl = "n1 n2 n3 n4 n5 n6 n7 n8"
    rows = ([(i, "hostA", tmpl + f" a{i}x a{i}y") for i in range(4)]
            + [(10, "hostB", tmpl + " b0x b0y"),
               (11, "hostB", "other words here b1x b1y quite different")])
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    out = {r["doc_id"]: r for r in webtext.host_boilerplate_strip(
        df, pct=50, min_host_docs=2).collect()}
    for i in range(4):           # hostA: 4/4 docs > 50% -> stripped
        assert out[i]["n_lines"] == 2 and out[i]["n_kept"] == 1
        assert out[i]["text_kept"] == f"a{i}x a{i}y"
    # hostB: 1/2 docs = 50%, not > 50% -> the identical line survives
    assert out[10]["n_kept"] == 2 and tmpl in out[10]["text_kept"]
    assert out[11]["n_kept"] == 1


def test_crawl_delta_statuses(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "gone")],
        "url string, text string")
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u4", "fresh")],
        "url string, text string")
    rows = webtext.crawl_delta(old, new).collect()
    out = {r["url"]: r["status"] for r in rows}
    assert out == {"u1": "unchanged", "u2": "changed",
                   "u3": "deleted", "u4": "added"}
    hashes = {r["url"]: r["content_hash"] for r in rows}
    assert hashes["u3"] is None and hashes["u4"] is not None


def test_bm25_scores_rank_and_coverage(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [(1, "spark spark spark join"),
            (2, "spark alone here today"),
            (3, "nothing relevant at all"),
            (4, "join window join window spark")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in webtext.bm25_scores(
        df, ["spark", "join", "window"]).collect()}
    assert set(out) == {1, 2, 4}          # non-matching doc absent
    assert out[4]["n_terms"] == 3 and out[1]["n_terms"] == 2
    assert out[4]["bm25"] > out[2]["bm25"] > 0


def test_bm25_final_round_tie_parity(spark):
    """r4 driver red row regression: a per-doc DECIMAL(20,9) score sum
    landing EXACTLY on a .5 tie at the 7th digit (sf0.01 doc 336:
    1.037824500) must round identically in Spark and DuckDB. The fix
    rounds IN DECIMAL SPACE (HALF_UP both engines) before the double
    cast; the old cast-then-round pattern disagreed (Spark rounds the
    shortest decimal repr "1.0378245" HALF_UP -> ...25 while DuckDB
    rounds the binary double, slightly below the tie -> ...24)."""
    import duckdb
    # sum = 1.000002500 exactly: DuckDB's double round multiplies by
    # 10^6 in binary and 1.0000025 * 1e6 = 1000002.4999999999 — below
    # the half — so the old cast-then-round pattern gives 1.000002
    # there while Spark rounds the shortest repr "1.0000025" HALF_UP
    # to 1.000003: a verified-biting vector
    vals = ["0.500001250", "0.500001250"]
    from decimal import Decimal
    df = spark.createDataFrame([(Decimal(v),) for v in vals],
                               "s decimal(20,9)")
    new = df.agg(F.round(F.sum("s"), 6).cast("double")
                 .alias("bm25")).collect()[0]["bm25"]
    sql_vals = ", ".join(f"('{v}'::decimal(20,9))" for v in vals)
    con = duckdb.connect()
    d_new = con.execute(
        f"SELECT round(sum(s), 6)::double FROM (VALUES {sql_vals}) "
        "t(s)").fetchone()[0]
    assert new == d_new == 1.000003         # HALF_UP at the tie
    # the tie is real: the old pattern's two engines disagree on it
    old_spark = df.agg(
        F.round(F.sum("s").cast("double"), 6).alias("b")
    ).collect()[0]["b"]
    old_duck = con.execute(
        f"SELECT round(sum(s)::double, 6) FROM (VALUES {sql_vals}) "
        "t(s)").fetchone()[0]
    assert old_spark != old_duck            # proves the vector bites
    con.close()


def test_domain_mixture_flattens_head_domain(spark):
    """900/100 skew at target 0.5: sqrt shares are 0.75/0.25, so the
    tail domain's quota (0.5*1000*0.25 = 125 > 100) caps at rate 1
    (kept whole) while the head samples at ~0.417."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = ([(i, "big") for i in range(900)]
            + [(i, "small") for i in range(900, 1000)])
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = webtext.domain_mixture_sample(df, target_frac=0.5).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], set()).add(r["doc_id"])
    assert len(by_dom["small"]) == 100          # rate capped at 1
    frac_big = len(by_dom["big"]) / 900
    assert 0.33 < frac_big < 0.50               # ~0.417 expected
    # determinism: same input -> identical sample set
    again = {r["doc_id"] for r in webtext.domain_mixture_sample(
        df, target_frac=0.5).collect()}
    assert again == by_dom["big"] | by_dom["small"]


def test_inverted_index_caps_postings(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "Alpha only")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["term"]: r for r in webtext.inverted_index(
        df, max_postings=2).collect()}
    a = out["alpha"]
    assert (a["df_t"], a["n_total"]) == (2, 3)     # exact despite the cap
    assert a["n_postings"] == 2 and a["postings"] == "1:1,1:3"
    assert out["gamma"]["postings"] == "2:2"
    assert out["only"]["df_t"] == 1                # lowercased 'Alpha' merged


def test_gopher_rules_branches(spark):
    """Every Gopher rule fires on a purpose-built doc; the good doc
    passes all seven. Thresholds are integer cross-multiplied, so the
    boundary docs sit exactly ON the published ratio limits."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    good = ("the cat and the dog have fun with all of that today. " * 5
            + "more plain words here to cross fifty total easily okay "
            * 3)
    rows = [
        ("good", good),
        ("short", "the and of tiny doc"),                 # < 50 words
        ("longwords", " ".join(["the", "and"] + [
            "supercalifragilistic"] * 60)),               # mean len > 10
        ("symbols", "the and " + "# " * 20 + "word " * 50),  # ratio > .1
        ("bullets", "the and words here fine.\n"
         + "\n".join("- item" for _ in range(9))),        # > 10% bullets
        ("ellipsis", "the and more...\nalso trailing…  \nplain line"),
        ("nonalpha", "the and " + "123 456 " * 40),       # < 80% alpha
        ("nostop", " ".join(f"w{i}" for i in range(60))),  # < 2 stopwords
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["id"]: r for r in
           webtext.gopher_rules(df, id_col="url").collect()}
    assert got["good"]["keep"] is True
    assert got["short"]["r_word_count"] is False
    assert got["longwords"]["r_mean_word_len"] is False
    assert got["symbols"]["r_symbol_ratio"] is False
    assert got["bullets"]["r_bullet_lines"] is False
    assert got["ellipsis"]["r_ellipsis_lines"] is False  # 2 of 3 lines
    assert got["ellipsis"]["n_ellipsis_lines"] == 2      # …-with-spaces too
    assert got["nonalpha"]["r_alpha_words"] is False
    assert got["nostop"]["r_stop_words"] is False
    for bad in ("short", "longwords", "symbols", "bullets",
                "nonalpha", "nostop"):
        assert got[bad]["keep"] is False


def test_c4_line_filter_branches(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    keepable = ("One good sentence with enough words here.\n"
                "Another proper sentence that also qualifies!\n"
                'A third line ending in a quote mark?"\n')
    rows = [
        ("good", keepable + "short one.\nno terminal punct at all"),
        ("js", keepable.replace("Another", "javascript Another")),
        ("lorem", keepable + "this page has Lorem Ipsum filler."),
        ("brace", keepable + "function() { return 1; } and more."),
        ("crlf", "Ends with punct then carriage return.\r\n"
         "Another full sentence right here too.\r\n"
         "And a third proper sentence as well."),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["id"]: r for r in
           webtext.c4_line_filter(df, id_col="url").collect()}
    g = got["good"]
    assert g["keep"] is True and g["n_kept"] == 3 and g["n_lines"] == 5
    assert g["clean_text"] == keepable.rstrip("\n")
    # a javascript line is dropped -> only 2 survivors -> doc dropped
    assert got["js"]["n_kept"] == 2 and got["js"]["keep"] is False
    assert got["lorem"]["keep"] is False   # case-insensitive lorem ipsum
    assert got["brace"]["keep"] is False   # curly brace
    # \r-terminated lines do NOT count as punctuation-terminated (the
    # last-char compare sees '\r' — pinned so the RE2/Java '$' trap
    # can't silently reappear); the bare-LF third line survives
    c = got["crlf"]
    assert c["n_kept"] == 1 and c["keep"] is False


def test_url_normalize_edge_rules(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.createDataFrame(
        [("a", "HTTP://X.Com:80"), ("b", "https://y.io:443/p#f"),
         ("c", "http://z.org:8080/"), ("d", "https://w.net/")],
        "row_id string, url string")
    got = {r["row_id"]: r for r in webtext.normalize_urls(df).collect()}
    assert got["a"]["url_norm"] == "http://x.com"          # default port
    assert got["b"]["url_norm"] == "https://y.io/p"        # 443 + fragment
    assert got["c"]["url_norm"] == "http://z.org:8080"     # root slash only
    assert got["d"]["url_norm"] == "https://w.net"
    assert got["c"]["host"] == "z.org" and got["c"]["domain"] == "z.org"


def test_url_domain_public_suffix(spark):
    """eTLD+1 via the trimmed PSL: multi-label public suffixes must not
    collapse a whole ccTLD hierarchy into one pseudo-domain."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    cases = [
        ("a", "https://sub.example.co.uk/x", "example.co.uk"),
        ("b", "https://shop.news.com.au/x", "news.com.au"),
        ("c", "http://www.example.com/x", "example.com"),
        ("d", "https://deep.a.b.example.co.jp/", "example.co.jp"),
        ("e", "http://www.school.k12.ca.us/", "school.k12.ca.us"),
        ("f", "https://dept.vic.edu.au/", "dept.vic.edu.au"),
        ("g", "https://co.uk/", ""),            # host IS a public suffix
        ("h", "http://localhost/x", ""),        # single label: no eTLD+1
        ("i", "https://x.gob.mx/", "x.gob.mx"),
    ]
    df = spark.createDataFrame([(r, u) for r, u, _ in cases],
                               "row_id string, url string")
    got = {r["row_id"]: r["domain"]
           for r in webtext.normalize_urls(df).collect()}
    for rid, _, want in cases:
        assert got[rid] == want, (rid, got[rid], want)


def test_bpe_token_stats_matches_pure_oracle(spark):
    """The Arrow-batched BPE counter must equal the Spark-free pure
    tokenizer on every document (repo invariant: extractor-side code IS
    the oracle), and behave like a tokenizer: common English merges to
    ~2 tokens/word, gibberish stays near character count."""
    from historicaldatadocumentparsersystem_spark.extractor import bpe
    from historicaldatadocumentparsersystem_spark.operators import textstats
    docs = spark.read.parquet(SF + "/documents.parquet") \
        .select("doc_id", "text").limit(120)
    got = {r.doc_id: r.n_bpe_real
           for r in textstats.bpe_token_stats(docs).collect()}
    for row in docs.collect():
        assert got[row.doc_id] == bpe.token_count(row.text), row.doc_id
    eng = "the cat and the dog are in the garden with the other animals"
    gib = "xq zv qqj wkx zzv jqx vvq kzj xqw jzx qvk wxz"
    assert bpe.token_count(eng) / len(eng.split()) < 2.5
    assert bpe.token_count(gib) / len(gib.split()) > 3.0


def test_bpe_loader_roundtrip_and_identity():
    """load_merges parses all three production formats; a BPETokenizer
    over the committed table is byte-identical to the module-level
    functions on fixture text (budgets unchanged by the refactor)."""
    from historicaldatadocumentparsersystem_spark.extractor import bpe
    from historicaldatadocumentparsersystem_spark.fixtures import (
        generate_rows)
    tok_json = {"model": {"type": "BPE",
                          "merges": [f"{a} {b}" for a, b in bpe.MERGES]}}
    pair_json = {"merges": [[a, b] for a, b in bpe.MERGES]}
    merges_txt = "#version: 0.2\n" + "\n".join(
        f"{a} {b}" for a, b in bpe.MERGES)
    for src in (tok_json, pair_json, merges_txt):
        assert bpe.load_merges(src) == bpe.MERGES
    tok = bpe.BPETokenizer(bpe.load_merges(tok_json))
    for row in generate_rows(30):
        text = row["text"]
        assert tok.token_count(text) == bpe.token_count(text)


def test_bpe_swapped_vocab_chunk_budgets(spark):
    """Chunk budgets are tokenizer-exact under a LOADED production-style
    vocab: the Spark fold with a swapped BPETokenizer equals the pure
    oracle with the same tokenizer, and differs from the committed
    table where the vocabs disagree."""
    import pickle

    from historicaldatadocumentparsersystem_spark.extractor import bpe
    from historicaldatadocumentparsersystem_spark.operators import chunking

    # a deliberately tiny vocab: only 'th'+'e' merges — every other
    # word stays near character count, so budgets shift vs committed
    swapped = bpe.BPETokenizer(bpe.load_merges(
        {"model": {"merges": ["t h", "th e", "the </w>"]}}))
    assert pickle.loads(pickle.dumps(swapped)).merges == swapped.merges

    rows = [("u1", 1, p, f"the spark engine chunk number {p} extends")
            for p in range(6)] + \
           [("u2", 1, 0, "the " * 40)]  # oversize element under swap
    df = spark.createDataFrame(rows, "url string, page int, pos int, "
                                     "text string")
    got = sorted(
        (r.url, r.chunk_id, r.page, r.text, r.n_tokens)
        for r in chunking.chunk_by_token_budget(
            df, max_tokens=24, overlap=4,
            counter=swapped.word_cost).collect())
    want = []
    for url in ("u1", "u2"):
        els = [(p, pos, t) for u, p, pos, t in rows if u == url]
        for cid, page, text, n in chunking.chunk_elements(
                els, 24, 4, counter=swapped.word_cost):
            want.append((url, cid, page, text, n))
    assert got == sorted(want)
    # swapped budgets actually differ from the committed table's
    committed = sorted(
        (r.url, r.chunk_id, r.page, r.text, r.n_tokens)
        for r in chunking.chunk_by_token_budget(
            df, max_tokens=24, overlap=4, counter="bpe").collect())
    assert got != committed


def test_lang_id_trigram_matches_r5_pipeline(spark):
    """r6: the one-map-stage trigram counter must return the SAME
    rows as the r5 explode + broadcast-join + window pipeline (kept
    as _trigram_top2_r5) — on the real corpus AND on adversarial
    fixtures (non-ASCII, astral chars, ties, null/short text)."""
    from historicaldatadocumentparsersystem_spark.operators import textstats
    docs = spark.read.parquet(SF + "/documents.parquet")
    new = sorted(map(tuple, textstats._trigram_top2(
        docs, "text", "doc_id", 256).collect()))
    old = sorted(map(tuple, textstats._trigram_top2_r5(
        docs, "text", "doc_id", 256).collect()))
    assert new == old
    rows = [(1, "der hund und die katze der der und"),
            (2, "le chien est dans le jardin"),
            (3, None), (4, ""), (5, "ab"), (6, "abc"),
            (7, "ßİΣ der und die 世界"),
            (8, "\U0001F600 the and is \U0001F600 der und"),
            (9, "THE AND IS DER UND DIE LE EST LES"),
            (10, "x" * 500 + " the and")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nw = sorted(map(tuple, textstats._trigram_top2(
        df, "text", "doc_id", 256).collect()))
    od = sorted(map(tuple, textstats._trigram_top2_r5(
        df, "text", "doc_id", 256).collect()))
    assert nw == od


def test_lang_id_trigram_mixed_languages(spark):
    """Accuracy pin on mixed-language fixtures: the trigram profiles
    must separate the four languages and surface the no-evidence case,
    which the 7-stopword heuristic could not do on short texts."""
    from historicaldatadocumentparsersystem_spark.operators import textstats
    rows = [
        (1, "the quick brown fox is in the garden and it is not there",
         "en"),
        (2, "le chien est dans le jardin et il mange une pomme avec les "
            "enfants", "fr"),
        (3, "el perro esta en el jardin y come una manzana con los amigos",
         "es"),
        (4, "der hund ist in dem garten und er isst einen apfel mit den "
            "kindern", "de"),
        (5, "zzz qqq xxx", "unknown"),
        (6, "", "unknown"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               "doc_id long, text string")
    got = {r.doc_id: (r.lang_pred, r.n_hits)
           for r in textstats.lang_id_trigram(df).collect()}
    for i, _, want in rows:
        assert got[i][0] == want, (i, got[i], want)
    assert got[5][1] == 0 and got[6][1] == 0


def test_stratified_sample_rates_and_determinism(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.read.parquet(SF + "/documents.parquet")
    rates = {"en": 0.5, "fr": 1.0}
    a = webtext.stratified_sample(df, "lang", rates)
    b = webtext.stratified_sample(df.repartition(7), "lang", rates)
    ra = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    assert ra == sorted(r["doc_id"] for r in b.select("doc_id").collect())
    langs = {r["lang"] for r in a.select("lang").distinct().collect()}
    assert langs <= {"en", "fr"}          # absent strata dropped
    fr_in = df.where(F.col("lang") == "fr").count()
    fr_out = a.where(F.col("lang") == "fr").count()
    assert fr_in == fr_out                # rate 1.0 keeps all


def test_connected_components_known_graph(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 10)],
        "id_a long, id_b long")
    cc = {r["node"]: r["component"]
          for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10}
    summary = {r["component"]: (r["n_members"], r["keep_id"])
               for r in dedup.dedup_clusters(pairs).collect()}
    assert summary == {1: (3, 1), 7: (2, 7), 10: (3, 10)}


def test_connected_components_long_chain_converges(spark):
    # a path graph needs ~diameter rounds; prove the loop converges
    n = 17
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")
    cc = dedup.connected_components(pairs)
    comps = {r["component"] for r in cc.collect()}
    assert comps == {0} and cc.count() == n + 1


def _union_find_labels(edges):
    """Pure-Python reference: node -> min node of its component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_connected_components_matches_union_find(spark, id_type):
    """Labels equal a pure-Python union-find on seeded random graphs,
    whether a component lies in one partition or spans several (the
    min-label rounds finish what the per-partition contraction
    leaves), and ids keep their input type."""
    import random
    from pyspark.sql.types import IntegerType, LongType
    rng = random.Random(f"cc-{id_type}")
    # three random graphs on disjoint id ranges, sparse to dense
    edges = [(off + rng.randrange(n_nodes), off + rng.randrange(n_nodes))
             for off, n_nodes, n_edges in ((0, 20, 14), (100, 30, 20),
                                           (200, 12, 16))
             for _ in range(n_edges)]
    rng.shuffle(edges)
    want = _union_find_labels(edges)
    for n_parts in (1, 3, len(edges)):
        pairs = spark.sparkContext.parallelize(edges, n_parts).toDF(
            f"id_a {id_type}, id_b {id_type}")
        cc = dedup.connected_components(pairs)
        assert [f.dataType for f in cc.schema.fields] == \
            [IntegerType() if id_type == "int" else LongType()] * 2
        got = {r.node: r.component for r in cc.collect()}
        assert got == want, n_parts


def test_connected_components_raises_when_not_converged(spark):
    # one edge per partition: the contraction leaves a path that needs
    # many rounds, so one round cannot converge
    pairs = spark.sparkContext.parallelize(
        [(i, i + 1) for i in range(12)], 12).toDF("id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge within 1"):
        dedup.connected_components(pairs, max_iter=1)


def test_dedup_clusters_job_count(spark):
    """The dedup_clusters query runs a fixed number of Spark jobs on
    the sf fixture: near-pair stages, the contraction checkpoint and
    one confirming label round. A change in the number of rounds (or
    a count() per round) changes it."""
    import __spark_entry__ as entry
    sc = spark.sparkContext
    build = entry._all_queries()["dedup_clusters"]
    group = "test-dedup-clusters-jobs"
    sc.setJobGroup(group, "dedup_clusters job count")
    try:
        build(spark, SF).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 12


def test_kmeans_separates_obvious_groups(spark):
    """Two well-separated point clouds in 2-D, k=2: iteration must pull
    the second centroid (init = vec 1, still inside group A) over to
    group B, so membership ends exactly by group — init alone would
    split group A. Ties/argmin: lowest cid wins (checked via the
    equidistant point)."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    a = [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)]          # near origin
    b = [(10 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)]   # far corner
    df = spark.createDataFrame(a + b, "vec_id int, embedding array<float>")
    out = {r["vec_id"]: r for r in clustering.kmeans_assign(
        df, k=2, n_iter=3).collect()}
    groups = {c: {v for v, r in out.items() if r["cluster"] == c}
              for c in {r["cluster"] for r in out.values()}}
    assert sorted(len(g) for g in groups.values()) == [5, 5]
    assert {v for g in groups.values() for v in g if v < 10} in (
        set(groups[0]), set(groups[1]))
    assert all(r["l2_dist"] < 1.0 for r in out.values())


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k=3 on 3 identical-ish + distinct points where one init centroid
    captures nothing after iteration 1: the operator must not crash and
    every vector still gets a cluster."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.05, 0.0]),
         (3, [9.0, 9.0])],
        "vec_id int, embedding array<float>")
    out = clustering.kmeans_assign(df, k=3, n_iter=2).collect()
    assert len(out) == 4
    assert all(r["cluster"] in (0, 1, 2) for r in out)


def test_semantic_dedup_drops_within_cluster_near_dup(spark):
    """Two near-identical vectors land in one cluster: the higher id is
    dropped; a far-away vector in another cluster survives even though
    its cosine to nothing is checked cross-cluster."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]),
         (3, [-1.0, 0.0, 0.0]), (4, [-0.999, -0.02, 0.0])],
        "vec_id int, embedding array<float>")
    out = {r["vec_id"]: r for r in clustering.semantic_dedup(
        df, k=2, n_iter=2, threshold=0.9).collect()}
    assert out[1]["kept"] and not out[2]["kept"]      # lower id kept
    assert out[3]["kept"] and not out[4]["kept"]
    assert out[1]["cluster"] != out[3]["cluster"]


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs sharing the target's bigrams must out-score docs that don't
    — the importance-resampling ordering DSIR exists for."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat " * 3) for i in range(3)],
        "doc_id int, text string")
    corpus = spark.createDataFrame(
        [(1, "the cat sat on the mat quietly today"),
         (2, "stock market indices fell sharply overnight again"),
         (3, "cat sat on the mat")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in webtext.dsir_weights(
        corpus, target, n_buckets=64).collect()}
    assert out[1]["logratio"] > out[2]["logratio"]
    assert out[3]["logratio"] > out[2]["logratio"]
    assert out[1]["n_bigrams"] == 7


def test_cms_overestimates(spark):
    """CMS point estimates never under-count, and are exact on sparse
    input with w >> distinct."""
    from historicaldatadocumentparsersystem_spark.operators import sketches
    rows = ([("alpha",)] * 50 + [("beta",)] * 7 + [("gamma",)] * 1)
    df = spark.createDataFrame(rows, "term string")
    sk = sketches.cms_table(df, "term", d=4, w=64)
    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("absent",)], "term string")
    est = {r["term"]: r["est"] for r in sketches.cms_estimate(
        sk, probes, "term", d=4, w=64).collect()}
    assert est["alpha"] >= 50 and est["beta"] >= 7 and est["gamma"] >= 1
    assert est["alpha"] == 50          # w=64, 3 distinct: no collision
    assert est["absent"] == 0


def test_ccnet_ppl_buckets_partition_by_quality(spark):
    """Rare-token (gibberish) docs land in tail, common-word docs in
    head; every doc gets exactly one bucket and bucket sizes respect
    the P25/P75 rule (ties included downward)."""
    from historicaldatadocumentparsersystem_spark.operators import textstats
    common = "the cat sat on the mat and the dog ran"
    rows = ([(i, common) for i in range(6)]
            + [(10 + i, f"zq{i}x wv{i}k jj{i}m qq{i}z pp{i}r") for i in range(2)])
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in textstats.ccnet_ppl_buckets(df).collect()}
    assert len(out) == 8
    assert all(out[i]["ppl_bucket"] == "head" for i in range(6))
    assert all(out[10 + i]["ppl_bucket"] == "tail" for i in range(2))


def test_sequence_packing(spark):
    """Greedy packing: Spark fold == pure fold; no sequence overflows;
    fit docs never split; oversize docs occupy exclusive sequences.
    Concatenation manifest: offsets are contiguous per shard."""
    from historicaldatadocumentparsersystem_spark.operators import packing
    # doc 7 is oversize (>= 64 tokens + EOS); shard = doc_id % 2
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(n)))
            for i, n in enumerate([10, 30, 25, 63, 5, 40, 64, 130, 1, 0])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seq_len = 64

    got = packing.sequence_pack_greedy(df, seq_len=seq_len, n_shards=2)
    by_doc = {r["doc_id"]: r for r in got.collect()}
    assert len(by_doc) == len(rows)
    for shard in (0, 1):
        docs = sorted((i, len(t.split()) + 1) for i, t in rows
                      if i % 2 == shard)
        expect = packing.pack_greedy_fold(docs, seq_len)
        for doc_id, cost, seq_id, n_pieces, seq_used in expect:
            r = by_doc[doc_id]
            assert (r["cost"], r["seq_id"], r["n_pieces"],
                    r["seq_used"]) == (cost, seq_id, n_pieces, seq_used)
            assert r["seq_used"] <= seq_len
            if cost <= seq_len:
                assert r["n_pieces"] == 1
            else:
                assert r["n_pieces"] == -(-cost // seq_len)
    # no two docs share a sequence with an oversize doc
    over = [r for r in by_doc.values() if r["cost"] > seq_len]
    for o in over:
        span = set(range(o["seq_id"], o["seq_id"] + o["n_pieces"]))
        for r in by_doc.values():
            if r["doc_id"] != o["doc_id"] and r["shard"] == o["shard"]:
                assert r["seq_id"] not in span

    offs = packing.sequence_pack_offsets(df, seq_len=seq_len, n_shards=2)
    per_shard = {}
    for r in sorted(offs.collect(), key=lambda r: (r["shard"], r["doc_id"])):
        prev = per_shard.get(r["shard"], 0)
        assert r["start_off"] == prev  # contiguous stream, no gaps
        per_shard[r["shard"]] = prev + r["cost"]
        assert r["first_seq"] == r["start_off"] // seq_len
        assert r["last_seq"] == (r["start_off"] + r["cost"] - 1) // seq_len
        assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1


def test_domain_split_is_domain_disjoint(spark):
    """Every host of one registrable domain (all subdomains) lands in
    the same split; different domains spread across splits; bare
    public-suffix hosts still get a deterministic split."""
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [(i, f"https://sub{i % 5}.site{i % 7}.co.uk/p{i}")
            for i in range(70)]
    rows += [(100 + i, f"https://www.example{i}.com/x") for i in range(30)]
    rows.append((999, "https://co.uk/"))  # host IS a public suffix
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = webtext.domain_split(df).collect()
    by_domain = {}
    for r in out:
        by_domain.setdefault(r["domain"], set()).add(r["split"])
    for dom, splits in by_domain.items():
        assert len(splits) == 1, (dom, splits)
    assert {r["domain"] for r in out if r["doc_id"] < 70} == {
        f"site{k}.co.uk" for k in range(7)}
    assert len({next(iter(s)) for s in by_domain.values()}) > 1
    suffix_row = [r for r in out if r["doc_id"] == 999][0]
    assert suffix_row["domain"] == "" and suffix_row["split"] in (
        "train", "val", "test")


def test_mojibake_repair_udf_matches_pure_function(spark):
    """Spark UDF == pure function on single/double corruption, clean
    accented text (idempotent), CJK, and invalid-tail passthrough."""
    from historicaldatadocumentparsersystem_spark import functions as fn
    cases = ["café déjà vu — naïve", "“quoted” – dash", "日本語テキスト",
             "plain ascii", "Ã invalid tail", "€100 • bullet", ""]
    rows = []
    for i, good in enumerate(cases):
        bad = fn.mojibake_corrupt_str(good)
        rows += [(3 * i, good), (3 * i + 1, bad),
                 (3 * i + 2, fn.mojibake_corrupt_str(bad))]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {r["id"]: r["fixed"] for r in df.select(
        "id", fn.fix_mojibake("s").alias("fixed")).collect()}
    for i, (rid, s) in enumerate(rows):
        assert got[rid] == fn.fix_mojibake_str(s), (rid, s)
    for i, good in enumerate(cases):
        if good not in ("Ã invalid tail",):  # corrupt('Ã...') repairs
            assert got[3 * i] == good
            assert got[3 * i + 1] == good
            assert got[3 * i + 2] == good


def test_incremental_matches_full_recompute(spark):
    """Ingesting a corpus in two batches against the signature store
    yields EXACTLY the one-shot minhash_lsh_pairs result: batch-1
    pairs (emitted at batch-1 time) + batch-2's incremental pairs."""
    from historicaldatadocumentparsersystem_spark.operators import (
        dedup, incremental)
    base = ["the quick brown fox jumps over the lazy dog every day",
            "pack my box with five dozen liquor jugs right now",
            "sphinx of black quartz judge my vow tonight again"]
    rows = []
    for i in range(30):
        t = base[i % 3]
        if i % 5 == 0:
            t += f" variant {i}"
        rows.append((i, t))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.minhash_lsh_pairs(
                df, num_hashes=16, bands=8, n=2, threshold=0.0).collect()}
    assert full, "fixture must produce near-dup pairs"

    b1 = df.where(F.col("doc_id") < 15)
    b2 = df.where(F.col("doc_id") >= 15)
    # batch 1 into an empty store
    empty = incremental.minhash_band_table(
        df.where(F.lit(False)), n=2)
    p1, store1 = incremental.incremental_minhash_pairs(
        b1, empty, n=2, threshold=0.0)
    # batch 2 against batch 1's accumulated store
    p2, _ = incremental.incremental_minhash_pairs(
        b2, store1, n=2, threshold=0.0)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in p1.collect()}
    inc2 = {(r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in p2.collect()}
    assert not set(got) & set(inc2)
    got.update(inc2)
    assert got == full
    # every batch-2 pair touches batch 2; store-store pairs never recur
    assert all(b >= 15 for _, b in inc2)


def test_snapshot_latest_wins_and_tiebreaks(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    import hashlib
    rows = [("u1", 1, "old"), ("u1", 3, "newest"), ("u1", 2, "mid"),
            ("u2", 5, "tie-a"), ("u2", 5, "tie-b"), ("u3", 0, "only")]
    df = spark.createDataFrame(rows, "url string, fetch_ts long, text string")
    got = {r["url"]: r["text"]
           for r in webtext.snapshot_latest(df).collect()}
    tie_winner = max(["tie-a", "tie-b"],
                     key=lambda t: hashlib.md5(t.encode()).hexdigest())
    assert got == {"u1": "newest", "u2": tie_winner, "u3": "only"}

def test_blocklist_gate_distinct_case_insensitive(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [(1, "Window cleaner WINDOW window"),   # 1 distinct hit
            (2, "a clean page"),                   # 0 hits
            (3, "vacuum the Window sill"),         # 2 distinct hits
            (4, "windows are fine")]               # substring, no token hit
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_hits"], r["keep"])
           for r in webtext.blocklist_gate(df, ["window", "vacuum"]).collect()}
    assert got == {1: (1, False), 2: (0, True), 3: (2, False), 4: (0, True)}


def test_url_quality_gates(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [(1, "https://good.example.com/a"),
            (2, "https://spam.co.uk/x"),                       # banned domain
            (3, "https://ok.example.com/login?session=1"),      # 2 soft words
            (4, "https://123456789012.example.com/b"),          # digit-heavy
            (5, "https://sub1.example.com/download")]           # 1 soft word ok
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = webtext.url_quality(df, banned_domains=("spam.co.uk",))
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["keep"] and got[1]["domain"] == "example.com"
    assert not got[2]["keep"] and got[2]["domain"] == "spam.co.uk"
    assert got[3]["n_soft"] == 2 and not got[3]["keep"]
    # host '123456789012.example.com' = 12 digits / 24 chars = 5000 bp
    assert got[4]["digit_bp"] == 5000 and not got[4]["keep"]
    assert got[5]["n_soft"] == 1 and got[5]["keep"]


def test_recrawl_priority_buckets(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = [("hot", 0, "a"), ("hot", 1, "b"), ("hot", 2, "c"),    # changes every fetch
            ("warm", 0, "a"), ("warm", 1, "a"), ("warm", 2, "b"),  # one change / 2 gaps
            ("cold", 0, "a"), ("cold", 1, "a"),                    # never changes
            ("single", 7, "z")]                                    # one fetch
    df = spark.createDataFrame(rows, "url string, fetch_ts long, text string")
    got = {r["url"]: r for r in webtext.recrawl_priority(df).collect()}
    assert got["hot"]["change_bp"] == 10000 and got["hot"]["priority"] == "hot"
    assert got["warm"]["change_bp"] == 5000 and got["warm"]["priority"] == "hot"
    assert got["cold"]["change_bp"] == 0 and got["cold"]["priority"] == "cold"
    assert got["single"]["n_fetches"] == 1 and got["single"]["priority"] == "cold"
    assert got["hot"]["last_ts"] == 2


def test_keep_best_per_cluster_policy(spark):
    from historicaldatadocumentparsersystem_spark.operators import dedup
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 20), (6, 20)],
        "doc_id long, q long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = dedup.keep_best_per_cluster(docs, pairs, F.col("q"))
    got = {r["doc_id"]: (r["component"], r["keep"]) for r in out.collect()}
    # cluster {1,2,3}: doc 2 has the best score
    assert got[1] == (1, False) and got[2] == (1, True) and got[3] == (1, False)
    # singleton 4 is its own component, always kept
    assert got[4] == (4, True)
    # tie on score in {5,6}: lowest id wins
    assert got[5] == (5, True) and got[6] == (5, False)
    # exactly one keeper per component
    kept = [r for r in out.collect() if r["keep"]]
    assert len(kept) == 3


def test_cdc_chunks_cover_and_bounds():
    import hashlib
    import random
    from historicaldatadocumentparsersystem_spark.extractor.cdc import cdc_chunks
    rng = random.Random(42)
    data = bytes(rng.randrange(256) for _ in range(200_000))
    chunks = cdc_chunks(data, min_size=512, avg_size=2048, max_size=8192)
    # exact coverage, in order, no gaps
    pos = 0
    for off, ln, dg in chunks:
        assert off == pos and ln > 0
        assert dg == hashlib.md5(data[off:off + ln]).hexdigest()
        pos += ln
    assert pos == len(data)
    # bounds: every chunk but the last within [min, max]
    for off, ln, _ in chunks[:-1]:
        assert 512 <= ln <= 8192
    assert chunks[-1][1] <= 8192
    assert len(chunks) > 10          # avg-size actually cuts
    # determinism + empty input
    assert cdc_chunks(data, 512, 2048, 8192) == chunks
    assert cdc_chunks(b"") == []


def test_cdc_resynchronizes_after_prefix_edit():
    """The content-defined property fixed-size blocks lack: inserting
    bytes at the front shifts every fixed block, but CDC cut points
    resynchronize, so most block digests survive the edit."""
    import random
    from historicaldatadocumentparsersystem_spark.extractor.cdc import cdc_chunks
    rng = random.Random(7)
    data = bytes(rng.randrange(256) for _ in range(100_000))
    edited = b"INSERTED-PREFIX-BYTES" + data
    d0 = {dg for _, _, dg in cdc_chunks(data, 512, 2048, 8192)}
    d1 = {dg for _, _, dg in cdc_chunks(edited, 512, 2048, 8192)}
    shared = len(d0 & d1)
    assert shared >= 0.8 * len(d0)


def test_cdc_blocks_spark_matches_oracle_and_stats(spark):
    import random
    from historicaldatadocumentparsersystem_spark.extractor.cdc import cdc_chunks
    from historicaldatadocumentparsersystem_spark.operators import dedup
    rng = random.Random(3)
    common = bytes(rng.randrange(256) for _ in range(30_000))
    payloads = {i: bytes(rng.randrange(256) for _ in range(2_000 * i))
                   + common for i in range(1, 5)}
    df = spark.createDataFrame(
        [(i, p) for i, p in payloads.items()],
        "doc_id long, payload binary")
    blocks = dedup.cdc_blocks(df, min_size=512, avg_size=2048,
                              max_size=8192)
    got = {(r["doc_id"], r["block_pos"], r["offset"], r["length"],
            r["block_md5"]) for r in blocks.collect()}
    exp = {(i, pos, off, ln, dg)
           for i, p in payloads.items()
           for pos, (off, ln, dg) in enumerate(
               cdc_chunks(p, 512, 2048, 8192))}
    assert got == exp
    (s,) = dedup.block_dedup_stats(blocks).collect()
    assert s["total_bytes"] == sum(len(p) for p in payloads.values())
    assert s["n_distinct"] < s["n_blocks"]       # shared tail dedups
    assert s["saved_bytes"] == s["total_bytes"] - s["unique_bytes"]
    # the shared 30 KB suffix across 4 docs must reclaim most of 3
    # extra copies (boundary chunks differ, interior ones dedup)
    assert s["saved_bytes"] > 2 * 30_000 * 8 // 10


def test_minhash_calibration_semantics(spark):
    from historicaldatadocumentparsersystem_spark.operators import dedup
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"),          # identical pair (0, 1)
         (1, "a b c d e f g h"),
         (2, "a b c d e f g h"),          # half-overlap pair (2, 3)
         (3, "a b c d x y z w"),
         (4, "p q r s"),                  # disjoint pair (4, 5)
         (5, "t u v w2")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "id_a long, id_b long")
    got = {r["id_a"]: r for r in dedup.minhash_calibration(
        docs, pairs, num_hashes=16, n=2).collect()}
    # identical: estimate and exact both 10000, zero error
    assert (got[0]["n_match"], got[0]["est_bp"], got[0]["exact_bp"],
            got[0]["err_bp"]) == (16, 10000, 10000, 0)
    # half-overlap: 7 shingles each, 3 shared -> J = 3/11 = 2727 bp
    assert got[2]["exact_bp"] == 3 * 10000 // 11
    assert 0 <= got[2]["n_match"] <= 16
    assert got[2]["err_bp"] == abs(got[2]["est_bp"] - got[2]["exact_bp"])
    # disjoint: exact 0; md5 collisions can't happen on these shingles
    assert (got[4]["exact_bp"], got[4]["n_match"]) == (0, 0)


def test_retention_funnel_cumulative_and_nulls(spark):
    import pytest as _pytest
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 10, None), (3, 1, "en"), (4, 10, "zh"),
         (5, None, "en"), (6, 10, "en")],
        "id long, score int, lang string")
    gates = [("score", F.col("score") >= 5),
             ("lang", F.col("lang") == "en")]
    got = {r["stage"]: r for r in webtext.retention_funnel(
        df, gates).collect()}
    # score gate: NULL score (id 5) and low score (id 3) fail -> 4 of 6
    s = got["score"]
    assert (s["stage_idx"], s["n_in"], s["n_out"], s["kept_bp"]) == \
        (1, 6, 4, 6666)
    # lang gate sees only the 4 survivors; NULL lang and zh fail
    la = got["lang"]
    assert (la["stage_idx"], la["n_in"], la["n_out"], la["kept_bp"]) == \
        (2, 4, 2, 5000)
    with _pytest.raises(ValueError):
        webtext.retention_funnel(df, [])


def test_retention_funnel_empty_input(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.createDataFrame([], "id long, score int")
    got = webtext.retention_funnel(
        df, [("g", F.col("score") > 0)]).collect()
    (row,) = got
    assert (row["n_in"], row["n_out"], row["kept_bp"]) == (0, 0, None)


def test_gate_agreement_confusion_cells(spark):
    from historicaldatadocumentparsersystem_spark.operators import quality
    a = spark.createDataFrame(
        [(1, True), (2, True), (3, False), (4, False), (5, True)],
        "doc_id long, keep boolean")
    # integer keep on the b side; id 5 missing -> excluded (inner join)
    b = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (4, 0)], "doc_id long, keep int")
    (r,) = quality.gate_agreement(a, b).collect()
    assert (r["n_docs"], r["n_both_keep"], r["n_a_only"],
            r["n_b_only"], r["n_neither"]) == (4, 1, 1, 1, 1)
    assert r["agree_bp"] == 2 * 10000 // 4


def test_fetch_schedule_politeness_invariants(spark):
    import pytest as _pytest
    from historicaldatadocumentparsersystem_spark.operators import webtext
    cands = spark.createDataFrame(
        [(f"https://a.com/p{i}", f"com,a)/p{i}",
          "high" if i < 2 else ("normal" if i < 5 else "low"))
         for i in range(7)] +
        [("https://b.com/x", "com,b)/x", "low")],
        "url string, urlkey string, priority string")
    out = webtext.fetch_schedule(cands, per_host_budget=3).collect()
    rows = {r["url"]: r for r in out}
    # no batch exceeds the per-host budget
    from collections import Counter
    per = Counter((r["host"], r["batch"]) for r in out)
    assert max(per.values()) <= 3
    # high-priority urls land in batch 0; slots dense within batch
    assert rows["https://a.com/p0"]["batch"] == 0
    assert rows["https://a.com/p1"]["batch"] == 0
    a_rows = [r for r in out if r["host"] == "com,a"]
    assert sorted((r["batch"], r["slot"]) for r in a_rows) == \
        [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2), (2, 0)]
    # priority order: the low-priority a-urls fill the LAST slots
    low_a = [r for r in a_rows if r["url"] in
             ("https://a.com/p5", "https://a.com/p6")]
    assert all(r["batch"] == 2 or (r["batch"], r["slot"]) == (1, 2)
               for r in low_a)
    # other host is independent: starts at batch 0
    assert rows["https://b.com/x"]["batch"] == 0
    with _pytest.raises(ValueError):
        webtext.fetch_schedule(cands, per_host_budget=0)


def test_hits_hub_authority_structure(spark):
    from historicaldatadocumentparsersystem_spark.operators import linkgraph
    # hub -> {auth1, auth2}; spam -> spam2 (isolated chain)
    edges = spark.createDataFrame(
        [("hub", "auth1"), ("hub", "auth2"), ("also", "auth1"),
         ("spam", "spam2")],
        "src_host string, dst_host string")
    got = {r["host"]: (r["hub_micro"], r["auth_micro"])
           for r in linkgraph.hits_hosts(edges, iters=3).collect()}
    S = linkgraph.HITS_SCALE
    # the dual-outlink hub dominates hub mass; auth1 (2 in-links from
    # strong hubs) dominates authority mass
    assert got["hub"][0] == max(h for h, _ in got.values())
    assert got["auth1"][1] == max(a for _, a in got.values())
    # pure authorities have zero hub score; pure hubs zero authority
    assert got["auth1"][0] == 0 and got["auth2"][0] == 0
    assert got["hub"][1] == 0 and got["also"][1] == 0
    # L1 normalization: each mass sums to ~SCALE (floor-div slack)
    assert S - 10 <= sum(h for h, _ in got.values()) <= S
    assert S - 10 <= sum(a for _, a in got.values()) <= S
    # deterministic
    again = {r["host"]: (r["hub_micro"], r["auth_micro"])
             for r in linkgraph.hits_hosts(edges, iters=3).collect()}
    assert again == got


def test_quantize_embeddings_bounds_and_error(spark):
    import math
    from historicaldatadocumentparsersystem_spark.operators import similarity
    vecs = [(i, [math.sin(i * 1.7 + j) * (0.1 + 0.2 * i)
                 for j in range(8)]) for i in range(12)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (list(r["q"]), r["s_micro"])
           for r in similarity.quantize_embeddings(df).collect()}
    for i, v in vecs:
        q, s = out[i]
        assert all(-127 <= x <= 127 for x in q)
        assert s >= 1
        scale = s / 1e6
        assert abs(scale - max(abs(x) for x in v)) <= 1e-6
        for x, qx in zip(v, q):
            # dequantization error bound: half a quantization step
            assert abs(qx * scale / 127 - x) <= scale / 127


def test_quantized_topk_matches_exact_on_separated_vectors(spark):
    from historicaldatadocumentparsersystem_spark.operators import similarity
    # well-separated directions: quantized ranking == exact ranking
    base = [[1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.5],
            [0.5, 0.5, 0.5, 0.5], [-1.0, 0.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    qt = {r["rk"]: r["neighbor_id"] for r in
          similarity.quantized_topk(df, queries, k=3).collect()}
    bf = {r["rk"]: r["neighbor_id"] for r in
          similarity.brute_force_topk(df, queries, k=3).collect()}
    assert qt == bf
    # cos_sim column is the exact (rounded) cosine of the winners
    row = [r for r in similarity.quantized_topk(
        df, queries, k=3).collect() if r["rk"] == 1][0]
    assert row["neighbor_id"] == 1 and abs(row["cos_sim"] - 0.993884) < 1e-6


def test_compression_profile_matches_python_oracle(spark):
    from historicaldatadocumentparsersystem_spark.operators import textstats
    texts = ["spam spam spam " * 60,                  # repetitive
             "The quick brown fox jumps over the lazy dog. " * 5,
             "k9$Qz!mX#w2@Lr^v&Yc*Ad(Bf)Gh_Ji+Ke=Ln~Mo",  # noise
             ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["comp_bp"], r["keep"])
           for r in textstats.compression_profile(df).collect()}
    for i, t in enumerate(texts):
        bp = textstats.compression_ratio_bp(t)
        assert got[i][0] == bp
        assert got[i][1] == (1500 <= bp <= 9000)
    # the three regimes separate: repetitive < natural < noise
    assert got[0][0] < got[1][0] < got[2][0]
    assert got[0][1] is False and got[1][1] is True
    assert got[3][0] == 10000                        # empty = neutral


def test_crawl_trap_score_flags_url_explosion(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    rows = (  # trap: 30 urls, 2 contents
        [(f"https://trap.io/cal?d={i}", f"C{i % 2}") for i in range(30)]
        # healthy: 30 urls, 30 contents
        + [(f"https://news.io/a{i}", f"N{i}") for i in range(30)]
        # small host: explosive ratio but under min_urls
        + [(f"https://tiny.io/s?x={i}", "T") for i in range(5)])
    df = spark.createDataFrame(rows, "url string, digest string")
    got = {r["host"]: r for r in webtext.crawl_trap_score(
        df, min_urls=20).collect()}
    assert got["trap.io"]["trap"] is True
    assert got["trap.io"]["urls_per_content_bp"] == 150000
    assert got["news.io"]["trap"] is False
    assert got["news.io"]["urls_per_content_bp"] == 10000
    assert got["tiny.io"]["trap"] is False       # min_urls guard


def test_lang_id_margin_routing(spark):
    from historicaldatadocumentparsersystem_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog with all of them"),
         (2, "der die das und der die das oder the of and with them"),
         (3, "zz qq xx vv kk jj ww")],        # no profile hits
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.lang_id_margin(
        docs, min_margin_bp=3000).collect()}
    # clean English: large margin, confident
    assert got[1]["lang_pred"] == "en" and got[1]["confident"] is True
    assert got[1]["margin_bp"] >= 3000
    # mixed de/en: margin collapses below the gate
    assert got[2]["margin_bp"] < got[1]["margin_bp"]
    # zero hits: unknown, never confident, margin 0
    assert (got[3]["lang_pred"], got[3]["n_hits"],
            got[3]["margin_bp"], got[3]["confident"]) == \
        ("unknown", 0, 0, False)
    # margin arithmetic holds on every row
    for r in got.values():
        if r["n_hits"]:
            assert r["margin_bp"] == (r["n_hits"] - r["n_hits_2nd"]) \
                * 10000 // r["n_hits"]


def _winnow_oracle(text: str, k: int = 8, window: int = 4) -> set:
    """Pure-Python winnowing twin (Schleimer et al. fig. 5 semantics
    reduced to the fingerprint SET: min per window, dedup)."""
    import hashlib
    n = len(text)
    if n < k:
        return set()
    hs = [int(hashlib.md5(text[p:p + k].encode()).hexdigest()[:12], 16)
          for p in range(n - k + 1)]
    if len(hs) <= window:
        return {min(hs)}
    return {min(hs[i:i + window]) for i in range(len(hs) - window + 1)}


def test_winnow_matches_pure_oracle(spark):
    texts = ["the quick brown fox jumps over the lazy dog",
             "abcdefgh",            # exactly k chars -> 1 fingerprint
             "short",               # < k -> no fingerprints
             "aaaaaaaaaaaaaaaa",    # all k-grams identical
             "café résumé unicode text here"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {}
    for r in dedup.winnow_fingerprints(df, k=8, window=4).collect():
        got.setdefault(r["id"], set()).add(r["fingerprint"])
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _winnow_oracle(t), (i, t)


def test_winnow_coverage_guarantee(spark):
    """The paper's guarantee: any shared substring of length
    >= k + window - 1 (here 11) yields at least one shared
    fingerprint between the two documents."""
    shared = "UNIQUE-SHARED-RUN"  # 17 chars >= 11
    a = "left context blah " + shared + " tail of doc a"
    b = "totally different opening " + shared + " other ending"
    fa, fb = _winnow_oracle(a), _winnow_oracle(b)
    assert fa & fb, "coverage guarantee violated in the pure oracle"
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    rows = dedup.winnow_fingerprints(df).collect()
    sa = {r["fingerprint"] for r in rows if r["id"] == 0}
    sb = {r["fingerprint"] for r in rows if r["id"] == 1}
    assert sa == fa and sb == fb
    assert sa & sb


def test_winnow_plan_is_map_only(spark):
    """Winnowing is a scan -> generate/project plan: no exchange
    before the fingerprint rows exist (the 100 TB shape)."""
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = dedup.winnow_fingerprints(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_readability_scores_edges(spark):
    from historicaldatadocumentparsersystem_spark.operators import textstats
    rows = [(0, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
            (1, "xyz 123"),                     # no-vowel tokens clamp
            (2, "no terminal punctuation here"),  # sentences clamps to 1
            (3, "")]                            # zero words -> null score
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           textstats.readability_scores(df).collect()}
    assert (got[0]["words"], got[0]["sentences"]) == (6, 2)
    # "xyz" has a y-vowel group; "123" has none -> clamp adds 1
    assert got[1]["syllables"] == 2 and got[1]["words"] == 2
    assert got[2]["sentences"] == 1
    assert got[3]["words"] == 0 and got[3]["flesch"] is None
    # flesch formula spot-check for doc 0 (syllables: the=1 cat=1
    # sat=1 the=1 dog=1 ran=1 -> 6)
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert got[0]["flesch"] == expected


def test_winnow_near_pairs_shared_passage(spark):
    shared = "COMMON BOILERPLATE PASSAGE REPEATED ACROSS DOCS"
    rows = [(0, "alpha opening " + shared + " alpha tail"),
            (1, "totally different start " + shared + " other end"),
            (2, "unrelated content with no overlap whatsoever here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in dedup.winnow_near_pairs(
               df, min_shared=3, max_fingerprint_doc_freq=16).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 3
    assert not any(2 in p for p in got)


def test_winnow_near_pairs_hot_fingerprint_cap(spark):
    # three byte-identical docs: every fingerprint has doc-freq 3,
    # so a cap of 2 drops them all -> zero candidate pairs
    t = "identical document body repeated verbatim three times over"
    df = spark.createDataFrame([(i, t) for i in range(3)],
                               "doc_id long, text string")
    assert dedup.winnow_near_pairs(
        df, max_fingerprint_doc_freq=2).count() == 0
    assert dedup.winnow_near_pairs(
        df, max_fingerprint_doc_freq=3).count() == 3


def test_winnow_near_pairs_plan_is_hash_join(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = dedup.winnow_near_pairs(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_soft404_gate_branches(spark):
    long_pad = " ".join(f"word{i}" for i in range(60))
    rows = [
        (0, "error 404 - page not found"),              # classic shell
        (1, "Access Denied"),                            # short + phrase
        (2, f"a long essay about http 404 responses {long_pad}"),
        # long page discussing 404s without an error phrase -> kept
        (3, f"this page is not found worthy {long_pad}"),
        # long + phrase but no '404' -> kept (brevity missing)
        (4, "short harmless note"),                      # short, no phrase
        (5, f"404 handling guide: when a page is not found {long_pad}"),
        # long but '404' AND phrase co-occur -> flagged
    ]
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in webtext.soft404_gate(df).collect()}
    assert got[0]["soft404"] and not got[0]["keep"]
    assert got[1]["soft404"] and got[1]["has_error_phrase"]
    assert not got[2]["soft404"] and got[2]["keep"]
    assert not got[3]["soft404"]
    assert not got[4]["soft404"] and not got[4]["has_error_phrase"]
    assert got[5]["soft404"] and got[5]["has_404"]


def test_soft404_gate_plan_is_map_only(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = webtext.soft404_gate(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_parked_gate_branches(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    long_pad = " ".join(f"word{i}" for i in range(140))
    rows = [
        # classic parked shell: short + one phrase -> dropped
        (0, "This domain is for sale. Contact us."),
        # registrar pile-up: dropped even when long
        (1, f"buy this domain now! the domain owner is waiting. "
            f"{long_pad}"),
        # long article merely DISCUSSING domain sales -> kept
        (2, f"A history of domain name registration markets. "
            f"{long_pad}"),
        (3, "perfectly ordinary text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in webtext.parked_gate(df).collect()}
    assert got[0]["parked"] and not got[0]["keep"]
    assert got[0]["parked_hits"] == 1 and got[0]["is_thin"]
    assert got[1]["parked"] and got[1]["parked_hits"] == 2
    assert not got[2]["parked"] and got[2]["keep"]
    assert got[2]["parked_hits"] == 1 and not got[2]["is_thin"]
    assert got[3]["keep"] and got[3]["parked_hits"] == 0


def test_interstitial_gate_branches_and_plan(spark):
    from historicaldatadocumentparsersystem_spark.operators import webtext
    long_pad = " ".join(f"word{i}" for i in range(100))
    rows = [
        # consent SHELL: short, phrase pile-up -> dropped
        (0, "We use cookies. Accept all cookies or see our cookie "
            "policy and cookie settings."),
        # article CARRYING a banner: long + pile-up -> kept, no shell
        (1, f"we use cookies notice. accept all cookies. {long_pad}"),
        # single consent phrase, short -> kept (no pile-up)
        (2, "this site uses cookies, enjoy"),
        # short paywall stub -> dropped, paywalled
        (3, "Subscribe to continue reading."),
        # long paywalled teaser -> kept but flagged
        (4, f"great article teaser {long_pad} subscribers only"),
        (5, "perfectly ordinary text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in webtext.interstitial_gate(df).collect()}
    assert got[0]["consent_shell"] and not got[0]["keep"]
    assert got[0]["consent_hits"] >= 3
    assert not got[1]["consent_shell"] and got[1]["keep"]
    assert not got[2]["consent_shell"] and got[2]["keep"]
    assert got[2]["consent_hits"] == 1
    assert got[3]["paywalled"] and not got[3]["keep"]
    assert got[3]["paywall_hits"] == 2     # both phrases overlap
    assert got[4]["paywalled"] and got[4]["keep"]
    assert got[5]["keep"] and got[5]["consent_hits"] == 0 \
        and got[5]["paywall_hits"] == 0

    sf_df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = webtext.interstitial_gate(sf_df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_section_chunks_semantics_and_plan(spark):
    from historicaldatadocumentparsersystem_spark.operators import chunking
    rows = [
        # front matter before any heading -> section 0, NULL title
        ("d1", 0, "text", 0, "preamble"),
        ("d1", 1, "heading", 1, "Intro"),
        ("d1", 2, "text", 0, "a"),
        ("d1", 3, "heading", 4, "deep sub"),     # > split_level: body
        ("d1", 4, "list_item", 1, "b"),
        ("d1", 5, "heading", 2, "Next"),
        # heading directly followed by another heading: empty body
        ("d1", 6, "heading", 1, "Last"),
        ("d1", 7, "text", 0, "tail"),
        ("d2", 0, "heading", 1, "Only"),         # empty-body section
    ]
    els = spark.createDataFrame(
        rows, "url string, para int, kind string, level int, text string")
    got = {(r["url"], r["section_idx"]):
           (r["title"], r["n_paras"], r["text"])
           for r in chunking.section_chunks(els).collect()}
    assert got == {
        ("d1", 0): (None, 1, "preamble"),
        ("d1", 1): ("Intro", 3, "a\ndeep sub\nb"),
        ("d1", 2): ("Next", 0, ""),
        ("d1", 3): ("Last", 1, "tail"),
        ("d2", 1): ("Only", 0, ""),
    }
    # ONE url exchange total: the window and the groupBy share the key
    plan = (chunking.section_chunks(els)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan


def test_kmeans_broadcast_path_bit_identical(spark):
    """VERDICT r4 task 4: the broadcast-centroid path (k > LITERAL_K
    _MAX scale strategy) must be BIT-identical to the literal
    projection — same folds, same min(struct(dist, cid)) tie rule."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    lit = sorted(map(tuple, clustering.kmeans_assign(
        emb, k=16, n_iter=2, centroid_strategy="literal").collect()))
    bc = sorted(map(tuple, clustering.kmeans_assign(
        emb, k=16, n_iter=2, centroid_strategy="broadcast").collect()))
    assert lit == bc
    # carry_vec parity too (semantic_dedup's input shape)
    lv = sorted((r["vec_id"], r["cluster"], r["l2_dist"],
                 tuple(r["embedding"]))
                for r in clustering.kmeans_assign(
        emb, k=16, n_iter=1, carry_vec=True,
        centroid_strategy="literal").collect())
    bv = sorted((r["vec_id"], r["cluster"], r["l2_dist"],
                 tuple(float(x) for x in r["embedding"]))
                for r in clustering.kmeans_assign(
        emb, k=16, n_iter=1, carry_vec=True,
        centroid_strategy="broadcast").collect())
    assert [x[:3] for x in lv] == [x[:3] for x in bv]
    # vectors match as doubles (broadcast carries the cast array)
    assert all(tuple(float(v) for v in a[3]) == b[3]
               for a, b in zip(lv, bv))


def test_quality_classifier_arrow_matches_expr(spark):
    """r6: the Python tokenizer+md5 replica must return the SAME rows
    as the r5 pure-expression scorer — corpus plus adversarial
    fixtures (unicode spaces that Java \\s does NOT split on, tabs/FF/
    VT that it does, non-ASCII tokens, null/empty text, bare spaces)."""
    from historicaldatadocumentparsersystem_spark.operators import quality
    docs = spark.read.parquet(SF + "/documents.parquet")
    new = sorted(map(tuple, quality.quality_classifier(docs).collect()))
    old = sorted(map(tuple,
                     quality._quality_classifier_expr(docs).collect()))
    assert new == old
    rows = [(1, "the and is"),   # NBSP/figure space: NOT \s
            (2, "a\tb\x0bc\x0cd\re\nf"),   # every Java \s char
            (3, None), (4, ""), (5, "   "), (6, " x "),
            (7, "Grüße ÜBER straße ΣΟΦΟΣ"),
            (8, "世界 你好 世界"), (9, "a" * 5000 + " b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nw = sorted(map(tuple, quality.quality_classifier(df).collect()))
    od = sorted(map(tuple, quality._quality_classifier_expr(df).collect()))
    assert nw == od


def test_lsh_signatures_arrow_matches_expression(spark):
    """r6: the numpy signature stage must reproduce the expression
    path's sign bits exactly (same sequential dot fold; flips only at
    dot == 0, covered by the zero vector)."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.operators import similarity
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    zero = emb.sparkSession.createDataFrame(
        [(10_000_000, [0.0] * 64)], "vec_id long, embedding array<float>")
    src = emb.select("vec_id", "embedding").unionByName(zero)
    tables = [similarity.make_planes(64, 8, 42 + t) for t in range(2)]
    sig_arr = F.array(*[similarity.hyperplane_signature("embedding", p)
                        for p in tables])
    old = sorted(map(tuple, src.select(
        "vec_id", F.posexplode(sig_arr).alias("t", "sig")).collect()))
    new = sorted(map(tuple, similarity._signatures_arrow(
        src, "vec_id", "embedding", tables)
        .select("vec_id", "t", "sig").collect()))
    assert new == old


def test_kmeans_arrow_path_bit_identical(spark):
    """r6: the numpy-vectorized assignment + sufficient-statistics
    means (the new default) must be BIT-identical to the r5 literal
    and broadcast paths — _np_sqdists replays the exact fold order,
    argmin keeps the lowest cid, _np_round9_nano/_iter_means replay
    the decimal(20,9) fixed-point mean."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    for k in (3, 16):
        ar = sorted(map(tuple, clustering.kmeans_assign(
            emb, k=k, n_iter=2, centroid_strategy="arrow").collect()))
        lit = sorted(map(tuple, clustering.kmeans_assign(
            emb, k=k, n_iter=2, centroid_strategy="literal").collect()))
        assert ar == lit, k
    # carry_vec parity (semantic_dedup's input shape): vectors ride
    # as doubles like the broadcast path
    av = sorted((r["vec_id"], r["cluster"], r["l2_dist"],
                 tuple(r["embedding"]))
                for r in clustering.kmeans_assign(
        emb, k=8, n_iter=1, carry_vec=True,
        centroid_strategy="arrow").collect())
    lv = sorted((r["vec_id"], r["cluster"], r["l2_dist"],
                 tuple(float(x) for x in r["embedding"]))
                for r in clustering.kmeans_assign(
        emb, k=8, n_iter=1, carry_vec=True,
        centroid_strategy="literal").collect())
    assert av == lv


def test_round9_nano_matches_spark(spark):
    """_np_round9_nano (the arrow means' fixed-point element round)
    == Spark round(v, 9)::decimal(20,9), exercised on exact half-up
    boundaries, negatives, float32-origin values, and magnitudes that
    force the Decimal fallback."""
    import decimal
    import numpy as np
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.operators import clustering
    vals = [0.0000000005, -0.0000000005, 0.0000000015, -0.0000000015,
            1.0000000005, 2.5e-10, 1e7 + 0.123456789, -3.0000000025,
            0.1, float(np.float32(0.1)), float(np.float32(1 / 3)),
            123456.0000000005, 5e-10, -5e-10, 1.5e-9, 0.0, -0.0,
            1e-12, 987654321.000000001,
            # >=1e6 forces the Decimal fallback branch (nano >= 1e15)
            2345678.000000123456, 8999999999.25, -8999999999.25]
    vv = [float(x) for x in vals] \
        + [float(np.float32(x)) for x in vals]
    sdf = spark.createDataFrame([(v,) for v in vv], "v double")
    got = [r[0] for r in sdf.select(
        F.round("v", 9).cast("decimal(20,9)").alias("r")).collect()]
    nano = clustering._np_round9_nano(np.array([vv]))[0]
    want = [decimal.Decimal(int(n)).scaleb(-9) for n in nano]
    assert got == want, [(v, g, w) for v, g, w in zip(vv, got, want)
                         if g != w]
    # beyond the int64 nano domain (|v| > ~9.2e9) the conversion must
    # fail LOUDLY, never wrap silently
    import pytest
    with pytest.raises(OverflowError):
        clustering._np_round9_nano(np.array([[1.0e12]]))


def test_semantic_dedup_vectorized_matches_pairjoin(spark):
    """r6: the one-exchange vectorized cell path must return the SAME
    rows as the r5 JVM pair-join (kept as _semantic_dedup_pairjoin),
    including on cosines engineered onto the round-to-6dp decision
    boundary around the threshold."""
    import numpy as np
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    new = sorted(map(tuple, clustering.semantic_dedup(
        emb, k=8, n_iter=2).collect()))
    old = sorted(map(tuple, clustering._semantic_dedup_pairjoin(
        emb, k=8, n_iter=2).collect()))
    assert new == old
    # boundary corpus: unit-x vectors vs vectors at angles whose
    # cosine rounds to exactly the threshold (0.3499995 is the
    # smallest double that rounds up to 0.35), plus near-misses a
    # few ulps either side and an exact-0.35 cosine
    base = [1.0, 0.0]
    rows = []
    for i, c in enumerate([0.3499995, np.nextafter(0.3499995, 0),
                           np.nextafter(0.3499995, 1), 0.35,
                           0.3499994999999, 0.3500005,
                           np.nextafter(0.3500005, 0), 0.349999]):
        s = float(np.sqrt(1.0 - float(c) ** 2))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [float(c), s]))
    # array<double> so the engineered cosines survive (array<float>
    # would perturb them off the boundary)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # k=1 so every pair is in the same cell; n_iter=0 keeps the seed
    nw = sorted(map(tuple, clustering.semantic_dedup(
        df, k=1, n_iter=1, threshold=0.35).collect()))
    od = sorted(map(tuple, clustering._semantic_dedup_pairjoin(
        df, k=1, n_iter=1, threshold=0.35).collect()))
    assert nw == od


def test_kmeans_k256_runs_on_sf001(spark):
    """k=256 (the SemDeDup sqrt(N) regime the literal path cannot
    execute): auto strategy flips to broadcast, assignment completes,
    every vector lands in a valid cluster."""
    from historicaldatadocumentparsersystem_spark.operators import clustering
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = clustering.kmeans_assign(emb, k=256, n_iter=1).collect()
    assert len(out) == 500
    assert all(0 <= r["cluster"] < 256 for r in out)
    assert len({r["cluster"] for r in out}) > 64   # actually spread
    sd = clustering.semantic_dedup(
        emb, k=256, n_iter=1, threshold=0.999).collect()
    assert len(sd) == 500 and all(r["kept"] is not None for r in sd)
