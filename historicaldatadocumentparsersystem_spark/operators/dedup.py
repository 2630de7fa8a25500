"""Deduplication operators for a 100 TB training-data pipeline.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup. Design notes for scale:

- exact dedup is one shuffle on a 16-byte hash (not the full text);
  map-side partial aggregation applies.
- MinHash uses lexicographic-min of md5 hex digests as the min-wise
  hash family — identical in any SQL engine (DuckDB oracle twin) and
  JVM-side in Spark (no Python). LSH banding turns all-pairs O(n²) into
  a shuffle on (band_id, band_signature) buckets; only in-bucket pairs
  are compared — the standard scale path for 10^9+ docs.
- SimHash is a bit-vote over token md5 bits, expressed as
  explode(tokens) x explode(bits) -> sum of votes -> bit assembly.
- Reference analog: the id-preserving dedup join J4
  (``utils/RAG_methods.py:74-84``: unique doc_ids, first-seen order) =
  ``dropDuplicates`` + ``row_number``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .textstats import tokens


# --- exact ------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Canonical row per distinct text: keep min(id) per md5(text).

    One hash-shuffle; at 100 TB this is the cheapest dedup pass and
    runs first to shrink the corpus for the near-dup passes.
    """
    return (df
            .select(F.md5(F.col(text_col)).alias("text_hash"),
                    F.col(id_col))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_dups")))


def first_seen_dedup(df: DataFrame, key: str, order: str) -> DataFrame:
    """J4 semantics: unique keys, first-seen row wins (row_number=1)."""
    w = Window.partitionBy(key).orderBy(order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


# --- n-gram Jaccard ----------------------------------------------------------

def shingles(text_col: str, n: int = 3) -> "F.Column":
    """Distinct word n-gram shingles of a text column (array<string>).

    Guarded: texts shorter than n words yield an EMPTY array
    (sequence(1, 0) would count down in Spark, not produce empty)."""
    toks = tokens(text_col)
    k = F.size(toks) - (n - 1)
    grams = F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int,
                       max_shingle_doc_freq: int | None) -> DataFrame:
    """(id, sh) rows, one per distinct shingle per doc, optionally with
    hot shingles (document frequency > cap) removed.

    Shingles are per-doc distinct, so count(*) per shingle IS its doc
    frequency. The hot set is a handful of stop-shingles on a real
    corpus — the anti-join broadcasts (AQE) — while each surviving
    shingle contributes at most cap*(cap-1)/2 pairs to any downstream
    self-join: the 100 TB job-killer (one stop-shingle bucket holding
    30% of the corpus) becomes a bounded bucket.
    """
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(shingles(text_col, n)).alias("sh")))
    if max_shingle_doc_freq is None:
        return sh
    hot = (sh.groupBy("sh").agg(F.count("*").alias("df_sh"))
           .where(F.col("df_sh") > max_shingle_doc_freq)
           .select("sh"))
    return sh.join(hot, "sh", "left_anti")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_shingle_doc_freq: int | None = None
                        ) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold.

    Scale path: explode shingles -> self-join on shingle (co-occurring
    docs only — never a cartesian) -> |A∩B| per pair -> Jaccard via
    |A|+|B|-|∩|. The shingle join shuffles on the shingle hash; with
    ``max_shingle_doc_freq`` set, stop-shingles above that document
    frequency are pruned BEFORE the join (``_exploded_shingles``) and
    the Jaccard is computed over the capped shingle universe — exact
    for that universe, with every join bucket bounded at the cap.
    """
    sh = _exploded_shingles(df, text_col, id_col, n, max_shingle_doc_freq)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (sh.alias("a")
             .join(sh.alias("b"),
                   (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "sz_a"}),
                  "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "sz_b"}),
                  "id_b")
            .withColumn("jaccard",
                        F.round(F.col("n_inter")
                                / (F.col("sz_a") + F.col("sz_b")
                                   - F.col("n_inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# --- MinHash + LSH -----------------------------------------------------------

def minhash_signature(shingle_col, num_hashes: int = 16) -> "F.Column":
    """array<string> MinHash signature over an array-of-shingles column:
    per hash i, the lexicographic MIN over shingles of
    md5(i || ':' || shingle).

    md5-hex-min is a portable min-wise hash family: any engine computes
    the identical signature (DuckDB oracle parity), and it stays fully
    JVM-side in Spark (no Python UDF).
    """
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(sh, lambda s: F.md5(
                F.concat_ws(":", i.cast("string"), s)))))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, n: int = 3,
                      threshold: float = 0.5,
                      max_shingle_doc_freq: int | None = None
                      ) -> DataFrame:
    """Near-dup candidate pairs via LSH banding, verified by estimated
    Jaccard (signature agreement rate) >= threshold.

    shingle->minhash->band->bucket-join: docs sharing any full band
    signature land in one bucket; pairs are generated per bucket only.
    The bucket join shuffles on md5(band) — uniform by construction.

    ``max_shingle_doc_freq`` prunes stop-shingles before the signature
    (standard remove-stop-shingles-then-minhash): boilerplate shingles
    shared by a large corpus fraction otherwise drag unrelated docs'
    signatures together, inflating hot band buckets. Costs one extra
    id-keyed shuffle (regrouping the capped shingles), only when set.
    """
    rows_per_band = num_hashes // bands
    if max_shingle_doc_freq is None:
        shingled = (df.select(F.col(id_col).alias("id"),
                              shingles(text_col, n).alias("sh"))
                    .where(F.size("sh") > 0))
    else:
        shingled = (_exploded_shingles(df, text_col, id_col, n,
                                       max_shingle_doc_freq)
                    .groupBy("id")
                    .agg(F.collect_list("sh").alias("sh")))
    sig = shingled.select(
        "id", minhash_signature("sh", num_hashes).alias("sig"))
    # materialize signatures once: the bucket self-join would otherwise
    # recompute num_hashes x |shingles| md5s on BOTH sides (at scale:
    # write the signature table, bucketed by band hash, then join)
    sig = sig.persist()
    banded = sig.select(
        "id", "sig",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.md5(F.concat_ws(
                    "|", F.slice(F.col("sig"), b * rows_per_band + 1,
                                 rows_per_band))).alias("bucket"))
        )).alias("bb"))
    candidates = (banded.alias("a")
                  .join(banded.alias("b"),
                        (F.col("a.bb") == F.col("b.bb"))
                        & (F.col("a.id") < F.col("b.id")))
                  .select(F.col("a.id").alias("id_a"),
                          F.col("b.id").alias("id_b"),
                          F.col("a.sig").alias("sig_a"),
                          F.col("b.sig").alias("sig_b"))
                  .dropDuplicates(["id_a", "id_b"]))
    # estimated Jaccard = fraction of agreeing signature positions
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y),
                           lambda eq: eq))
           / F.size(F.col("sig_a")))
    return (candidates
            .withColumn("est_jaccard", F.round(est, 6))
            .where(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard"))


# --- SimHash ------------------------------------------------------------------

def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram,
    then keep the minimum hash of each window of ``window`` consecutive
    k-gram hashes; the distinct set of selected hashes is the
    document's fingerprint. Guarantees every shared substring of
    length >= k + window - 1 contributes at least one matching
    fingerprint between two documents — a positional-coverage property
    the MinHash/SimHash family does not give (reference analog: the
    engine's dedup surface, ``doc_processor.py``; this is the classic
    local-fingerprint complement).

    Fully map-side (array expressions, no Python, no shuffle until the
    output distinct): per row,
      hashes[p] = first 48 bits of md5(substr(text, p, k)), and
      fp[i]     = array_min(slice(hashes, i, window)).
    A text shorter than k chars yields no fingerprints; with fewer
    than ``window`` k-grams the whole doc is one window. 48-bit hashes
    keep the bigint positive in both Spark and DuckDB (twin:
    ``cast('0x' || substr(md5(g), 1, 12) AS bigint)``).

    At 100 TB: the map stage is embarrassingly parallel; the output
    (id, fingerprint) table joins on fingerprint for candidate pairs
    with the same hot-key cap discipline as the shingle family.
    """
    t, kk, w = text_col, k, window
    hashes = (
        f"CASE WHEN length({t}) >= {kk} THEN "
        f"  transform(sequence(1, length({t}) - {kk} + 1), p -> "
        f"    cast(conv(substr(md5(substring({t}, p, {kk})), 1, 12), "
        f"         16, 10) as bigint)) "
        f"ELSE cast(array() as array<bigint>) END")
    fps = (
        f"CASE WHEN size(_hashes) = 0 THEN cast(array() as array<bigint>)"
        f" WHEN size(_hashes) <= {w} THEN array(array_min(_hashes)) "
        f"ELSE transform(sequence(1, size(_hashes) - {w} + 1), i -> "
        f"       array_min(slice(_hashes, i, {w}))) END")
    return (df
            .select(F.col(id_col).alias("id"), F.expr(hashes).alias("_hashes"))
            .select("id", F.explode(F.array_distinct(F.expr(fps)))
                    .alias("fingerprint")))


def winnow_near_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      window: int = 4, min_shared: int = 3,
                      max_fingerprint_doc_freq: int = 16) -> DataFrame:
    """Candidate near-dup pairs from winnowing fingerprints: docs
    sharing >= ``min_shared`` selected fingerprints. The local-
    fingerprint counterpart of ``minhash_lsh_pairs`` — because
    winnowing is positional, a shared PASSAGE (not just globally
    similar token sets) is guaranteed to produce shared fingerprints,
    so this catches quote/boilerplate containment that MinHash's
    global Jaccard estimate dilutes away.

    Same scale discipline as the shingle family: fingerprints hotter
    than ``max_fingerprint_doc_freq`` docs are dropped before the
    self-join (stop-fingerprint cap — bounds every join bucket at
    C(cap, 2)), then one equi-join on fingerprint + a count groupBy.
    Never all-pairs.
    """
    # materialize fingerprints once: the freq aggregation and both
    # sides of the self-join would otherwise re-run the per-position
    # md5 derivation (the minhash signature-persist pattern)
    fps = winnow_fingerprints(df, text_col, id_col, k, window).persist()
    freq = (fps.groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_fingerprint_doc_freq)
            .select("fingerprint"))
    kept = fps.join(freq, "fingerprint")
    a = kept.select(F.col("id").alias("id_a"), "fingerprint")
    b = kept.select(F.col("id").alias("id_b"), "fingerprint")
    return (a.join(b, "fingerprint")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """32-bit SimHash per document, fully JVM-side.

    Each token votes +1/-1 on each bit of conv(md5(token)[:8], 16, 10);
    bit b of the simhash is 1 iff the vote sum is > 0. Explode tokens ->
    one aggregation keyed by id (map-side combinable).

    The 32 vote aggregates and the 32-term bit sum are SQL text: built
    with the Column API they cost one py4j round trip per call, hundreds
    per ``simhash`` (about half a second of driver time).
    """
    tok = (df.select(F.col(id_col).alias("id"),
                     F.explode(tokens(text_col)).alias("tok"))
           .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                       .cast("long")))
    votes = [F.expr(f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
                    f"THEN 1 ELSE -1 END) AS v{b}")
             for b in range(bits)]
    sim = " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END"
                     for b in range(bits))
    return (tok.groupBy("id").agg(*votes)
            .selectExpr("id", f"CAST({sim} AS BIGINT) AS simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 32,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: block on bit-bands (pigeonhole — any pair within
    hamming d shares at least one of d+1 bands) so the join is on band
    equality, never all-pairs.
    """
    sh = simhash(df, text_col, id_col, bits)
    return hamming_near_pairs(sh, "simhash", "id", bits, max_hamming)


def hamming_near_pairs(hashes: DataFrame, hash_col: str,
                       id_col: str = "id", bits: int = 64,
                       max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``max_hamming`` bits over
    any integer fingerprint column — the shared scale path behind
    SimHash text near-dup AND perceptual image near-dup (dHash).

    Block on bit-bands: split the hash into ``max_hamming + 1``
    equal bands (pigeonhole — any pair within hamming d agrees on at
    least one of d+1 bands), equi-join on (band, key), then verify
    with a codegen'd bit_count(xor). Never all-pairs: the join is a
    plain hash join on a short key, and skew is bounded by how many
    images/docs genuinely share a band value."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    if band_bits < 1:
        raise ValueError(f"max_hamming={max_hamming} needs more bands "
                         f"than bits={bits} provides")
    # floor division may leave the top bits % n_bands bits uncovered;
    # completeness holds regardless (an uncovered differing bit can't
    # dirty any band, so a within-threshold pair still agrees on one) —
    # the exact bit_count verify then scores the full width.
    mask = (1 << band_bits) - 1
    banded = hashes.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("fp"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col(hash_col), b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("key"))
            for b in range(n_bands)])).alias("bb"))
    pairs = (banded.alias("a")
             .join(banded.alias("b"),
                   (F.col("a.bb") == F.col("b.bb"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.col("a.fp").alias("sh_a"),
                     F.col("b.fp").alias("sh_b"))
             .dropDuplicates(["id_a", "id_b"]))
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = F.bit_count(xor)
    return (pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# --- dedup clustering (connected components) ---------------------------------

def _union_find_stars(batches):
    """mapInArrow body: one union-find over every (src, dst) edge of
    the partition, returned as star edges (node, root) with root the
    minimum node of the node's local component. A null end joins
    nothing: it is its own root."""
    import pyarrow as pa
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]   # path halving
            x = parent[x]
        return x

    schema = None
    for b in batches:
        schema = b.schema
        for a, c in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
            parent.setdefault(a, a)
            parent.setdefault(c, c)
            if a is None or c is None:
                continue
            ra, rc = find(a), find(c)
            if ra != rc:
                lo, hi = (ra, rc) if ra < rc else (rc, ra)
                parent[hi] = lo
    if parent:
        nodes = list(parent)
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, schema.field(0).type),
             pa.array([find(n) for n in nodes], schema.field(0).type)],
            ["node", "root"])


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iter: int = 50) -> DataFrame:
    """(id_a, id_b) near-dup pairs -> (node, component) with component
    = min node id in the connected cluster: the canonicalization step
    every dedup pipeline runs after LSH pair generation (keep one doc
    per component). Ids keep their input type.

    Contraction first: ONE ``mapInArrow`` pass runs a union-find over
    each partition of the pair table and emits every local component
    as a star (node -> local min). The star edges connect exactly what
    the pairs connect, so the first labels, ``min(root)`` per node,
    are already final for every component that lies inside one
    partition — which is every component when AQE coalesces the (tiny)
    pair shuffle into one partition. Exactness never rests on that:
    min-label rounds over the star edges (each node takes the min of
    its own and its neighbors' labels) finish any component that
    spans partitions; converged when no label changes, so a run whose
    components are all local pays one confirming round.

    The star table is ``localCheckpoint``-ed, not ``persist()``-ed:
    a cached plan keeps its shuffle partitioning under AQE
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is
    false on 4.1), so a persisted input would carry all shuffle
    partitions into the contraction and leave more rounds to do; it
    also kept the cached blocks on the driver heap's old generation.
    Each round's labels are checkpointed too: iterative DataFrame
    loops otherwise stack join-plans into a tree that grows per round
    until the driver OOMs just *analyzing* it (GraphFrames makes the
    same move; on a cluster use a reliable ``checkpoint`` dir so
    executor loss can recompute).

    The driver scalars ride the checkpoint actions as
    ``DataFrame.observe`` metrics instead of extra ``count()`` jobs:
    the star row count (an upper bound on the node count, which picks
    broadcast or shuffle joins) and each round's number of changed
    labels.
    """
    id_type = pairs.select(F.coalesce(a_col, b_col)).schema[0].dataType
    edges = pairs.select(F.col(a_col).cast(id_type).alias("src"),
                         F.col(b_col).cast(id_type).alias("dst"))
    seen = Observation()
    star = (edges.mapInArrow(_union_find_stars,
                             f"node {id_type.simpleString()}, "
                             f"root {id_type.simpleString()}")
            .observe(seen, F.count(F.lit(1)).alias("rows"))
            .localCheckpoint(eager=True))
    # checkpointed frames carry NO size stats (ScanExistingRDD reports
    # defaultSizeInBytes), so AQE never broadcasts the label table and
    # every round would pay two sort-merge shuffles even for tiny
    # graphs; decide from the observed row count instead (label rows
    # are ~32 B, threshold well under the 10 MB auto-broadcast default)
    small = seen.get["rows"] * 64 < 8 << 20
    bcast = F.broadcast if small else (lambda d: d)
    links = star.where(F.col("node") != F.col("root"))
    star_edges = (links.select(F.col("node").alias("src"),
                               F.col("root").alias("dst"))
                  .union(links.select(F.col("root").alias("src"),
                                      F.col("node").alias("dst"))))
    labels = star.groupBy("node").agg(F.min("root").alias("component"))
    converged = False
    for _ in range(max_iter):
        neighbor_min = (star_edges.join(bcast(labels),
                                        star_edges.dst == labels.node)
                        .groupBy("src")
                        .agg(F.min("component").alias("nbr_min")))
        # new < old iff the neighbor min undercuts the current label
        nbr = F.coalesce("nbr_min", F.col("component"))
        rounds = Observation()
        new_labels = (labels.join(bcast(neighbor_min),
                                  labels.node == neighbor_min.src, "left")
                      .select("node",
                              F.least("component", nbr).alias("component"),
                              (nbr < F.col("component")).alias("__chg"))
                      .observe(rounds, F.count(F.when(F.col("__chg"), 1))
                               .alias("changed"))
                      .localCheckpoint(eager=True))
        changed = rounds.get["changed"]
        labels = new_labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Silently returning mid-propagation labels would split one
        # cluster into several keep_ids with no signal — plausible for
        # chained near-dup clusters whose diameter exceeds max_iter at
        # corpus scale. Fail loudly; the caller raises max_iter.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter")
    return labels


def dedup_clusters(pairs: DataFrame, a_col: str = "id_a",
                   b_col: str = "id_b") -> DataFrame:
    """Cluster summary: (component, n_members, keep_id) — keep_id is
    the canonical (min-id) member, everything else is a near-dup to
    drop."""
    cc = connected_components(pairs, a_col, b_col)
    return (cc.groupBy("component")
            .agg(F.count("*").alias("n_members"),
                 F.min("node").alias("keep_id")))


def keep_best_per_cluster(df: DataFrame, pairs: DataFrame,
                          score, id_col: str = "doc_id",
                          a_col: str = "id_a",
                          b_col: str = "id_b") -> DataFrame:
    """Fuzzy-dedup keep-policy — the step every near-dup pipeline runs
    AFTER pair generation + clustering: within each connected near-dup
    cluster keep the single highest-``score`` member (ties broken by
    lowest id, so the policy is total and deterministic); documents
    that appear in no pair are their own singleton component and are
    always kept. This replaces ``dedup_clusters``'s min-id canonical
    with a quality-aware canonical (CCNet/FineWeb keep the best page of
    a template cluster, not the numerically-first one).

    ``score`` is any integer column expression over ``df`` (e.g.
    ``quality.quality_score_micro("text")``) — integer so the ranking
    is exact cross-engine. Returns (id, component, score_micro, keep).

    Scale: one equi-join of the corpus against the (node, component)
    label table on id, then ONE window partitioned by component —
    near-dup clusters are small (bounded by template family size), so
    no window partition ever approaches executor memory; singletons
    never enter the label table and pay only the join probe.
    """
    cc = connected_components(pairs, a_col, b_col)
    scored = df.select(F.col(id_col).alias("id"),
                       score.cast("long").alias("score_micro"))
    lab = (scored.join(cc.withColumnRenamed("node", "id"), "id", "left")
           .withColumn("component",
                       F.coalesce("component", F.col("id"))))
    w = (Window.partitionBy("component")
         .orderBy(F.col("score_micro").desc(), F.col("id").asc()))
    return lab.select(
        F.col("id").alias(id_col), "component", "score_micro",
        (F.row_number().over(w) == 1).alias("keep"))


def cdc_blocks(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id", min_size: int = 2048,
               avg_size: int = 8192,
               max_size: int = 65536) -> DataFrame:
    """Content-defined block table over a binary column: 1 row ->
    N blocks (id, block_pos, offset, length, block_md5) via the
    Spark-free FastCDC oracle ``extractor.cdc.cdc_chunks`` — the
    binary-payload counterpart of the text dedup family: re-exported
    PDFs, watermark variants, and partially re-crawled media share
    most of their block digests even though no two payloads are
    byte-identical, so ``first_seen_dedup``/``block_dedup_stats``
    over block_md5 recovers storage the exact-dedup md5 cannot see.

    Scale: Arrow-batched mapInPandas, payload bytes never shuffle
    (blocks carry 16-byte digests + offsets); the downstream groupBy
    on block_md5 is uniform by construction (crypto hash keys).
    """
    import pandas as pd

    from ..extractor.cdc import cdc_chunks

    cols = (id_col, "block_pos", "offset", "length", "block_md5")

    def split(batches):
        for b in batches:
            rows = []
            for did, payload in zip(b[id_col], b[payload_col]):
                if payload is None:
                    continue
                for pos, (off, ln, dg) in enumerate(
                        cdc_chunks(bytes(payload), min_size,
                                   avg_size, max_size)):
                    rows.append((did, pos, off, ln, dg))
            yield pd.DataFrame(rows, columns=cols)

    return (df.select(id_col, payload_col)
            .mapInPandas(
                split, f"{id_col} long, block_pos int, offset long, "
                       "length long, block_md5 string"))


def block_dedup_stats(blocks: DataFrame) -> DataFrame:
    """One-row storage accounting over a ``cdc_blocks`` table:
    (n_blocks, n_distinct, total_bytes, unique_bytes, saved_bytes).
    saved_bytes is what block-level dedup reclaims vs storing every
    payload whole — the number a dedup store quotes.

    Scale: one map-side-combinable groupBy on block_md5 (identical
    digest => identical length, so min(length) is exact), then a
    1-row global aggregate.
    """
    per = (blocks.groupBy("block_md5")
           .agg(F.count("*").alias("n_copies"),
                F.min("length").alias("length")))
    total = F.sum(F.col("n_copies") * F.col("length"))
    return per.agg(
        F.sum("n_copies").cast("long").alias("n_blocks"),
        F.count("*").cast("long").alias("n_distinct"),
        total.cast("long").alias("total_bytes"),
        F.sum("length").cast("long").alias("unique_bytes"),
        (total - F.sum("length")).cast("long").alias("saved_bytes"))


def minhash_calibration(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        num_hashes: int = 16, n: int = 3,
                        a_col: str = "id_a",
                        b_col: str = "id_b") -> DataFrame:
    """Estimator QA for the MinHash family: per given pair, the
    signature-agreement estimate vs the EXACT shingle Jaccard, in
    integer basis points — (id_a, id_b, n_match, est_bp, exact_bp,
    err_bp). Running this on a sampled/candidate pair set is how a
    production dedup pipeline validates that ``num_hashes`` is large
    enough before trusting LSH verdicts on 10^12 pairs: E[est] =
    exact, with binomial spread ~1/sqrt(num_hashes) per pair.

    ``pairs`` comes from any generator — LSH candidates for the
    similar regime, strided samples for the dissimilar one. The exact
    side re-materializes both docs' shingle sets per pair, so this is
    a SAMPLED job by design (calibration, not dedup): cost is
    O(|pairs| * shingles/doc), never corpus-quadratic.

    Integer basis points (div) keep the driver/oracle hash float-free.
    """
    shingled = (df.select(F.col(id_col).alias("id"),
                          shingles(text_col, n).alias("sh"))
                .where(F.size("sh") > 0))
    sigs = shingled.select(
        "id", "sh", minhash_signature("sh", num_hashes).alias("sig"))
    a = sigs.select(F.col("id").alias(a_col),
                    F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias(b_col),
                    F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b"))
    j = (pairs.select(a_col, b_col).join(a, a_col).join(b, b_col)
         .select(
             a_col, b_col,
             F.size(F.filter(
                 F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                 lambda m: m)).alias("n_match"),
             F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
             F.size("sh_a").alias("sz_a"), F.size("sh_b").alias("sz_b")))
    return (j.select(
        a_col, b_col, F.col("n_match").cast("long").alias("n_match"),
        F.expr(f"n_match * 10000 div {num_hashes}").cast("long")
        .alias("est_bp"),
        F.expr("n_inter * 10000 div (sz_a + sz_b - n_inter)")
        .cast("long").alias("exact_bp"))
        .withColumn("err_bp",
                    F.abs(F.col("est_bp") - F.col("exact_bp"))
                    .cast("long")))
