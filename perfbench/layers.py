"""Per-layer measurements, taken around calls into public functions.

Layers are the program's modules: ``pipeline`` (scan, exchange, Arrow
boundary, ``extract_batch``), ``extractor`` (``extract_document`` and
its phases), ``catalog`` (``Catalog`` methods), ``queries`` (the
``__spark_entry__`` builders) and ``spark`` (jobs, stages, tasks).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

LADDER_REPS = 3
BATCH_ROWS = 256
CATALOG_CALLS = ("write_extracted", "read_extracted_parts", "append_lineage",
                 "done_partitions", "snapshot_output_rows", "commit_snapshot")
KINDS = ("html", "pdf", "empty")
_UNITS = (("_s", "s"), (".s", "s"), ("_ms", "ms"), ("share", "ratio"),
          ("ratio", "ratio"), ("bytes_written", "bytes"))


def unit(name: str) -> str:
    if ".ms_per_doc." in name:
        return "ms"
    return next((u for suffix, u in _UNITS if name.endswith(suffix)),
                "count")


# ---------------------------------------------------------------------------
# correctness digests


def extraction_digest(records) -> str:
    """md5 over sorted (url, doc_kind, text, spans, failed) renderings."""
    lines = sorted(repr(r) for r in records)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def reference_digest(rows) -> tuple[str, int]:
    """Digest of in-process ``extract_document`` over the generated rows,
    and the number of rows it marks failed."""
    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    recs, failed = [], 0
    for r in rows:
        payload = r["html"]
        res = extract_document(payload if payload else None, r["text"])
        failed += bool(res.failed)
        recs.append((r["url"], res.doc_kind, res.extracted_text,
                     [tuple(s) for s in res.spans], int(res.failed)))
    return extraction_digest(recs), failed


def golden_mismatches(path: str, n: int, seed: int, scale: int) -> list[str]:
    """URLs of ``generate_rows(n, seed, scale)`` whose ``extract_document``
    result differs from the golden table at ``path`` (the fields the
    repository's golden test compares)."""
    import pyarrow.parquet as pq

    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    from historicaldatadocumentparsersystem_spark.fixtures import \
        generate_rows
    golden = {r["url"]: r for r in pq.read_table(path).to_pylist()}
    bad = []
    for row in generate_rows(n, seed, scale):
        res = extract_document(row["html"], row["text"])
        g = golden.get(row["url"])
        if g is None or (res.doc_kind, res.title, res.extracted_text,
                         res.spans_as_dicts(), res.n_blocks, res.score,
                         res.failed) != (g["doc_kind"], g["title"],
                                         g["extracted_text"], g["spans"],
                                         g["n_blocks"], g["score"],
                                         g["failed"]):
            bad.append(row["url"])
    return bad


# ---------------------------------------------------------------------------
# pipeline: cumulative ladder


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def ladder(docs, num_buckets: int) -> dict[str, float]:
    """Scan, + exchange, + identity ``mapInPandas``, + ``extract_df``.

    Each rung runs LADDER_REPS times into the noop sink; a rung's layer
    time is its median minus the median of the rung below.
    """
    from pyspark.sql import functions as F

    from historicaldatadocumentparsersystem_spark import pipeline

    scan = docs.select("url", "warc_ts", "lang", "html", "text")
    exchanged = (pipeline.with_part_id(scan, num_buckets)
                 .repartition(num_buckets, F.xxhash64(F.col("url"))))
    identity = exchanged.mapInPandas(lambda it: it, exchanged.schema)
    extracted = pipeline.extract_df(scan, num_buckets)
    rungs = [("scan", scan), ("exchange", exchanged),
             ("udf_boundary", identity), ("extract", extracted)]
    out, below = {}, 0.0
    for name, df in rungs:
        med = statistics.median(_noop(df) for _ in range(LADDER_REPS))
        out[f"pipeline.{name}_s"] = med - below
        below = med
    out["ladder_top_s"] = below
    return out


# ---------------------------------------------------------------------------
# extractor: single-core pass by kind and phase


def extractor_pass(rows) -> dict[str, float]:
    from historicaldatadocumentparsersystem_spark.extractor import (
        extract_document, sniff_kind)
    from historicaldatadocumentparsersystem_spark.extractor.htmlx import (
        decode_payload, extract_html, parse_dom)
    from historicaldatadocumentparsersystem_spark.extractor.pdfx import \
        extract_pdf

    clock = time.perf_counter
    per_kind = {k: [0, 0.0] for k in KINDS}
    phase = {"sniff": 0.0, "decode": 0.0, "dom_scan": 0.0, "html": 0.0,
             "pdf": 0.0}
    n_html = n_pdf = spans = failed = 0
    for r in rows:
        payload = r["html"] or None
        t0 = clock()
        res = extract_document(payload, r["text"])
        dt = clock() - t0
        slot = per_kind.setdefault(res.doc_kind, [0, 0.0])
        slot[0] += 1
        slot[1] += dt
        spans += len(res.spans)
        failed += bool(res.failed)
        # phases, timed separately on the same payload
        t0 = clock()
        kind = sniff_kind(payload)
        phase["sniff"] += clock() - t0
        if kind == "html":
            n_html += 1
            t0 = clock()
            src = decode_payload(payload)
            t1 = clock()
            tree = parse_dom(src)
            t2 = clock()
            del tree        # freed outside the timed calls
            t3 = clock()
            result = extract_html(src)
            t4 = clock()
            del result
            phase["decode"] += t1 - t0
            phase["dom_scan"] += t2 - t1
            phase["html"] += t4 - t3
        elif kind == "pdf":
            n_pdf += 1
            t0 = clock()
            extract_pdf(payload)
            phase["pdf"] += clock() - t0
    n = max(1, len(rows))
    out = {}
    for k in KINDS:
        cnt, tot = per_kind[k]
        out[f"extractor.ms_per_doc.{k}"] = 1000 * tot / max(1, cnt)
        out[f"extractor.docs.{k}"] = cnt
    out["extractor.sniff_ms"] = 1000 * phase["sniff"] / n
    out["extractor.decode_ms"] = 1000 * phase["decode"] / max(1, n_html)
    out["extractor.dom_scan_ms"] = 1000 * phase["dom_scan"] / max(1, n_html)
    out["extractor.classify_ms"] = (1000 * (phase["html"] - phase["dom_scan"])
                                    / max(1, n_html))
    out["extractor.pdf_ms"] = 1000 * phase["pdf"] / max(1, n_pdf)
    out["extractor.spans_per_doc"] = spans / n
    out["extractor.failed_docs"] = failed
    return out


def batch_overhead_ms(rows) -> float:
    """Median ms that ``extract_batch`` spends on a BATCH_ROWS-row batch
    outside ``extract_document``. The batch runs with
    ``pipeline.extract_document`` replaced by a replay of results
    computed beforehand, so the figure is not a small difference of two
    noisy timings."""
    import pandas as pd

    from historicaldatadocumentparsersystem_spark import pipeline

    extract_document = pipeline.extract_document
    times = []
    try:
        for i in range(0, len(rows), BATCH_ROWS):
            part = rows[i:i + BATCH_ROWS]
            frame = pd.DataFrame(part).assign(part_id=0)
            replay = iter([extract_document(r["html"] or None, r["text"])
                           for r in part])
            pipeline.extract_document = lambda payload, fallback: next(replay)
            t0 = time.perf_counter()
            for _ in pipeline.extract_batch(iter([frame])):
                pass
            times.append(time.perf_counter() - t0)
    finally:
        pipeline.extract_document = extract_document
    return 1000 * statistics.median(times)


# ---------------------------------------------------------------------------
# catalog: spans around the Catalog methods


def wrap_catalog(tracer) -> None:
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    for name in CATALOG_CALLS:
        tracer.wrap(Catalog, name, f"catalog.{name}")


def per_job_sums(tracer, prefix: str) -> list[dict[str, float]]:
    """For each "job" span with descendant spans whose names start with
    ``prefix``, their summed durations keyed by span name."""
    spans = tracer.spans
    jobs: dict[int, dict[str, float]] = {}
    for s in spans:
        if not s["name"].startswith(prefix) or s["end"] is None:
            continue
        p = s["parent"]
        while p is not None and spans[p]["name"] != "job":
            p = spans[p]["parent"]
        if p is not None:
            acc = jobs.setdefault(p, {})
            acc[s["name"]] = acc.get(s["name"], 0.0) + s["end"] - s["start"]
    return list(jobs.values())


def catalog_times(tracer, ladder_top_s: float) -> dict[str, float]:
    jobs = per_job_sums(tracer, "catalog.")

    def med(*names):
        return statistics.median(
            sum(j.get(f"catalog.{n}", 0.0) for n in names) for j in jobs)

    return {
        "catalog.write_s": med("write_extracted") - ladder_top_s,
        "catalog.lineage_s": med("read_extracted_parts", "append_lineage"),
        "catalog.done_partitions_s": med("done_partitions"),
        "catalog.snapshot_rows_s": med("snapshot_output_rows"),
        "catalog.commit_s": med("commit_snapshot"),
    }


def listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def files_written(before: dict, after: dict) -> dict[str, int]:
    new = [p for p, v in after.items() if before.get(p) != v]
    return {"catalog.files_written": len(new),
            "catalog.bytes_written": sum(after[p][0] for p in new)}
