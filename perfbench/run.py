#!/usr/bin/env python3
"""Repository benchmark: extraction and document-curation workloads.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Workloads:

- ``crawl_mix``    full ``pipeline.run_extraction`` into a fresh catalog.
- ``doc_curation`` eight keep-set ``__spark_entry__`` queries into the
  noop sink.

A traced run of one workload also measures the layers it does not
stress: extraction runs time the query set once (cold, right after the
extraction jobs), and doc_curation runs the extraction layers on a
PROBE_DOCS-document corpus, so every traced run reports every layer.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload untraced, then traced, then measures each layer, and prints
the per-layer metrics. The last stdout line is one JSON object. A full
record (samples, set-up parts, host weather) and, when traced, the
span file are written under ``.perfbench_out/``. Output that differs
from its reference exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
from tracing import MemoryPeak, Tracer, spark_counts  # noqa: E402

WORKLOADS = ("crawl_mix", "doc_curation")
CURATION_QUERIES = ("dedup_clusters", "minhash_lsh_pairs", "bm25_scores",
                    "chunk_token_budget", "quality_classifier",
                    "semantic_dedup", "lsh_topk", "text_profile")
CRAWL_DOCS = 1600
# doc_curation's traced run measures the extraction layers on this many docs
PROBE_DOCS = 512
SNAPSHOT = "snap-bench"
# jobs per timed loop at least; one doc_curation job is the whole query set
MIN_JOBS = 3
MIN_SETS = 1
# input generation is repeated and its median counted in setup_s
SETUP_REPS = 3
WARMUP_JOBS = 3
SELF_CHECK_SHARE = 0.10
# extractor output pinned by the repository's scale-8 golden test
GOLDEN = ("fixtures/golden_extracted_seed42_n100_scale8.parquet", 100, 42)


class OutputMismatch(Exception):
    pass


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 1 and 2 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(2048, total_kb // 4096))


def make_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{driver_memory_mb()}m")
             # a fixed, pre-touched heap: GC pressure does not depend on
             # how the JVM grew the heap and timed jobs take no page
             # faults on it; peak_rss_mb reads heap use from the JVM
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{driver_memory_mb()}m -XX:+AlwaysPreTouch "
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.sql.shuffle.partitions", str(2 * cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot (host weather)."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def fault_probe_ms(mb: int = 32) -> float:
    """Wall ms to first-touch a fresh ``mb`` MiB buffer (host weather)."""
    fresh = bytearray(mb << 20)
    t0 = time.monotonic()
    fresh[::4096] = b"\x01" * len(fresh[::4096])
    return round((time.monotonic() - t0) * 1000, 1)


class Bench:
    """State of one benchmark invocation."""

    def __init__(self, args, spark, work: str, tracer: Tracer) -> None:
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.tracer = tracer
        self.cpus = host_cpus()
        # two buckets per core
        self.num_buckets = 2 * self.cpus
        # a traced run spends half its time untraced, half traced
        self.seconds = args.seconds / (2 if args.trace else 1)
        self.setup_parts: dict[str, list[float]] = {}
        self.fault_tags: list[float] = []
        self.steal_shares: list[float] = []
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def timed_setup(self, part: str, fn, *a, reps: int = 1, **kw):
        """Run a set-up step ``reps`` times, recording each duration;
        returns the last result."""
        for _ in range(reps):
            t0 = time.monotonic()
            out = fn(*a, **kw)
            self.setup_parts.setdefault(part, []).append(
                time.monotonic() - t0)
        return out

    def setup_s(self) -> float:
        """Set-up time so far: the sum of each step's median duration."""
        return sum(statistics.median(v) for v in self.setup_parts.values())

    def timed_loop(self, seconds: float, job, before=None,
                   min_jobs: int = MIN_JOBS) -> tuple[list[float], list]:
        """Run ``job`` for about ``seconds``, and at least ``min_jobs``
        times. ``before`` prepares each job outside its timing. Each job
        runs under its own Spark job group. Returns the job wall times
        and the (result, job group) pairs."""
        times, results = [], []
        steal0, total0 = cpu_ticks()
        t_end = time.monotonic() + seconds
        # a job is started only if it should end within half a job of
        # the deadline, so a run measures about ``seconds`` of jobs
        while (len(times) < min_jobs or time.monotonic()
               + statistics.median(times) / 2 < t_end):
            arg = before() if before else None
            gid = f"job-{len(times)}-{time.monotonic_ns()}"
            self.sc.setJobGroup(gid, "perfbench job")
            t0 = time.monotonic()
            with self.tracer.span("job"):
                res = job(arg)
            times.append(time.monotonic() - t0)
            self.sc.setJobGroup("", "")
            results.append((res, gid))
            self.fault_tags.append(fault_probe_ms())
        steal1, total1 = cpu_ticks()
        self.steal_shares.append(
            (steal1 - steal0) / max(1, total1 - total0))
        return times, results

    def traced_loop(self, seconds: float, job, before=None,
                    min_jobs: int = MIN_JOBS):
        """``timed_loop`` with spans recorded."""
        self.tracer.enabled = True
        try:
            return self.timed_loop(seconds, job, before, min_jobs)
        finally:
            self.tracer.enabled = False


def trace_summary(untraced: list[float], traced: list[float],
                  explained_s: float) -> dict[str, float]:
    """Trace overhead, and the share of untraced job time that the
    per-layer times leave unexplained (self-check: within 10%)."""
    job_s = statistics.median(untraced)
    return {"trace.overhead_s": statistics.median(traced) - job_s,
            "trace.unexplained_share": (job_s - explained_s) / job_s}


# ---------------------------------------------------------------------------
# extraction workloads


class Extraction:
    """Corpus, catalogs and jobs of one extraction workload."""

    def __init__(self, b: Bench, n_docs: int, reps: int = SETUP_REPS) -> None:
        self.b = b
        self.rows, self.docs = b.timed_setup("corpus_s", self.make_corpus,
                                             n_docs, reps=reps)
        self.catalog = None
        b.timed_setup("warmup_s", self.warm_up)

    def warm_up(self) -> None:
        # the first job is cold; the second lets the JIT settle
        for _ in range(WARMUP_JOBS):
            self.job(self.before())

    def make_corpus(self, n_docs: int):
        """Generate the rows, write them as parquet, open the scan."""
        rows = inputs.crawl_rows(n_docs, self.b.args.seed)
        path = self.b.fresh_dir("corpus")
        inputs.write_corpus(rows, path, self.b.cpus)
        return rows, self.b.spark.read.parquet(path)

    def before(self) -> str:
        """A fresh catalog; the previous job's catalog is removed."""
        if self.catalog:
            shutil.rmtree(self.catalog, ignore_errors=True)
        self.catalog = self.b.fresh_dir("catalog")
        return self.catalog

    def job(self, out_dir: str) -> dict:
        from historicaldatadocumentparsersystem_spark import pipeline
        with self.b.tracer.span("pipeline.run_extraction"):
            return pipeline.run_extraction(
                self.b.spark, self.docs, out_dir,
                run_id=os.path.basename(out_dir), snapshot_id=SNAPSHOT,
                num_buckets=self.b.num_buckets)

    def check(self) -> dict:
        """Digest of the last written table against in-process
        ``extract_document`` over the same generated rows, and
        ``extract_document`` against the committed golden output."""
        from historicaldatadocumentparsersystem_spark.catalog import Catalog
        table = (Catalog(self.catalog).read_extracted(self.b.spark)
                 .select("url", "doc_kind", "extracted_text", "spans",
                         "failed").toPandas())
        got = layers.extraction_digest(
            (r.url, r.doc_kind, r.extracted_text,
             [(s["start"], s["end"], s["kind"]) for s in r.spans],
             int(r.failed))
            for r in table.itertuples(index=False))
        want, failed_rows = layers.reference_digest(self.rows)
        if len(table) != len(self.rows) or got != want:
            raise OutputMismatch(
                f"extracted table digest {got} ({len(table)} rows) != "
                f"in-process digest {want} ({len(self.rows)} rows)")
        path, n, seed = GOLDEN
        bad = layers.golden_mismatches(os.path.join(ROOT, path), n, seed,
                                       inputs.PAGE_SCALE)
        if bad:
            raise OutputMismatch(f"extract_document differs from {path} "
                                 f"on {len(bad)} rows, first {bad[0]}")
        return {"digest": got, "rows": len(table),
                "failed_rows": failed_rows, "golden_rows": n}

    def layers(self, seconds: float, min_jobs: int = MIN_JOBS):
        """Traced jobs plus the ladder, catalog, extractor and Spark
        numbers. Returns (metrics, traced job times, explained seconds)."""
        from pyspark.sql import functions as F

        from historicaldatadocumentparsersystem_spark.catalog import Catalog
        b = self.b
        listed = {}

        def before():
            out = self.before()
            listed["before"] = layers.listing(out)
            return out

        traced, results = b.traced_loop(seconds, self.job, before, min_jobs)
        m = layers.files_written(listed["before"],
                                 layers.listing(self.catalog))
        m.update({f"spark.{k}": v for k, v in
                  spark_counts(b.sc, results[-1][1]).items()})
        lineage = Catalog(self.catalog).read_lineage(b.spark)
        extracted = (lineage.where(F.col("run_id")
                                   == os.path.basename(self.catalog))
                     .agg(F.sum("output_rows")).first()[0])
        m["pipeline.useful_ratio"] = extracted / len(self.rows)
        lad = layers.ladder(self.docs, b.num_buckets)
        top = lad.pop("ladder_top_s")
        m.update(lad)
        cat = layers.catalog_times(b.tracer, top)
        m.update(cat)
        m.update(layers.extractor_pass(self.rows))
        m["pipeline.batch_overhead_ms"] = layers.batch_overhead_ms(self.rows)
        return m, traced, top + sum(cat.values())


def run_extraction_workload(b: Bench) -> dict:
    w = Extraction(b, CRAWL_DOCS)
    setup_s = b.setup_s()
    with MemoryPeak(b.sc) as mem:
        times, _ = b.timed_loop(b.seconds, w.job, w.before)
    out = {"setup_s": setup_s, "n_docs": len(w.rows), "job_s": times,
           "memory": mem, "check": w.check()}
    if b.args.trace:
        m, traced, explained = w.layers(b.seconds)
        m.update(trace_summary(times, traced, explained))
        m["failed_share"] = out["check"]["failed_rows"] / len(w.rows)
        sf_dir = inputs.write_curation_tables(b.fresh_dir("sf"),
                                              b.args.seed)
        qm = Curation(b, sf_dir).layers(0, min_jobs=1)[0]
        m.update({k: v for k, v in qm.items() if not k.startswith("spark.")})
        out["layers"] = m
    return out


# ---------------------------------------------------------------------------
# document curation


class Curation:
    """The keep-set query set over generated curation tables."""

    def __init__(self, b: Bench, sf_dir: str) -> None:
        import __spark_entry__ as entry
        self.b = b
        self.sf_dir = sf_dir
        self.queries = {n: entry._all_queries()[n] for n in CURATION_QUERIES}

    def check(self) -> dict:
        """Collect each query once and compare its value hash with the
        pinned hash of its ``oracle_sql()`` twin. Also the warm-up: the
        queries run concurrently, so their first-run costs (Python
        worker start, code generation) overlap."""
        from concurrent.futures import ThreadPoolExecutor

        from tools.oracle_replica import _value_hash
        with open(os.path.join(HERE, "oracle_hashes.json")) as fh:
            pinned = json.load(fh)["hashes"]

        def value_hash(build) -> str:
            table = build(self.b.spark, self.sf_dir).toArrow()
            return _value_hash([tuple(r.values()) for r in table.to_pylist()],
                               table.column_names)

        with ThreadPoolExecutor(len(self.queries)) as pool:
            got = dict(zip(self.queries,
                           pool.map(value_hash, self.queries.values())))
        bad = {n: [h, pinned.get(n)] for n, h in got.items()
               if h != pinned.get(n)}
        if bad:
            raise OutputMismatch(f"value hash != pinned oracle hash: {bad}")
        return {"hashes": got}

    def job(self, _=None) -> dict[str, dict]:
        """Every query once, each under its own job group; returns the
        job group and wall seconds per query."""
        groups, secs = {}, {}
        for name, build in self.queries.items():
            groups[name] = f"q-{name}-{time.monotonic_ns()}"
            self.b.sc.setJobGroup(groups[name], name)
            t0 = time.monotonic()
            with self.b.tracer.span(f"queries.{name}"):
                build(self.b.spark, self.sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            secs[name] = time.monotonic() - t0
        return {"groups": groups, "s": secs}

    def layers(self, seconds: float, min_jobs: int):
        """Per-query seconds (median over traced sets), Spark jobs per
        query and per set. Returns (metrics, traced set times, explained
        seconds)."""
        traced, results = self.b.traced_loop(seconds, self.job,
                                             min_jobs=min_jobs)
        sums = layers.per_job_sums(self.b.tracer, "queries.")
        m = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0}
        for name, gid in results[-1][0]["groups"].items():
            m[f"queries.{name}.s"] = statistics.median(
                j[f"queries.{name}"] for j in sums)
            counts = spark_counts(self.b.sc, gid)
            m[f"queries.{name}.jobs"] = counts["jobs"]
            for k, v in counts.items():
                m[f"spark.{k}"] += v
        explained = sum(v for k, v in m.items() if k.endswith(".s"))
        return m, traced, explained


def run_curation_workload(b: Bench) -> dict:
    sf_dir = b.timed_setup(
        "tables_s", lambda: inputs.write_curation_tables(b.fresh_dir("sf"),
                                                         b.args.seed),
        reps=SETUP_REPS)
    w = Curation(b, sf_dir)
    check = b.timed_setup("warmup_s", w.check)
    setup_s = b.setup_s()
    with MemoryPeak(b.sc) as mem:
        times, results = b.timed_loop(b.seconds, w.job, min_jobs=MIN_SETS)
    out = {"setup_s": setup_s, "n_docs": inputs.CURATION_DOCS,
           "job_s": times, "memory": mem,
           "check": check, "query_s": [res["s"] for res, _ in results]}
    if b.args.trace:
        m, traced, explained = w.layers(b.seconds, min_jobs=1)
        m.update(trace_summary(times, traced, explained))
        m["failed_share"] = 0.0
        probe = Extraction(b, PROBE_DOCS, reps=1)
        em = probe.layers(0)[0]
        m.update({k: v for k, v in em.items() if not k.startswith("spark.")})
        out["layers"] = m
    return out


# ---------------------------------------------------------------------------


def end_to_end(res: dict) -> dict:
    # on doc_curation docs_per_s is the query set's input document rows
    # over job_s; it is reported so every workload has every metric
    job_s = statistics.median(res["job_s"])
    return {
        "job_s": {"value": job_s, "unit": "s"},
        "docs_per_s": {"value": res["n_docs"] / job_s, "unit": "1/s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": res["memory"].peak_bytes / 2**20,
                        "unit": "MB"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail before Spark starts when the program is not present
    import bench as frozen_bench
    import historicaldatadocumentparsersystem_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # Spark, its Python workers and tempfile users stay inside ``work``
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(work)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = Tracer(run_id, enabled=False)
    if args.trace:
        layers.wrap_catalog(tracer)
    weather = {"before": frozen_bench._membw_probe()}
    spark = b = None
    try:
        t0 = time.monotonic()
        spark = make_spark(work, host_cpus())
        spark_start_s = time.monotonic() - t0
        b = Bench(args, spark, work, tracer)
        b.setup_parts["spark_start_s"] = [spark_start_s]
        if args.workload == "doc_curation":
            res = run_curation_workload(b)
        else:
            res = run_extraction_workload(b)
    except OutputMismatch as exc:
        print(f"OUTPUT MISMATCH: {exc}", file=sys.stderr)
        res = None
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        return 1
    weather["after"] = frozen_bench._membw_probe()
    weather["run_fault_ms"] = b.fault_tags
    weather["loop_steal_share"] = b.steal_shares
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in sorted(res["layers"].items())}
    else:
        metrics = end_to_end(res)
    record = {"run_id": run_id, "cpus": b.cpus,
              "driver_memory_mb": driver_memory_mb(),
              "num_buckets": b.num_buckets, "n_docs": res["n_docs"],
              "job_s_samples": res["job_s"], "setup_parts": b.setup_parts,
              "query_s": res.get("query_s"),
              "peak_mb": {**{k: v / 2**20 for k, v in
                             res["memory"].pool_bytes.items()},
                          "python_workers":
                              res["memory"].workers_bytes / 2**20},
              "check": res["check"], "weather": weather,
              "metrics": metrics}
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.json"))
    if args.trace and args.workload == "crawl_mix":
        share = res["layers"]["trace.unexplained_share"]
        if abs(share) > SELF_CHECK_SHARE:
            print(f"self-check: {share:.1%} of job_s is unexplained by the "
                  f"layer times (limit {SELF_CHECK_SHARE:.0%})")
    jobs = res["job_s"]
    print(f"{args.workload}: job_s median {statistics.median(jobs):.3f} s "
          f"over {len(jobs)} jobs (min {min(jobs):.3f}, max "
          f"{max(jobs):.3f}); weather {json.dumps(weather)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": True, "attempted": len(jobs), "failed": 0,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
