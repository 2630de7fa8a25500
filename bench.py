#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md scaling protocol).

Default mode: one JSON line
  {"metric": "...", "value": docs_per_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...}

- headline metric: flagship-extraction throughput (documents/sec) over
  the synthetic corpus (distributed generation, Arrow-batched UDF) —
  BASELINE.json's metric.
- per-query seconds for every __spark_entry__.queries() entry at
  $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Scaling mode (``--scaling``): reruns the flagship job in subprocesses
at local[N] and local[4N] (SPARK_GRAFT_SCALE_N, default 8) on the SAME
input and reports throughput at both plus efficiency = speedup/4 — the
sandbox proxy for the north rule's N -> 4N executor criterion. Knobs:
SPARK_GRAFT_BENCH_DOCS, SPARK_GRAFT_DOC_SCALE (page size),
SPARK_GRAFT_BENCH_INPUT=cache|parquet (see BENCH/BASELINE.md for the
measured sweep and which configuration evidences what).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _host_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the box)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity on this platform
        return os.cpu_count() or 1


def _host_driver_mem() -> str:
    """16g, capped at half the physical RAM: local mode runs executors
    inside the driver JVM, and the Python workers and the page cache
    need the other half."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(16 << 10, ram_mb // 2)}m"


CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "60000"))
# 60k x ~12 KB (~740 MB html) keeps a local[32] timed run ~10 s — long
# enough that job fixed costs (scheduling, first-stage settling) stop
# dominating the docs/sec reading; 30k runs were ~5 s and noisy
# page-size scale: 8 => ~12 KB mean pages, the realistic Common-Crawl
# band, so per-doc compute dominates fixed Spark overheads
DOC_SCALE = int(os.environ.get("SPARK_GRAFT_DOC_SCALE", "8"))
# input mode for timed extraction runs: "parquet" = scan a tmpfs table
# per run (full job shape); "cache" = serve from the JVM block manager
# (isolates the extraction pipeline from scan cost)
BENCH_INPUT = os.environ.get("SPARK_GRAFT_BENCH_INPUT", "parquet")


def make_spark(cpus: int):
    from pyspark.sql import SparkSession
    # shuffle/spill local dirs on tmpfs: on this shared VM /tmp is ext4,
    # so every timed run writes the whole corpus through the disk — a
    # host-constant bandwidth term. On a real N vs 4N cluster shuffle
    # dirs are per-executor local disks that scale WITH the cluster, so
    # tmpfs is the fair single-box proxy (and kills writeback noise).
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp")
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("historicaldatadocumentparsersystem-spark-bench")
            .config("spark.local.dir", local_dir)
            # with tmpfs shuffle dirs, lz4 on the 12 KB html blobs is
            # pure CPU for a memcpy-speed medium — skip it (a real
            # cluster with disk/network shuffle keeps compression ON)
            .config("spark.shuffle.compress",
                    str(not local_dir.startswith("/dev/shm")).lower())
            .config("spark.shuffle.spill.compress",
                    str(not local_dir.startswith("/dev/shm")).lower())
            .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
            .config("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                    or _host_driver_mem())
            .config("spark.ui.enabled", "false")
            .getOrCreate())


# 8 timed passes, headline = min: besides additive noise bursts, the
# shared VM shows a LONG warm-up — a 12-pass diagnostic measured the
# identical job decaying 68.7 -> 9.7 s monotonically (~5 min to steady
# state; host-side page-sharing/balloon effects, per-pass fault probes
# healthy throughout), so early passes read far below capability and
# the min needs enough passes to reach the plateau. Default 12 (was 8):
# the round-4 quiet record's min landed on pass 12 of 12 — 8 passes
# still understated the plateau by ~35% (bench_r4_quiet.json vs
# bench_r4_quiet12.json: 7 883 vs 12 241 docs/s, both clean weather).
BENCH_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "12"))


def _corpus_parquet(spark, n_docs: int, cpus: int) -> str:
    """Deterministic (seed-42) bench corpus as parquet on tmpfs, reused
    across bench invocations and scaling children in the same boot —
    regeneration was ~90 s of every run for an identical byte stream.
    Written to a temp dir + atomic rename; _SUCCESS guards torn writes.
    """
    import hashlib
    import shutil
    import tempfile
    from historicaldatadocumentparsersystem_spark import fixtures

    # key the cache by the fixture generator's content too: without it,
    # a fixtures.py change silently reuses the stale corpus until reboot
    # and every subsequent bench measures the OLD data
    with open(fixtures.__file__, "rb") as fh:
        fix_ver = hashlib.md5(fh.read()).hexdigest()[:8]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    path = os.path.join(base,
                        f"hddps-bench-corpus-{n_docs}x{DOC_SCALE}-{fix_ver}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = tempfile.mkdtemp(prefix="bench-corpus-", dir=base)
    fixtures.corpus_df_distributed(
        spark, n_docs, num_partitions=cpus * 2, scale=DOC_SCALE
    ).write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:                      # concurrent builder won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _membw_probe(mb: int = 64, reps: int = 4) -> dict:
    """Host weather report, two numbers per sample:

    - ``memcpy_gbps``: steady-state copy over PRE-FAULTED buffers.
    - ``fault_ms``: wall ms to first-touch a FRESH ``mb`` MiB mapping
      (one write per 4 KiB page).

    Isolating the two found the real noise mechanism on this shared
    VM: steady-state bandwidth stays healthy (~6 GB/s) during bursts,
    but page-fault service time collapses ~200x (observed 10 s to
    fault 128 MB vs ~50 ms quiet — host memory overcommit). Spark
    runs allocate fresh Arrow/shuffle buffers constantly, so fault
    bursts inflate wall times while warm pure-CPU work is untouched.
    Recorded before/after the timed passes; numbers are reported as
    measured, never adjusted."""
    src = bytearray(mb << 20)
    dst = bytearray(mb << 20)
    dst[:] = src                           # pre-fault both buffers
    t0 = time.monotonic()
    for _ in range(reps):
        dst[:] = src                       # in-place copy, no fresh pages
    gbps = round(mb / 1024 * reps / (time.monotonic() - t0), 2)
    t0 = time.monotonic()
    fresh = bytearray(mb << 20)
    fresh[::4096] = b"\x01" * len(fresh[::4096])
    fault_ms = round((time.monotonic() - t0) * 1000, 1)
    return {"memcpy_gbps": gbps, "fault_ms": fault_ms}


def time_extraction(spark, n_docs: int, runs: int = BENCH_RUNS) -> dict:
    """Generate corpus on executors, persist, then time extraction only.

    Protocol (BASELINE.md): 1 full-partitioning warmup (spins up every
    reused Python worker + Arrow path on ALL partitions — a limit()
    warmup would warm a single task only), then ``runs`` timed passes.
    Headline = MIN of the timed passes: the job is deterministic and
    the shared VM's noise bursts are strictly additive (observed the
    same run at 8 s and 57 s minutes apart), so the minimum is the
    least-contaminated sample; every pass is still reported in
    runs_sec, with the median alongside.
    """
    import statistics
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark import pipeline

    cpus = spark.sparkContext.defaultParallelism
    # the corpus is PARQUET, read per run — the real job shape
    # (scan -> shuffle -> UDF), served from the OS page cache.
    # Caching it in the JVM block manager instead caused multi-GB heap
    # churn that throttled the timed runs (GC, not extraction).
    # tmpfs when available: parquet scan stays in the plan, but shared-VM
    # disk writeback stops injecting 2-4x run-to-run noise
    docs = spark.read.parquet(_corpus_parquet(spark, n_docs, cpus))
    if BENCH_INPUT == "cache":
        from pyspark import StorageLevel
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    bytes_in = docs.select(
        F.sum(F.coalesce(F.length("html"), F.lit(0)))).first()[0] or 0
    pipeline.extract_df(docs, num_buckets=cpus * 2).count()  # warmup
    bw0 = _membw_probe()
    times, n_out, run_fault_ms = [], 0, []
    for _ in range(runs):
        t0 = time.monotonic()
        n_out = pipeline.extract_df(docs, num_buckets=cpus * 2).count()
        times.append(time.monotonic() - t0)
        # tag EACH pass with adjacent fault weather (storms are
        # sub-minute; the block-level brackets miss them)
        fresh = bytearray(32 << 20)
        t0 = time.monotonic()
        fresh[::4096] = b"\x01" * len(fresh[::4096])
        run_fault_ms.append(round((time.monotonic() - t0) * 1000, 1))
    bw1 = _membw_probe()
    wall = min(times)
    return {"n_docs": n_out, "wall_sec": round(wall, 3),
            "runs_sec": [round(t, 3) for t in times],
            "median_sec": round(statistics.median(
                times[1:] if len(times) > 1 else times), 3),
            "docs_per_sec": round(n_out / wall, 2),
            "mb_in": round(bytes_in / 1e6, 1),
            "mb_per_sec": round(bytes_in / 1e6 / wall, 2),
            "host_probe": [bw0, bw1],
            "run_fault_ms": run_fault_ms}


def run_queries(spark, sf_dir: str,
                passes: int = 2) -> dict[str, float]:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    # spin up the reused Python UDF workers once so the first query
    # isn't charged ~6 s of worker start + pandas import
    import pandas as _pd
    spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism) \
        .mapInPandas(lambda it: it, "id long").count()
    # min of `passes` per query: a single pass is exposed to the
    # host's sub-minute fault storms — r2's five phantom "per-query
    # regressions" were exactly that (all cleared on a fresh window).
    # Same additive-noise argument as the extraction headline.
    out: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        best = None
        for _ in range(passes):
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
    return out


def main_default() -> None:
    # each phase gets its OWN JVM: per-query timings degrade 2s -> 16s
    # when run after extraction, and extraction runs drift 7s -> 10s
    # when run after 47 queries (accumulated heap/GC pressure in both
    # directions). A restart costs ~15 s and decouples the readings.
    t0 = time.monotonic()
    spark = make_spark(CPUS)
    queries = run_queries(spark, SF_DIR)
    spark.stop()
    t1 = time.monotonic()
    spark = make_spark(CPUS)
    ext = time_extraction(spark, BENCH_DOCS)
    spark.stop()
    t2 = time.monotonic()
    print(json.dumps({
        "metric": "extraction_docs_per_sec",
        "value": ext["docs_per_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "extraction": ext,
        "bench_docs": BENCH_DOCS,
        "doc_scale": DOC_SCALE,
        "cpus": CPUS,
        "phase_sec": {"queries": round(t1 - t0, 1),
                      "extraction": round(t2 - t1, 1)},
    }))


def _scaling_child(cpus: int, n_docs: int) -> None:
    spark = make_spark(cpus)
    res = time_extraction(spark, n_docs)
    spark.stop()
    print("SCALING_RESULT " + json.dumps(res))


def main_scaling() -> None:
    # N and 4N parallelism. Default 8->32; on a 32-core host local[32]
    # plus its 32 Python UDF workers oversubscribes the box (64 runnable
    # threads) while local[8] leaves JVM helpers free cores — set
    # SPARK_GRAFT_SCALE_N=4 for the headroom-fair 4->16 proxy.
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "8"))
    # SPARK_GRAFT_PIN_CPUS=1: taskset each child to exactly its core
    # count (0..N-1 / 0..4N-1). Without pinning, the local[N] JVM's
    # helper threads (GC, netty, parquet IO) borrow the box's other
    # 32-N cores — a subsidy a real N-executor cluster does not get —
    # inflating the small-N baseline and understating efficiency.
    # Pinning is the faithful N vs 4N cluster proxy: each "cluster
    # size" owns its cores and nothing more.
    pin = os.environ.get("SPARK_GRAFT_PIN_CPUS", "0") == "1"
    results = {}
    for cpus in (n, 4 * n):
        env = dict(os.environ)
        cmd = [sys.executable, os.path.abspath(__file__),
               "--scaling-child", str(cpus), str(BENCH_DOCS)]
        if pin:
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        proc = subprocess.run(
            cmd, capture_output=True, text=True, env=env, timeout=3600)
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("SCALING_RESULT ")]
        if not line:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            raise SystemExit(f"scaling child local[{cpus}] failed")
        results[cpus] = json.loads(line[-1].split(" ", 1)[1])
    t_n, t_4n = results[n]["docs_per_sec"], results[4 * n]["docs_per_sec"]
    eff = (t_4n / t_n) / 4.0
    print(json.dumps({
        "metric": f"scaling_efficiency_{n}_to_{4 * n}",
        "value": round(eff, 3),
        "unit": "ratio",
        f"throughput_local{n}": t_n,
        f"throughput_local{4 * n}": t_4n,
        "detail": results,
        "bench_docs": BENCH_DOCS,
        "doc_scale": DOC_SCALE,
        "pinned_cpus": pin,
        "input_mode": BENCH_INPUT,
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-child":
        _scaling_child(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        main_scaling()
    else:
        main_default()
