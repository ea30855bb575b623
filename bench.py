"""Bench harness — BASELINE.md protocol, driver-run per round.

Primary metric (BASELINE.json:2): frontier-processed URLs/sec through
the full distributed pipeline (schedule + politeness + fetch + dedup +
image decode) on a deterministic zipf-skewed synthetic frontier.
Relational headline queries are timed at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "frontier_urls_per_sec", "value": N, "unit": "urls/sec",
   "queries": {...per-query seconds...}, "sf": ..., ...extras}

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default: the CPUs this
      process may run on, os.sched_getaffinity)
  SPARK_GRAFT_DRIVER_MEM  spark.driver.memory (default: a quarter of
      MemTotal, in MiB)
  SPARK_GRAFT_BENCH_N  frontier rows (default 1_000_000)
  SPARK_GRAFT_BENCH_HOSTS  host universe (default 10_000)
  SPARK_GRAFT_BENCH_CRAWL_REPS  crawl reps, median reported (default 3
      — this VM drifts up to 3.4x per run on identical configs, so a
      single-shot crawl headline is noise; see BENCH/BASELINE.md §3i)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

RELATIONAL_KEYS = [
    "agg_hash_counts",
    "join_inner_equi",
    "win_row_number",
    "topk_per_group",
    "join_range_interval",
    "stream_session",
]


_FAIR_XML = os.path.join(
    REPO_ROOT, "spider_1_spark", "engine", "fairscheduler.xml"
)


def default_driver_mem() -> str:
    """A quarter of MemTotal (/proc/meminfo), as a Spark size string."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 4 // 1024}m"
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    # SPARK_GRAFT_MASTER overrides the master URL — used by the
    # N-vs-4N scaling evidence to run REAL executor JVMs via
    # local-cluster[n_execs,cores,mem_mb] (BENCH/BASELINE.md §3e):
    # one shared JVM (local[N]) under-reports cluster scaling because
    # allocation/lock contention grows with threads per JVM, which a
    # per-executor-JVM deployment never sees.  Executors need
    # PYTHONPATH explicitly (spawned worker processes do not inherit
    # the driver's sys.path).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    return (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        # Multi-executor (local-cluster) runs fetch shuffle blocks over
        # netty; a 10^7-row frontier at P=cores produces >200 MB blocks
        # that OOM the executor heap when buffered in memory (observed:
        # exit 52 at local-cluster[4,4,16384]).  Stream anything big to
        # disk instead — inert for single-JVM local[N] masters.
        .config("spark.network.maxRemoteBlockSizeFetchToMem", "64m")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # local-cluster's mem_mb sizes the WORKER's resource pool; the
        # executor JVM heap still comes from spark.executor.memory
        # (default 1g — silently tiny).  Keep the two in sync.
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXEC_MEM", "4g"),
        )
        .appName("spider1-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        # zstd beats snappy on BOTH write time and size for the binary
        # image payloads (measured: 0.93s/384MB vs 1.98s/432MB per
        # 0.8GB at 16 tasks)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # wave pipelining: next wave's critical jobs must not FIFO-queue
        # behind the previous wave's lagging sink writes (see
        # engine/fairscheduler.xml for pool weights + measurements).
        # SPARK_GRAFT_SCHED=fifo disables for A/B runs on this VM,
        # whose throughput drifts too much for cross-batch comparison.
        .config(
            "spark.scheduler.mode",
            os.environ.get("SPARK_GRAFT_SCHED", "fair").upper(),
        )
        .config("spark.scheduler.allocation.file", _FAIR_XML)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def crawl_bench(spark, n_rows: int, n_hosts: int, warm: bool = False) -> dict:
    """Drain a zipf frontier in ~3 politeness waves; URLs/sec overall.

    SPARK_GRAFT_BENCH_PAYLOAD=none runs the image-free synthetic web
    (webgen payload mode): the full schedule/rank/gate/fetch/extract/
    dedup pipeline without image bytes — the configuration that lets a
    10^8-row frontier fit this box for the N-vs-4N scaling evidence.
    Bloom sidecars are sized to the frontier (~10 bits/URL, floor at
    the engine default) so the prefilter isn't saturated into
    uselessness at 10^8 rows.
    """
    from spider_1_spark.engine import Policy, SparkCrawler
    from spider_1_spark.fixtures.frontier_gen import write_frontier
    from spider_1_spark.fixtures.webgen import SyntheticWeb

    # B sized so the zipf hot host (~19% of N) drains in ~TARGET waves
    # (default 3, the BASELINE.md protocol).  SPARK_GRAFT_BENCH_WAVES
    # scales the wave count at fixed input — the §3e amortization
    # evidence: per-wave critical-chain cost is measured directly by
    # the slope of wall-clock vs wave count.
    target_waves = int(os.environ.get("SPARK_GRAFT_BENCH_WAVES", "3"))
    wave_budget = max(16, int(0.19 * n_rows / target_waves))
    policy = Policy(
        max_depth=0,  # frontier processing: anchors dropped, images kept
        per_host_wave_budget=wave_budget,
        per_host_total_cap=1 << 40,
        global_page_budget=1 << 40,
    )
    payload = os.environ.get("SPARK_GRAFT_BENCH_PAYLOAD", "image")
    web = SyntheticWeb(n_hosts=n_hosts, payload=payload)
    n_shards = 32
    bloom_bits = int(
        os.environ.get("SPARK_GRAFT_BENCH_BLOOM_BITS", "0")
    ) or max(1 << 22, 1 << (10 * n_rows // n_shards).bit_length())
    tmp = tempfile.mkdtemp(prefix="spider1_bench_")
    try:
        fpath = os.path.join(tmp, "frontier")
        write_frontier(spark, fpath, n_rows, n_hosts)  # excluded from timing
        seed_frame = spark.read.parquet(fpath)
        crawler = SparkCrawler(
            spark, policy, web, os.path.join(tmp, "state"),
            bloom_shards=n_shards, bloom_bits=bloom_bits,
        )
        t0 = time.time()
        art = crawler.run_frontier(seed_frame)
        elapsed = time.time() - t0
        c = art.counters
        evaluated = (
            c["fetched"] + c["deferred"] + c["dropped"] + c["robots_blocked"]
        )
        n_images = art.images.count() if not warm else 0
        return {
            "elapsed_s": round(elapsed, 2),
            "urls_per_sec": round(evaluated / elapsed, 1),
            "frontier_rows": n_rows,
            "evaluated": evaluated,
            "n_waves": art.n_waves,
            "counters": c,
            "images_rows": n_images,
            "payload": payload,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def relational_bench(spark, sf_dir: str, reps: int = 3) -> dict:
    """Median-of-reps per key.

    MUST run in a session the crawl never touched: BENCH_r02 recorded
    join_range_interval at 17.5 s in the post-crawl session vs 1.2-1.7 s
    fresh (VERDICT r2 "What's wrong" 1 — post-crawl JVM/GC state, not
    the queries, which are byte-identical).  main() stops the crawl
    session and builds a new SparkContext before calling this; the
    first rep per key additionally absorbs codegen/scan warm-up, and
    the median over ``reps`` timed reps rides over the box's ±15-30%
    single-shot noise (BENCH/BASELINE.md §1).
    """
    import statistics

    from spider_1_spark.relational.queries import FNS

    times = {}
    for key in RELATIONAL_KEYS:
        FNS[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(reps):
            t0 = time.time()
            FNS[key](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.time() - t0)
        times[key] = round(statistics.median(samples), 3)
    return times


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    n_rows = int(os.environ.get("SPARK_GRAFT_BENCH_N", "1000000"))
    n_hosts = int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "10000"))

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # warm-up (excluded per BASELINE.md protocol): JVM/codegen/Arrow
        crawl_bench(spark, 20_000, 200, warm=True)

        # The crawl headline is the MEDIAN of >=1 identical reps: this
        # VM's per-run drift reached 3.4x on identical configs in round
        # 3 (same commit, local[32], 10^6 rows: 90-305 s across seven
        # runs in one afternoon; an interleaved 4-variant A/B showed
        # the spread is uncorrelated with engine version — BENCH/
        # BASELINE.md §1/§3i), so a single-shot headline is a coin
        # flip, not a measurement.  Counters are asserted identical
        # across reps (determinism check riding along for free).
        crawl_reps = int(os.environ.get("SPARK_GRAFT_BENCH_CRAWL_REPS", "3"))
        runs = [crawl_bench(spark, n_rows, n_hosts)
                for _ in range(max(1, crawl_reps))]
        for r in runs[1:]:
            # explicit raise, not assert: python -O (long benchmark
            # batches) compiles asserts out, silently disabling the
            # determinism guard
            if r["counters"] != runs[0]["counters"]:
                raise RuntimeError(
                    "nondeterministic crawl counters across bench "
                    f"reps: {r['counters']} vs {runs[0]['counters']}"
                )
        import statistics

        med = statistics.median(r["elapsed_s"] for r in runs)
        crawl = min(runs, key=lambda r: abs(r["elapsed_s"] - med))
        crawl["rep_elapsed_s"] = [r["elapsed_s"] for r in runs]
    finally:
        spark.stop()

    # relational keys run in a FRESH SparkContext: the crawl leaves
    # JVM-level state (GC pressure, codegen/broadcast residue) that
    # polluted BENCH_r02's relational timings up to 17x (VERDICT r2).
    # SKIP_REL=1 for scaling-evidence legs, where only the crawl number
    # matters and the extra session would stretch multi-hour batches.
    rel: dict = {}
    if not os.environ.get("SPARK_GRAFT_BENCH_SKIP_REL"):
        spark = build_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            rel = relational_bench(
                spark, sf_dir,
                reps=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")),
            )
        finally:
            spark.stop()

    queries = {"crawl_frontier": crawl["elapsed_s"], **rel}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:  # attribute every raw line to the engine commit
        import subprocess

        commit = subprocess.run(
            ["git", "-C", REPO_ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
        if commit and subprocess.run(
            ["git", "-C", REPO_ROOT, "diff", "--quiet", "HEAD", "--",
             "spider_1_spark", "bench.py"],
            timeout=10,
        ).returncode != 0:
            commit += "-dirty"  # uncommitted engine changes
    except Exception:
        commit = None
    out = {
        "commit": commit,
        "master": os.environ.get("SPARK_GRAFT_MASTER"),
        "metric": "frontier_urls_per_sec",
        "value": crawl["urls_per_sec"],
        "unit": "urls/sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "frontier_rows": crawl["frontier_rows"],
        "evaluated": crawl["evaluated"],
        "n_waves": crawl["n_waves"],
        "counters": crawl["counters"],
        "images_rows": crawl["images_rows"],
        "payload": crawl["payload"],
        "crawl_rep_elapsed_s": crawl.get("rep_elapsed_s"),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
