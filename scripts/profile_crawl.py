"""Event-log profiler for the crawl bench — per-stage scaling attribution.

Runs the same crawl as bench.py (same knobs) with Spark event logging
enabled, then parses the event log into a per-stage table: the
*serial* span each stage contributed to the wall clock, executor run,
cpu and gc time, shuffle and spill volume, task count, and the engine
layer (job description ``w{wave}/{node}``) that ran it.  Comparing two runs at different
`SPARK_GRAFT_CPUS` shows exactly which stages scale with cores and
which are fixed cost — the input the BASELINE.md §3 efficiency
analysis needs.

Usage:
  SPARK_GRAFT_CPUS=16 SPARK_GRAFT_BENCH_N=1000000 \
      python scripts/profile_crawl.py /tmp/evt16
  python scripts/profile_crawl.py --parse /tmp/evt16   # re-parse only
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def run(evt_dir: str) -> None:
    import bench

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    n_rows = int(os.environ.get("SPARK_GRAFT_BENCH_N", "1000000"))
    n_hosts = int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "10000"))
    os.makedirs(evt_dir, exist_ok=True)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.network.maxRemoteBlockSizeFetchToMem", "64m")
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXEC_MEM", "4g"),
        )
        .appName("spider1-profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", bench._FAIR_XML)
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evt_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench.crawl_bench(spark, 20_000, 200, warm=True)  # warm-up
        res = bench.crawl_bench(spark, n_rows, n_hosts)
        print(json.dumps({"cpus": cpus, **{k: res[k] for k in
                          ("elapsed_s", "urls_per_sec", "n_waves")}}))
    finally:
        spark.stop()


def _open_event_log(evt_dir: str):
    """Text stream of the newest event log in ``evt_dir``."""
    files = [os.path.join(evt_dir, f) for f in os.listdir(evt_dir)
             if not f.startswith(".")]
    path = max(files, key=os.path.getmtime)
    if os.path.isdir(path):  # eventlog_v2 rolling dir
        path = max(
            (os.path.join(path, f) for f in os.listdir(path)
             if "appstatus" not in f),
            key=os.path.getmtime,
        )
    if path.endswith(".zstd"):
        import io

        import pyarrow as pa

        return path, io.TextIOWrapper(
            pa.input_stream(path, compression="zstd"), encoding="utf-8"
        )
    return path, open(path)


def parse(evt_dir: str, top: int = 40) -> None:
    """Per-stage table: wall span, task run/cpu/gc time, shuffle and
    spill volume, and the engine layer that ran the stage — the
    ``w{wave}/{node}`` (or ``seed/{node}``) description of its job."""
    path, text = _open_event_log(evt_dir)
    stages = {}  # sid -> (name, wall_ms, submit_ms)
    layer = {}  # sid -> description of the first job that ran it
    agg = defaultdict(lambda: defaultdict(float))
    with text:
        for line in text:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or "-"
                for sid in e.get("Stage IDs", []):
                    layer.setdefault(sid, desc)
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sub = si.get("Submission Time") or 0
                comp = si.get("Completion Time") or 0
                stages[si["Stage ID"]] = (
                    si["Stage Name"], comp - sub if sub and comp else 0, sub,
                )
            elif ev == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                a = agg[e["Stage ID"]]
                a["n"] += 1
                a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                a["shr_mb"] += (srm.get("Remote Bytes Read", 0)
                                + srm.get("Local Bytes Read", 0)) / 2**20
                a["shw_mb"] += swm.get("Shuffle Bytes Written", 0) / 2**20
                a["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0)) / 2**20
    cols = ("run_s", "cpu_s", "gc_s", "shr_mb", "shw_mb", "spill_mb")
    rows = sorted(stages.items(), key=lambda kv: -kv[1][1])
    t0 = min((sub for _, _, sub in stages.values() if sub), default=0)
    print(f"{'wall_s':>7} {'run_s':>7} {'cpu_s':>7} {'gc_s':>6} "
          f"{'shR_MB':>7} {'shW_MB':>7} {'spill':>6} {'tasks':>6} "
          f"{'sid':>5} {'t+':>7}  {'layer':<16} stage")
    for sid, (name, wall_ms, sub) in rows[:top]:
        a = agg[sid]
        print(f"{wall_ms/1e3:7.2f} {a['run_s']:7.2f} {a['cpu_s']:7.2f} "
              f"{a['gc_s']:6.2f} {a['shr_mb']:7.1f} {a['shw_mb']:7.1f} "
              f"{a['spill_mb']:6.1f} {int(a['n']):6d} {sid:5d} "
              f"{(sub - t0)/1e3:7.1f}  {layer.get(sid, '-'):<16} "
              f"{name[:60]}")
    tot = {c: sum(a[c] for a in agg.values()) for c in cols}
    wall = sum(w for _, w, _ in stages.values()) / 1e3
    print(f"\nTOTAL stage-wall {wall:.1f}s  task-run {tot['run_s']:.1f}s  "
          f"cpu {tot['cpu_s']:.1f}s  gc {tot['gc_s']:.1f}s  "
          f"shuffle-write {tot['shw_mb']:.0f}MB  spill {tot['spill_mb']:.0f}MB  "
          f"file={os.path.basename(path)}")


if __name__ == "__main__":
    if sys.argv[1] == "--parse":
        parse(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 40)
    else:
        run(sys.argv[1])
