"""The benchmark's Spark session, sized from the machine it runs on.

``local[nproc]`` with ``nproc`` shuffle partitions, a driver heap of
a quarter of ``MemTotal`` and the JVM's C1 compiler only; the other
settings follow ``bench.py`` so the engine runs as it does there.  Every file Spark, the JVM and the
Python workers write goes under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import sys

from perfbench import procstat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Point every temp/scratch location of the JVM and its Python
    workers into ``work`` (must run before the JVM starts)."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so set it, not just the conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def driver_memory_mb() -> int:
    return max(1024, procstat.mem_total_bytes() // 4 // (1 << 20))


def build_spark(work: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    from spider_1_spark.engine.crawler import FAIR_SCHEDULER_XML

    cores = procstat.nproc()
    tmp = os.path.join(work, "tmp")
    mem = driver_memory_mb()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        # a fixed-size heap (-Xms = -Xmx) and the parallel collector,
        # whose young generation is one fixed address range, so the
        # heap's share of the process RSS does not depend on when GC
        # happened to run (G1 picks its young regions anew after each
        # collection and its young size adaptively); C1 only: every run
        # times the first crawl of a fresh JVM, and C2 compilation
        # would take about half of the JVM's CPU during it on a few
        # cores (measured on 4 vCPUs); no perf-data file: the JVM would
        # put it under /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem}m -XX:+UseParallelGC -XX:TieredStopAtLevel=1 "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={work}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", FAIR_SCHEDULER_XML)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python daemon and
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    # the JVM, and the Python daemon and workers it forked (which are
    # re-parented away from this process once the JVM exits)
    children = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.wait_gone(children)


def source_commit() -> tuple[str | None, bool | None]:
    """(commit, dirty) of the checkout, or (None, None) outside git."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None, None
    try:
        head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        status = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--",
             "spider_1_spark", "perfbench"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return None, None
    return head, bool(status.strip())
