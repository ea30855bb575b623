"""Drives one workload through the engine's public entry points.

``Runner`` owns a workload's generated inputs and state roots.  Its
``prepare`` commits the state ``resume_deep`` starts from; ``timed_op``
times one entry call (``run`` / ``run_frontier`` / ``resume``) to the
returned ``CrawlArtifacts``; ``readback`` materializes the committed
tables the correctness gate reads.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from spider_1_spark.engine import SparkCrawler
from spider_1_spark.engine.crawler import CrawlArtifacts
from spider_1_spark.engine.state_iceberg import make_store
from spider_1_spark.reference_model.spider1_ref import COUNTER_NAMES

from perfbench import golden, procstat
from perfbench.replay import WaveInput
from perfbench.trace import StoreProxy, Tracer
from perfbench.workloads import (
    WORKLOADS, FrontierSpec, deep_seed_urls, frontier_pdf, web_for,
)

EVALUATED = ("fetched", "deferred", "dropped", "robots_blocked")


@dataclass
class OpResult:
    crawler: SparkCrawler
    store: StoreProxy
    root: str
    artifacts: CrawlArtifacts
    t_entry: float
    t_return: float
    first_commit_s: float
    evaluated: int
    waves_run: int
    cpu_s: float
    peak_rss_mb: float

    @property
    def crawl_s(self) -> float:
        return self.t_return - self.t_entry


class Runner:
    def __init__(self, spark, workload: str, seed: int, work: str):
        self.spark = spark
        self.workload = workload
        self.spec = WORKLOADS[workload]
        self.policy = self.spec.policy()
        self.web = web_for(self.spec)
        self.work = work
        self._n_roots = 0
        self.seeds: list[str] | None = None
        self.frame = None
        if isinstance(self.spec, FrontierSpec):
            # written once and read back, as bench.py does, so the
            # generator does not rerun inside the timed crawl; written
            # with pyarrow, so no Spark job runs before it
            path = os.path.join(work, "input", "frontier.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            frontier_pdf(self.spec, seed).to_parquet(path, index=False)
            self.frame = spark.read.parquet(path)
        else:
            self.seeds = deep_seed_urls(self.spec, seed)
        # resume_deep: committed state every timed resume starts from
        self.snapshot: str | None = None
        self.base_manifest: dict = {
            "counters": {k: 0 for k in COUNTER_NAMES}, "wave_id": -1,
        }

    # ------------------------------------------------------- crawlers

    def _root(self) -> str:
        self._n_roots += 1
        return os.path.join(self.work, "state", f"root-{self._n_roots}")

    def new_crawler(
        self, root: str | None = None, tracer: Tracer | None = None
    ) -> tuple[SparkCrawler, StoreProxy, str]:
        root = root or self._root()
        store = StoreProxy(make_store(self.spark, root), tracer)
        crawler = SparkCrawler(self.spark, self.policy, self.web, root, store=store)
        return crawler, store, root

    def _entry(self, crawler: SparkCrawler) -> CrawlArtifacts:
        if self.workload == "resume_deep":
            return crawler.resume()
        if self.frame is not None:
            return crawler.run_frontier(self.frame)
        return crawler.run(self.seeds)

    # -------------------------------------------------------- phases

    def prepare(self) -> None:
        """resume_deep only: the crawl whose committed state every timed
        resume restores.  The other workloads time their first crawl."""
        if self.workload != "resume_deep":
            return
        crawler, _, root = self.new_crawler()
        art = crawler.run(self.seeds, max_waves=self.spec.resume_after)
        self.snapshot = os.path.join(self.work, "snapshot")
        shutil.copytree(root, self.snapshot)
        self.base_manifest = crawler.store.read_manifest()
        self.readback(art)
        shutil.rmtree(root, ignore_errors=True)

    def timed_op(self, tracer: Tracer | None = None) -> OpResult:
        root = self._root()
        if self.snapshot is not None:
            shutil.copytree(self.snapshot, root)  # restore: not timed
        crawler, store, root = self.new_crawler(root, tracer)
        pid = os.getpid()
        procstat.reset_peak_rss(pid)
        cpu0 = procstat.tree_cpu_s(pid)
        t_entry = time.time()
        art = self._entry(crawler)
        t_return = time.time()
        cpu_s = procstat.tree_cpu_s(pid) - cpu0
        peak_rss = procstat.tree_peak_rss_bytes(pid)
        first = store.first_wave_commit()
        if first is None:
            raise RuntimeError("the crawl committed no wave")
        base = self.base_manifest
        return OpResult(
            crawler=crawler, store=store, root=root, artifacts=art,
            t_entry=t_entry, t_return=t_return,
            first_commit_s=first - t_entry,
            evaluated=sum(
                art.counters[k] - base["counters"][k] for k in EVALUATED
            ),
            waves_run=art.n_waves - (base["wave_id"] + 1),
            cpu_s=cpu_s,
            peak_rss_mb=peak_rss / (1 << 20),
        )

    def readback(self, art: CrawlArtifacts) -> tuple[float, golden.Artifacts]:
        t0 = time.perf_counter()
        frames = (
            art.crawl_log.toPandas(), art.seen.toPandas(), art.images.toPandas()
        )
        elapsed = time.perf_counter() - t0
        return elapsed, golden.from_frames(*frames, art.counters, art.n_waves)

    def first_wave_input(self, op: OpResult) -> WaveInput:
        """The input the timed operation's first wave started from."""
        if self.snapshot is None:
            return WaveInput(
                frontier=None, hosts=None, seeds=self.seeds,
                seed_frame=self.frame, seen_version=0, seq_next=0,
                global_fetched=0,
            )
        m = self.base_manifest
        v = m["versions"]
        snap = make_store(self.spark, self.snapshot)
        return WaveInput(
            frontier=snap.read_version("frontier", v["frontier"]),
            hosts=snap.read_version("hosts", v["hosts"]),
            seeds=None, seed_frame=None, seen_version=v["seen"],
            seq_next=m["seq_next"], global_fetched=m["global_fetched"],
        )

    def release(self, op: OpResult) -> None:
        shutil.rmtree(op.root, ignore_errors=True)
