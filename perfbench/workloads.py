"""The benchmark's workloads: inputs generated from a seed, and the
policy and web each one crawls.

Why each workload exists is recorded in ``perfbench/NOTES.md``.  Every
input is a pure function of the workload seed; the engine receives only
the generated inputs (a seed-URL list or a seed frame).
"""

from __future__ import annotations

from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
import pandas as pd

from spider_1_spark.engine import Policy
from spider_1_spark.fixtures.frontier_gen import frontier_frame
from spider_1_spark.fixtures.webgen import SyntheticWeb

UNLIMITED = 1 << 40


@dataclass(frozen=True)
class FrontierSpec:
    """Seed-frame crawl at max_depth=0 (image harvesting).

    With 20 hosts the zipf(1.2) hot host holds ~35% of the rows
    (~7,000 of 20,000), so B=4,200 drains it in two politeness waves
    for any seed, and B > SALT_PATH_MAX_B (4096) sends the over-budget
    host down the grouped-rank path."""

    n_rows: int = 20_000
    n_hosts: int = 20
    budget: int = 4_200

    def policy(self) -> Policy:
        return Policy(
            max_depth=0,
            per_host_wave_budget=self.budget,
            per_host_total_cap=UNLIMITED,
            global_page_budget=UNLIMITED,
        )


@dataclass(frozen=True)
class DeepSpec:
    """Seed-list crawl that follows anchors for max_depth+1 waves.

    B > C: a host reaches its total cap C before its wave budget B, so
    no URL is ever deferred and each wave is exactly one depth tier, for
    any seed.  A deferred URL fetched alongside the next depth tier
    exposes an engine counter defect recorded in perfbench/NOTES.md.
    B <= 4096 keeps the salted-rank path, and C binds, so hosts are over
    budget and the salted windows rank real rows."""

    n_hosts: int = 256
    n_seeds: int = 256
    max_depth: int = 1
    budget: int = 16
    cap: int = 8
    # resume_deep commits this many waves in set-up, then resumes
    resume_after: int = 1

    def policy(self) -> Policy:
        return Policy(
            max_depth=self.max_depth,
            per_host_wave_budget=self.budget,
            per_host_total_cap=self.cap,
            global_page_budget=UNLIMITED,
        )


WORKLOADS = {
    "frontier_image": FrontierSpec(),
    "deep_crawl": DeepSpec(),
    "resume_deep": DeepSpec(),
}


def web_for(spec) -> SyntheticWeb:
    return SyntheticWeb(spec.n_hosts)


def deep_seed_urls(spec: DeepSpec, seed: int) -> list[str]:
    """One seed URL per host at a seed-drawn page, in seed-drawn order,
    spelled non-canonically so seed canonicalization does real work."""
    rng = np.random.default_rng(seed)
    hosts = rng.permutation(spec.n_hosts)[: spec.n_seeds]
    pages = rng.integers(0, 64, len(hosts))
    return [
        f"HTTP://H{int(h)}.Example.Test:80/p/{int(p)}?b=1&a=2"
        for h, p in zip(hosts, pages)
    ]


class _Range:
    def __init__(self, n: int):
        self.n = n

    def mapInPandas(self, fn, schema):  # noqa: N802 - mirrors DataFrame
        ids = pd.DataFrame({"id": np.arange(self.n, dtype=np.int64)})
        return pd.concat(list(fn(iter([ids]))), ignore_index=True)


class _LocalSession:
    """Runs ``frontier_frame``'s own generator in-process with pandas,
    so the engine's seed frame and the oracle's seed list come from the
    same code without a Spark job."""

    sparkContext = SimpleNamespace(broadcast=lambda v: SimpleNamespace(value=v))

    def range(self, n: int) -> _Range:
        return _Range(n)


def frontier_pdf(spec: FrontierSpec, seed: int) -> pd.DataFrame:
    """``frontier_frame``'s (seed_rank, raw_url) rows, made in-process."""
    return frontier_frame(_LocalSession(), spec.n_rows, spec.n_hosts, seed=seed)


def frontier_seed_urls(spec: FrontierSpec, seed: int) -> list[str]:
    return frontier_pdf(spec, seed).sort_values("seed_rank")["raw_url"].tolist()


def oracle_seeds(workload: str, seed: int) -> list[str]:
    spec = WORKLOADS[workload]
    if isinstance(spec, FrontierSpec):
        return frontier_seed_urls(spec, seed)
    return deep_seed_urls(spec, seed)
