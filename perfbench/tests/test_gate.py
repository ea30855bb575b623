"""The correctness gate and the pass-through store, on a small deep
crawl through the benchmark's own runner (needs Spark, ~1 min)."""

from __future__ import annotations

import glob
import os
from dataclasses import replace
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import golden, run, workloads
from perfbench.trace import Tracer

SMALL = replace(workloads.DeepSpec(), n_hosts=16, n_seeds=8, max_depth=2)
SEED = 7


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.session import build_spark, prepare_env, stop_spark

    work = str(tmp_path_factory.mktemp("work"))
    prepare_env(work)
    s = build_spark(work)
    yield s
    stop_spark(s)


@pytest.fixture
def small_deep(monkeypatch, tmp_path):
    monkeypatch.setitem(workloads.WORKLOADS, "deep_crawl", SMALL)
    monkeypatch.setattr(golden, "CACHE_DIR", str(tmp_path / "golden"))
    return golden.compute_golden("deep_crawl", SEED)


def test_traced_proxy_crawl_equals_oracle(spark, small_deep, tmp_path):
    from perfbench.runner import Runner

    runner = Runner(spark, "deep_crawl", SEED, str(tmp_path))
    tracer = Tracer("t")
    op = runner.timed_op(tracer)
    _, got = runner.readback(op.artifacts)
    assert golden.first_difference(small_deep, got) is None
    assert op.waves_run == small_deep.n_waves
    assert [w for _, w in op.store.commits] == list(range(-1, op.waves_run))
    assert op.first_commit_s > 0
    assert tracer.named("state.write.seen") and tracer.named("state.commit")


def test_one_corrupted_row_fails_the_gate(spark, small_deep, tmp_path):
    from perfbench.runner import Runner

    runner = Runner(spark, "deep_crawl", SEED, str(tmp_path))
    op = runner.timed_op()
    # rewrite wave 1's committed crawl log with one row's depth changed
    wave_dir = os.path.join(op.root, "crawl_log", "w=1")
    parts = glob.glob(os.path.join(wave_dir, "*.parquet"))
    pdf = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    pdf.loc[0, "depth"] += 1
    corrupted = pdf.iloc[0]
    for p in parts:
        os.remove(p)
    pdf.to_parquet(os.path.join(wave_dir, "part-0.parquet"), index=False)
    _, got = runner.readback(op.crawler.artifacts())
    diff = golden.first_difference(small_deep, got)
    assert diff is not None and diff.startswith("crawl_log row ")
    assert corrupted["url"] in diff


def test_mismatching_operation_counts_as_failed(small_deep):
    """end_to_end stops at the first operation that differs from the
    golden, counts it failed and reports no timing for it."""
    bad = replace(small_deep, seen=small_deep.seen[:-1])
    artifacts = SimpleNamespace(counters=small_deep.counters)
    op = SimpleNamespace(artifacts=artifacts, crawl_s=1.0, evaluated=1,
                         first_commit_s=0.5, cpu_s=1.0, peak_rss_mb=1.0)
    runner = SimpleNamespace(
        workload="deep_crawl", timed_op=lambda: op,
        readback=lambda art: (0.1, bad), release=lambda op: None,
    )
    job = SimpleNamespace(get=lambda: small_deep)
    info = {"seed": SEED}
    attempted, failed, metrics = run.end_to_end(runner, job, 0.0, 1.0, info)
    assert (attempted, failed) == (1, 1)
    assert "crawl_s" not in metrics
