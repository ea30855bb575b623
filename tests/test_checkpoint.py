"""SURVEY §5.3 — resumability (SPEC-12, BASELINE.json:6,14).

Invariant: ``run(seeds)`` ≡ ``run k waves; resume`` for every wave
boundary k, over ALL artifacts (crawl log, seen, images, counters).
Also: crash residue between "tables written" and "manifest renamed"
must be rolled back by ``cleanup()`` on resume.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time

import pytest

from spider_1_spark.engine import Policy, SparkCrawler
from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds
from spider_1_spark.reference_model import spider1_ref as ref

N_HOSTS, N_SEEDS = 8, 4
POLICY = Policy(2, 2, 5, 24)


def collect(art):
    return (
        sorted(
            (r.seq, r.url, r.depth, r.parent_rank, r.link_pos, r.wave_id)
            for r in art.crawl_log.collect()
        ),
        {
            r.url: (r.first_wave, r.depth, r.parent_rank, r.link_pos)
            for r in art.seen.collect()
        },
        sorted(
            (r.image_id, bytes(r.bytes), r.w, r.h, r.fmt, r.caption, r.phash)
            for r in art.images.collect()
        ),
        art.counters,
        art.n_waves,
    )


@pytest.fixture(scope="module")
def oracle():
    return ref.crawl(
        make_seeds(N_SEEDS, N_HOSTS), POLICY, SyntheticWeb(N_HOSTS)
    )


def test_resume_from_every_wave_boundary(spark, oracle):
    web = SyntheticWeb(N_HOSTS)
    seeds = make_seeds(N_SEEDS, N_HOSTS)
    n_waves = oracle.n_waves
    assert n_waves >= 2, "config must produce a multi-wave crawl"
    for k in (1, n_waves - 1):
        root = tempfile.mkdtemp(prefix=f"spider1_resume{k}_")
        try:
            c1 = SparkCrawler(spark, POLICY, web, root)
            c1.run(seeds, max_waves=k)  # stop mid-crawl
            # fresh crawler object (fresh process semantics) resumes
            c2 = SparkCrawler(spark, POLICY, web, root)
            art = c2.resume()
            log, seen, images, counters, waves = collect(art)
            assert log == [tuple(t) for t in oracle.crawl_log], f"k={k}"
            assert seen == oracle.seen, f"k={k}"
            assert images == sorted(oracle.images), f"k={k}"
            assert counters == oracle.counters, f"k={k}"
            assert waves == n_waves, f"k={k}"
        finally:
            shutil.rmtree(root, ignore_errors=True)


def test_crash_residue_rolled_back(spark, oracle):
    """Simulate a crash AFTER state tables were written but BEFORE the
    manifest rename: stale v=/w= dirs must be pruned and the re-run
    wave must produce identical artifacts."""
    web = SyntheticWeb(N_HOSTS)
    seeds = make_seeds(N_SEEDS, N_HOSTS)
    root = tempfile.mkdtemp(prefix="spider1_crash_")
    try:
        c1 = SparkCrawler(spark, POLICY, web, root)
        c1.run(seeds, max_waves=1)
        manifest = c1.store.read_manifest()
        assert manifest["wave_id"] == 0

        # fabricate uncommitted wave-1 output (what a crash leaves)
        for name, vdir in (
            ("frontier", "v=2"),
            ("seen", "v=2"),
            ("hosts", "v=2"),
            ("images", "w=1"),
            ("crawl_log", "w=1"),
            ("metrics", "w=1"),
        ):
            d = os.path.join(root, name, vdir)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "garbage.parquet"), "wb") as f:
                f.write(b"not a parquet file")

        art = SparkCrawler(spark, POLICY, web, root).resume()
        log, seen, images, counters, waves = collect(art)
        assert log == [tuple(t) for t in oracle.crawl_log]
        assert seen == oracle.seen
        assert images == sorted(oracle.images)
        assert counters == oracle.counters
    finally:
        shutil.rmtree(root, ignore_errors=True)


class FailingStore:
    """State store that raises inside one ``method(table, version, ...)``
    call — a fault injected into one node of the wave DAG."""

    def __init__(self, inner, method, table, version):
        self.inner = inner
        self.fault = (method, table, version)

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if name != self.fault[0]:
            return attr

        def call(table, version, *args):
            if (name, table, version) == self.fault:
                raise OSError(f"injected {table} v{version} {name} failure")
            return attr(table, version, *args)

        return call


def engine_threads() -> list[str]:
    return [
        t.name for t in threading.enumerate() if t.name.startswith("spider1-")
    ]


def file_stats(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_seeding_branch_failure_drains_and_resumes(spark, oracle):
    """A failing seeding branch surfaces at run()'s caller only after
    the other seeding branches finished: no seeding thread is alive,
    no manifest is committed, and a fresh run() on the same root
    matches the oracle."""
    from spider_1_spark.engine.state import ParquetSnapshotStore

    web = SyntheticWeb(N_HOSTS)
    seeds = make_seeds(N_SEEDS, N_HOSTS)
    root = tempfile.mkdtemp(prefix="spider1_seedfail_")
    try:
        store = FailingStore(
            ParquetSnapshotStore(spark, root), "write_version", "seen", 0
        )
        with pytest.raises(OSError, match="injected seen v0"):
            SparkCrawler(spark, POLICY, web, root, store=store).run(seeds)
        assert not engine_threads()
        assert store.read_manifest() is None

        art = SparkCrawler(spark, POLICY, web, root).run(seeds)
        log, seen, images, counters, waves = collect(art)
        assert log == [tuple(t) for t in oracle.crawl_log]
        assert seen == oracle.seen
        assert images == sorted(oracle.images)
        assert counters == oracle.counters
        assert waves == oracle.n_waves
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize(
    "fault",
    [
        # wave 0's lagging image sink, which overlaps wave 1's critical
        # path and is first waited for at wave 0's commit
        ("write_wave", "images", 0),
        # wave 1's seen delta, a dependency of wave 2's harvest
        ("write_version", "seen", 2),
    ],
    ids=["images-w0", "seen-v2"],
)
def test_pipelined_node_failure_drains_and_resumes(spark, oracle, fault):
    """A node failing inside the pipelined wave DAG surfaces at run()'s
    caller with no engine thread alive and no file under the state
    root still changing; resume() then matches the oracle exactly."""
    from spider_1_spark.engine.state import ParquetSnapshotStore

    web = SyntheticWeb(N_HOSTS)
    seeds = make_seeds(N_SEEDS, N_HOSTS)
    root = tempfile.mkdtemp(prefix="spider1_nodefail_")
    try:
        store = FailingStore(ParquetSnapshotStore(spark, root), *fault)
        with pytest.raises(OSError, match="injected"):
            SparkCrawler(spark, POLICY, web, root, store=store).run(seeds)
        assert not engine_threads()
        files = file_stats(root)
        time.sleep(1.0)
        assert file_stats(root) == files

        art = SparkCrawler(spark, POLICY, web, root).resume()
        log, seen, images, counters, waves = collect(art)
        assert log == [tuple(t) for t in oracle.crawl_log]
        assert seen == oracle.seen
        assert images == sorted(oracle.images)
        assert counters == oracle.counters
        assert waves == oracle.n_waves
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_manifest_commit_is_atomic_rename(spark):
    """The manifest file is always complete JSON (tmp+os.replace)."""
    root = tempfile.mkdtemp(prefix="spider1_manifest_")
    try:
        from spider_1_spark.engine.state import ParquetSnapshotStore

        st = ParquetSnapshotStore(spark, root)
        st.commit({"wave_id": 3, "versions": {}, "counters": {}})
        with open(st.manifest_path) as f:
            assert json.load(f)["wave_id"] == 3
        assert not [
            p for p in os.listdir(root) if p.endswith(".manifest.tmp")
        ], "no tmp residue after commit"
    finally:
        shutil.rmtree(root, ignore_errors=True)
