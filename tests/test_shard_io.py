"""ShardIO seam for bloom sidecars (SURVEY §1.4 / VERDICT r2 missing 3).

The one property the bloom commit protocol needs from storage is that a
shard file is either absent or complete — a torn write read back as a
bitmap would clear real bits and produce bloom FALSE NEGATIVES, which
the engine's zero-FN contract forbids.  These tests pin that property
for the local backend and prove the seam is genuinely pluggable (an
in-memory backend passes the same round-trip, standing in for the
object-store impl documented on ShardIO).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from spider_1_spark.engine.bloom import (
    BloomStore,
    LocalShardIO,
    ShardIO,
    bit_positions,
)


def _bitmap(m_bits: int, urls) -> np.ndarray:
    bm = np.zeros(m_bits // 8, dtype=np.uint8)
    for pos in bit_positions(urls, m_bits).ravel().tolist():
        bm[pos >> 3] |= np.uint8(1 << (pos & 7))
    return bm


def test_local_round_trip(tmp_path):
    store = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12)
    bm = _bitmap(store.m_bits, [f"http://h{i}.test/" for i in range(50)])
    store.write_shard(3, 1, bm)
    assert np.array_equal(store.load_shard(3, 1), bm)
    # latest <= version fallback: v=5 resolves to the v=3 file
    assert np.array_equal(store.load_shard(5, 1), bm)
    # untouched shard reads as zeros, never a partial/foreign payload
    assert not store.load_shard(5, 2).any()


class TornShardIO(LocalShardIO):
    """Crashes mid-write: leaves a partial .tmp, never publishes."""

    def write_atomic(self, path: str, payload: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            f.write(payload[: len(payload) // 2])
        raise OSError("simulated crash before rename-commit")


def test_torn_write_is_never_visible(tmp_path):
    """A crash mid-publish leaves the previous version's bitmap as the
    readable truth — the partial payload is unreachable (no false
    negatives after a crashed wave resumes)."""
    good = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12)
    bm_v0 = _bitmap(good.m_bits, ["http://a.test/", "http://b.test/"])
    good.write_shard(0, 0, bm_v0)

    torn = BloomStore(
        str(tmp_path), n_shards=4, m_bits=1 << 12, io=TornShardIO()
    )
    bm_v1 = _bitmap(good.m_bits, [f"http://c{i}.test/" for i in range(99)])
    with pytest.raises(OSError, match="simulated crash"):
        torn.write_shard(1, 0, bm_v1)

    # the final key was never created; the torn .tmp exists but is
    # invisible to readers (load_shard resolves exact shard paths only)
    assert not os.path.exists(good.shard_path(1, 0))
    assert os.path.exists(good.shard_path(1, 0) + ".tmp")
    assert np.array_equal(good.load_shard(1, 0), bm_v0)


def test_local_write_is_all_or_nothing_content(tmp_path):
    """After a successful publish the file content equals the payload
    byte-for-byte (no interleaving with the .tmp residue)."""
    store = BloomStore(str(tmp_path), n_shards=2, m_bits=1 << 12)
    bm = _bitmap(store.m_bits, ["http://x.test/"])
    store.write_shard(0, 0, bm)
    assert not os.path.exists(store.shard_path(0, 0) + ".tmp")
    assert np.array_equal(store.load_shard(0, 0), bm)


class MemShardIO:
    """Dict-backed ShardIO — publish is a single dict assignment, the
    shape of an object-store full-object PUT (all-or-nothing by
    construction); listing/deletion are prefix operations, the shape
    of an object-store LIST/prefix-delete."""

    def __init__(self):
        self.objects: dict[str, bytes] = {}

    def read(self, path: str) -> bytes | None:
        return self.objects.get(path)

    def write_atomic(self, path: str, payload: bytes) -> None:
        self.objects[path] = bytes(payload)

    def list_version_dirs(self, base: str) -> list[tuple[int, str]]:
        import re

        out = set()
        for key in self.objects:
            m = re.match(re.escape(base) + r"/(v=(\d+))/", key)
            if m:
                out.add((int(m.group(2)), f"{base}/{m.group(1)}"))
        return sorted(out)

    def delete_dir(self, path: str) -> None:
        for key in [k for k in self.objects if k.startswith(path + "/")]:
            del self.objects[key]


def test_seam_is_pluggable_in_memory_backend(tmp_path):
    """BloomStore never touches the filesystem when given a non-local
    ShardIO — the whole versioned load/write protocol runs against the
    alternate backend."""
    io = MemShardIO()
    assert isinstance(io, ShardIO)
    store = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12, io=io)
    bm0 = _bitmap(store.m_bits, ["http://p.test/"])
    bm1 = _bitmap(store.m_bits, ["http://q.test/", "http://r.test/"])
    store.write_shard(0, 2, bm0)
    store.write_shard(4, 2, bm1)
    assert np.array_equal(store.load_shard(0, 2), bm0)
    assert np.array_equal(store.load_shard(3, 2), bm0)  # fallback
    assert np.array_equal(store.load_shard(4, 2), bm1)
    assert not store.load_shard(4, 3).any()
    assert not os.path.exists(os.path.join(str(tmp_path), "bloom"))

    # prune goes through the seam too: versions above the committed
    # manifest vanish from the alternate backend, and load_shard's
    # latest-<=version fallback no longer resurrects them
    store.prune(0)
    assert np.array_equal(store.load_shard(4, 2), bm0)
    assert store.io.list_version_dirs(store.base) == [
        (0, f"{store.base}/v=0")
    ]


def test_local_prune_removes_crash_residue(tmp_path):
    store = BloomStore(str(tmp_path), n_shards=2, m_bits=1 << 12)
    bm0 = _bitmap(store.m_bits, ["http://a.test/"])
    bm1 = _bitmap(store.m_bits, ["http://b.test/"])
    store.write_shard(0, 0, bm0)
    store.write_shard(3, 0, bm1)  # uncommitted-wave residue
    store.prune(0)
    assert np.array_equal(store.load_shard(3, 0), bm0)
    assert not os.path.exists(store.vdir(3))


def test_update_with_fewer_tasks_than_shards(spark, tmp_path):
    """32 shards under 4 shuffle partitions: each bloom.update task owns
    several whole shards.  Every touched shard is published exactly
    once per version, untouched shards are not written, and every
    inserted URL probes positive after two successive updates."""
    from collections import Counter

    from spider_1_spark.engine import bloom
    from spider_1_spark.engine.bloom import _hashes, probe_pandas

    log = str(tmp_path / "writes.log")

    class RecordingShardIO(LocalShardIO):
        # runs inside Spark's Python workers: record to a shared file
        def write_atomic(self, path: str, payload: bytes) -> None:
            super().write_atomic(path, payload)
            with open(log, "a") as f:
                f.write(path + "\n")

    store = BloomStore(
        str(tmp_path), n_shards=32, m_bits=1 << 14, io=RecordingShardIO()
    )
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) < store.n_shards
    batches = [
        [f"http://h{i % 3}.test/p/{i}" for i in range(12)],
        [f"http://h{i % 3}.test/p/{i}" for i in range(12, 17)],
    ]
    for version, urls in enumerate(batches):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        bloom.update(df.repartition(3), store, version - 1, version)

    with open(log) as f:
        writes = Counter(f.read().split())
    expected = {
        store.shard_path(version, shard): 1
        for version, urls in enumerate(batches)
        for shard in (_hashes(urls)[0] % np.uint64(store.n_shards)).tolist()
    }
    assert writes == expected
    # each version touches only some shards; the rest stay unwritten
    for version in range(len(batches)):
        vdir = store.vdir(version) + os.sep
        assert 0 < sum(p.startswith(vdir) for p in writes) < store.n_shards

    urls = pd.Series(batches[0] + batches[1])
    assert probe_pandas(urls, store, 1, {}).all()
