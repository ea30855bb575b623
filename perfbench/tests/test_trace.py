"""The event-log reader and span arithmetic, on a tiny recorded log."""

from __future__ import annotations

import os

import pytest

from perfbench.trace import (
    Span, StoreProxy, Tracer, covered, jobs_between, jobs_in_group,
    parse_event_log, self_time, totals,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


def test_event_log_jobs_and_groups():
    ev = parse_event_log(LOG)
    assert sorted(ev.jobs) == [0, 1, 2]
    assert [j.job_id for j in jobs_in_group(ev, "replay/rank")] == [1, 2]
    assert jobs_in_group(ev, "replay/fetch") == []


def test_event_log_totals():
    ev = parse_event_log(LOG)
    t = totals(ev, jobs_in_group(ev, "replay/rank"))
    # job 1: map stage 1 (2 tasks) + result stage 2 (1 task);
    # job 2 lists stage 3 (skipped, no tasks) and stage 4 (1 task)
    assert (t.jobs, t.stages, t.tasks) == (2, 3, 4)
    assert t.failed_tasks == 1
    assert t.run_s == pytest.approx(0.41)
    assert t.cpu_s == pytest.approx(0.35)
    assert t.gc_s == pytest.approx(0.012)
    assert t.shuffle_write_mb == pytest.approx(3.0)
    assert t.shuffle_read_mb == pytest.approx(3.0)
    assert t.spill_mb == pytest.approx(1.5)
    everything = totals(ev, jobs_between(ev, 1000.0, 1003.0))
    assert everything.jobs == 3 and everything.tasks == 5
    assert jobs_between(ev, 1001.5, 1003.0) == [ev.jobs[2]]


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 1), (9, 20)]) == pytest.approx(2)
    assert covered(0, 10, [(11, 12), (-3, -1)]) == 0
    assert covered(0, 10, [(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_counts_concurrent_children_once():
    parent = Span("crawl", 100.0, 110.0, None, "t")
    kids = [
        Span("state.write.seen", 101.0, 104.0, "crawl", "t"),
        Span("bloom.update", 103.0, 105.0, "crawl", "t"),  # overlaps
        Span("state.commit", 109.5, 111.0, "crawl", "t"),  # outlives parent
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 0.5)
    assert self_time(parent, []) == pytest.approx(10)


def test_tracer_totals_by_prefix():
    tr = Tracer("t")
    with tr.span("state.write.seen"):
        pass
    with tr.span("state.write.hosts"):
        pass
    with tr.span("bloom.update"):
        pass
    assert len(tr.named("state.write.")) == 2
    assert tr.total("state.write.") >= 0
    assert {s.trace_id for s in tr.spans} == {"t"}


class _Store:
    root = "/nowhere"

    def __init__(self):
        self.calls = []

    def commit(self, manifest):
        self.calls.append(("commit", manifest["wave_id"]))

    def write_version(self, name, version, df):
        self.calls.append(("write_version", name, version, df))

    def read_manifest(self):
        return {"wave_id": 3}


def test_store_proxy_forwards_and_stamps():
    inner = _Store()
    tr = Tracer("t")
    proxy = StoreProxy(inner, tr)
    proxy.commit({"wave_id": -1})
    assert proxy.first_wave_commit() is None
    proxy.write_version("seen", 2, "df")
    proxy.commit({"wave_id": 0})
    assert inner.calls == [
        ("commit", -1), ("write_version", "seen", 2, "df"), ("commit", 0),
    ]
    assert proxy.first_wave_commit() == proxy.commits[1][0]
    assert proxy.read_manifest() == {"wave_id": 3}
    assert proxy.root == "/nowhere"
    assert [s.name for s in tr.spans] == [
        "state.commit", "state.write.seen", "state.commit",
    ]
