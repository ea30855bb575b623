"""Outside-in tracing: spans around calls into the engine's layers, a
pass-through state store, and a reader for Spark's event log.

Nothing here changes the engine.  Spans are recorded only around
public entry points the benchmark can reach from outside: the state
store passed via ``store=``, ``bloom.update`` and
``operators.with_global_rank`` (looked up through their modules at
call time, so patching the module attribute wraps every engine call).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span list; thread-safe, written out by the caller."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            with self._lock:
                self.spans.append(Span(name, start, end, parent, self.trace_id))

    def named(self, prefix: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name.startswith(prefix)]

    def total(self, prefix: str) -> float:
        return sum(s.duration for s in self.named(prefix))


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part its children cover.  Children
    on concurrent branch threads may overlap; overlap counts once."""
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in children]
    )


class StoreProxy:
    """Pass-through state store for ``SparkCrawler(store=...)``.

    Stamps every manifest commit (``commits``: (time, wave_id)) and,
    given a tracer, records a span per write, commit and cleanup.  All
    other attributes are the wrapped store's."""

    def __init__(self, inner, tracer: Tracer | None = None):
        self.inner = inner
        self.tracer = tracer
        self.commits: list[tuple[float, int]] = []

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, parent="crawl")

    def commit(self, manifest: dict) -> None:
        with self._span("state.commit"):
            self.inner.commit(manifest)
        self.commits.append((time.time(), manifest["wave_id"]))

    def cleanup(self) -> None:
        with self._span("state.cleanup"):
            self.inner.cleanup()

    def write_version(self, name: str, version: int, df) -> None:
        with self._span(f"state.write.{name}"):
            self.inner.write_version(name, version, df)

    def write_wave(self, name: str, wave: int, df) -> None:
        with self._span(f"state.write.{name}"):
            self.inner.write_wave(name, wave, df)

    def first_wave_commit(self) -> float | None:
        """Time the first wave's manifest became durable (the wave -1
        manifest a fresh crawl commits before its first wave is not a
        result)."""
        return next((t for t, w in self.commits if w >= 0), None)


def span_cost_s(n: int = 20_000) -> float:
    """Seconds one span adds to its caller: a no-op wrapped the way
    ``traced_layers`` wraps a layer call, timed through a throwaway
    tracer (median of five batches of ``n``)."""
    tracer = Tracer("cost")

    def wrapped():
        with tracer.span("x", parent="crawl"):
            return None

    def bare():
        return None

    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t1 = time.perf_counter()
        for _ in range(n):
            bare()
        runs.append((t1 - t0) - (time.perf_counter() - t1))
        tracer.spans.clear()
    return max(0.0, statistics.median(runs) / n)


@contextlib.contextmanager
def traced_layers(tracer: Tracer):
    """Wrap ``bloom.update`` and ``operators.with_global_rank`` in spans
    for the duration of the block."""
    from spider_1_spark.engine import bloom, operators

    def wrap(module, attr: str, span_name: str):
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with tracer.span(span_name, parent="crawl"):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        return module, attr, orig

    patched = [
        wrap(bloom, "update", "bloom.update"),
        wrap(operators, "with_global_rank", "rank.with_global_rank"),
    ]
    try:
        yield
    finally:
        for module, attr, orig in patched:
            setattr(module, attr, orig)


# ------------------------------------------------------------ event log

@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    stage_ids: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)


def parse_event_log(path: str) -> EventLog:
    """Jobs (with their job group) and per-stage task totals from a
    Spark JSON event log."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"],
                    props.get("spark.jobGroup.id"), list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(ev["Stage ID"], StageTotals())
                st.tasks += 1
                info = ev.get("Task Info") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if info.get("Failed") or reason not in (None, "Success"):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return log


@dataclass
class Totals:
    jobs: int
    stages: int  # stages that ran tasks (skipped stages excluded)
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


def totals(log: EventLog, jobs: list[Job]) -> Totals:
    stage_ids = {s for j in jobs for s in j.stage_ids if s in log.stages}
    sts = [log.stages[s] for s in stage_ids]
    mb = 1 << 20
    return Totals(
        jobs=len(jobs),
        stages=len(sts),
        tasks=sum(s.tasks for s in sts),
        failed_tasks=sum(s.failed_tasks for s in sts),
        run_s=sum(s.run_ms for s in sts) / 1e3,
        cpu_s=sum(s.cpu_ns for s in sts) / 1e9,
        gc_s=sum(s.gc_ms for s in sts) / 1e3,
        shuffle_read_mb=sum(s.shuffle_read_bytes for s in sts) / mb,
        shuffle_write_mb=sum(s.shuffle_write_bytes for s in sts) / mb,
        spill_mb=sum(s.spill_bytes for s in sts) / mb,
    )


def jobs_between(log: EventLog, start: float, end: float) -> list[Job]:
    """Jobs submitted in [start, end] (epoch seconds)."""
    lo, hi = start * 1e3, end * 1e3
    return [j for j in log.jobs.values() if lo <= j.submit_ms <= hi]


def jobs_in_group(log: EventLog, group: str) -> list[Job]:
    return [j for j in log.jobs.values() if j.group == group]
