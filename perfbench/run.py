"""The crawl engine's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads, metrics and bounds are listed in ``BENCHMARK.json``; why each
workload exists and which end-to-end metric each layer metric should
move are in ``perfbench/NOTES.md``.

One run starts ``local[nproc]`` Spark, generates the workload's inputs
from the seed, sets up (session, crawler construction) and then
repeats the timed operation until ``--seconds`` have passed (at least
once).  Every operation's committed artifacts are checked against the
oracle.  ``--trace 0`` reports the end-to-end metrics of the first
operation, the first crawl of a fresh JVM (later ones are warm: they
are checked and recorded, not reported); ``--trace 1`` runs one traced
operation, a staged single-wave replay and the kernel timings, and
reports the per-layer metrics.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it records the machine,
the load, the commit and the per-operation samples.  Exit status is 0
only when every operation matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

CACHE = os.path.join(ROOT, ".perfbench_cache")
E2E_UNITS = {
    "crawl_s": "s", "urls_per_s": "urls/s", "first_commit_s": "s",
    "readback_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}
STATE_TABLES = ("frontier", "seen", "hosts", "crawl_log", "images", "metrics")
# counts that must repeat exactly across runs of one commit and seed
REPEATABLE = ("counters", "crawler.waves", "crawler.jobs_per_wave", "rank.path")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class GoldenJob:
    """The oracle's golden for (workload, seed), computed in a
    subprocess that overlaps Spark start-up when it is not cached."""

    def __init__(self, workload: str, seed: int):
        from perfbench import golden

        self.workload, self.seed = workload, seed
        self.proc = None
        if golden.load_golden(workload, seed) is None:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.golden",
                 "--workload", workload, "--seed", str(seed)],
                cwd=ROOT,
            )

    def get(self):
        from perfbench import golden

        if self.proc is not None:
            if self.proc.wait(timeout=170) != 0:
                raise RuntimeError("oracle golden computation failed")
        art = golden.load_golden(self.workload, self.seed)
        if art is None:
            raise RuntimeError("oracle golden missing after computation")
        return art

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def check(runner, op, gold) -> tuple[float, str | None]:
    """Read the committed artifacts back and compare with the golden.
    Returns (readback seconds, first difference or None)."""
    from perfbench import golden

    rb_s, got = runner.readback(op.artifacts)
    return rb_s, golden.first_difference(gold, got)


def table_footprint(root: str) -> dict[str, tuple[float, int]]:
    """(MB, parquet files) per state table under a state root."""
    out = {}
    for t in STATE_TABLES:
        size, files = 0, 0
        for d, _, fs in os.walk(os.path.join(root, t)):
            for f in fs:
                size += os.path.getsize(os.path.join(d, f))
                files += f.endswith(".parquet")
        out[t] = (size / (1 << 20), files)
    return out


def repeat_flags(workload: str, seed: int, counts: dict) -> list[str]:
    """Compare counts that must repeat with earlier runs of the same
    sources and seed; record new ones.  Returns the keys that differ."""
    from perfbench import golden

    path = os.path.join(
        CACHE, "repeat", f"{workload}-{seed}-{golden.source_hash()}.json"
    )
    try:
        with open(path) as f:
            seen = json.load(f)
    except FileNotFoundError:
        seen = {}
    flags = [
        f"{k}: earlier {seen[k]}, now {v}"
        for k, v in counts.items() if k in seen and seen[k] != v
    ]
    seen.update({k: v for k, v in counts.items() if k not in seen})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(seen, f, sort_keys=True)
    return flags


def untraced_crawls(workload: str, add: float | None = None) -> list[float]:
    """``crawl_s`` of this checkout's untraced runs of the workload on
    the same sources, the traced run's reference; ``add`` records one."""
    from perfbench import golden

    path = os.path.join(
        CACHE, "untraced", f"{workload}-{golden.source_hash()}.json"
    )
    try:
        with open(path) as f:
            crawls = json.load(f)
    except FileNotFoundError:
        crawls = []
    if add is not None:
        crawls.append(add)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(crawls, f)
    return crawls


def measure_setup(spark_start_s: float, runner) -> float:
    """Set-up time: session start + crawler construction (median of
    three: web broadcast and state-store creation) + resume_deep's
    committed starting state."""
    builds = []
    for _ in range(3):
        t0 = time.perf_counter()
        _, _, root = runner.new_crawler()
        builds.append(time.perf_counter() - t0)
        shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    runner.prepare()
    return spark_start_s + statistics.median(builds) + (time.perf_counter() - t0)


def end_to_end(runner, golden_job, seconds: float, setup_s: float, info: dict):
    samples: dict[str, list[float]] = {k: [] for k in E2E_UNITS}
    attempted = failed = 0
    counts = None
    t_begin = time.time()
    while True:
        attempted += 1
        try:
            op = runner.timed_op()
            _, diff = check(runner, op, golden_job.get())
            # one read is sub-second, so it samples the host's speed
            # over a moment, and the first few after the gate's read are
            # still warming up: the median of 21, a few seconds of reads
            readback_s = statistics.median(
                runner.readback(op.artifacts)[0] for _ in range(21)
            )
        except Exception:
            traceback.print_exc()
            diff = "the operation raised"
        if diff is not None:
            log(f"oracle mismatch: {diff}")
            failed += 1
            break
        for k, v in (
            ("crawl_s", op.crawl_s),
            ("urls_per_s", op.evaluated / op.crawl_s),
            ("first_commit_s", op.first_commit_s),
            ("readback_s", readback_s),
            ("cpu_s", op.cpu_s),
            ("peak_rss_mb", op.peak_rss_mb),
        ):
            samples[k].append(v)
        counts = {"counters": op.artifacts.counters, "crawler.waves": op.waves_run}
        runner.release(op)
        if time.time() - t_begin >= seconds:
            break
    metrics = {
        k: {"value": v[0], "unit": E2E_UNITS[k]}
        for k, v in samples.items() if v
    }
    metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    info["samples"] = samples
    if failed == 0:
        untraced_crawls(runner.workload, add=samples["crawl_s"][0])
    if counts is not None:
        info["repeat_flags"] = repeat_flags(runner.workload, info["seed"], counts)
    return attempted, failed, metrics


def traced(runner, golden_job, info: dict):
    """One traced operation, the staged replay and the kernel timings.
    Returns (attempted, failed, per-layer metrics, event-log reader) —
    the event log is read after Spark stops."""
    from perfbench.replay import kernel_costs, staged_replay
    from perfbench.trace import Span, Tracer, self_time, span_cost_s, traced_layers

    tracer = Tracer(f"{runner.workload}-{info['seed']}")
    try:
        with traced_layers(tracer):
            op = runner.timed_op(tracer)
        _, diff = check(runner, op, golden_job.get())
    except Exception:
        traceback.print_exc()
        diff = "the operation raised"
    if diff is not None:
        log(f"oracle mismatch: {diff}")
        return 1, 1, {}, None
    info["crawl_s"] = op.crawl_s
    phase_s = info["trace_phase_s"] = {}
    t_phase = time.perf_counter()
    crawl = Span("crawl", op.t_entry, op.t_return, None, tracer.trace_id)
    crawl_spans = [s for s in tracer.named("") if s.parent == "crawl"]
    # both time the first crawl of a fresh JVM; before any untraced run
    # of these sources, the spans' own cost (not the event log's)
    untraced = untraced_crawls(runner.workload)
    if untraced:
        overhead = op.crawl_s / statistics.median(untraced) - 1.0
    else:
        overhead = span_cost_s() * len(crawl_spans) / op.crawl_s
    info["trace_overhead_basis"] = (
        f"{len(untraced)} untraced runs" if untraced else "span cost"
    )
    m: dict[str, tuple[float, str]] = {
        "trace_overhead_frac": (overhead, "frac"),
        "crawler.waves": (op.waves_run, "count"),
        "crawler.self_s": (self_time(crawl, crawl_spans), "s"),
        "rank.crawl_s": (tracer.total("rank.with_global_rank"), "s"),
        "bloom.update_s": (tracer.total("bloom.update"), "s"),
        "state.commit_s": (tracer.total("state.commit"), "s"),
        "state.cleanup_s": (tracer.total("state.cleanup"), "s"),
    }
    commits = [op.t_entry] + [t for t, w in op.store.commits if w >= 0]
    m["crawler.wave_s"] = (
        statistics.median(b - a for a, b in zip(commits, commits[1:])), "s"
    )
    before = table_footprint(runner.snapshot) if runner.snapshot else {}
    after = table_footprint(op.root)
    for t in STATE_TABLES:
        mb0, files0 = before.get(t, (0.0, 0))
        m[f"state.write_s.{t}"] = (tracer.total(f"state.write.{t}"), "s")
        m[f"state.write_mb.{t}"] = (after[t][0] - mb0, "MB")
        m[f"state.files.{t}"] = (after[t][1] - files0, "count")
    seen_v = op.store.read_manifest()["versions"]["seen"]
    reads = []
    for _ in range(3):
        t0 = time.perf_counter()
        op.store.read_delta_union("seen", seen_v).count()
        reads.append(time.perf_counter() - t0)
    m["state.seen_read_s"] = (statistics.median(reads), "s")
    m["state.seen_deltas"] = (sum(
        1 for v in range(seen_v + 1)
        if os.path.isdir(op.store.version_path("seen", v))
    ), "count")

    phase_s["state"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    replay = staged_replay(runner.spark, op.crawler, runner.first_wave_input(op), tracer)
    phase_s["replay"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    for step in ("robots", "rank", "fetch", "decode"):
        m[f"{step}.s"] = (tracer.total(f"replay.{step}"), "s")
    for k in ("fetch.cpu_s", "decode.cpu_s"):
        m[k] = (replay[k], "s")
    for k in ("robots.new_hosts", "fetch.refs_out", "decode.rows"):
        m[k] = (replay[k], "count")
    for k in ("rank.skew", "fetch.skew"):
        m[k] = (replay[k], "ratio")
    for k in ("decode.fail_frac", "bloom.maybe_frac", "bloom.fpr"):
        m[k] = (replay[k], "frac")
    m["rank.path"] = (replay["rank.path"], "path-id")
    pages = [r[1] for r in golden_job.get().crawl_log[:300]]
    for k, v in kernel_costs(runner.web, pages).items():
        m[k] = (v, "us")
    phase_s["kernels"] = time.perf_counter() - t_phase
    cores = int(runner.spark.sparkContext.defaultParallelism)

    def from_event_log(ev) -> dict:
        from perfbench.trace import jobs_between, jobs_in_group, totals

        tot = totals(ev, jobs_between(ev, op.t_entry, op.t_return))
        rank = totals(ev, jobs_in_group(ev, "replay/rank"))
        waves = max(op.waves_run, 1)
        return {
            "crawler.jobs_per_wave": (tot.jobs / waves, "count"),
            "crawler.stages_per_wave": (tot.stages / waves, "count"),
            "crawler.tasks_per_wave": (tot.tasks / waves, "count"),
            "crawler.idle_core_frac": (
                1.0 - tot.run_s / (cores * op.crawl_s), "frac"
            ),
            "crawler.task_cpu_s": (tot.cpu_s, "s"),
            "crawler.shuffle_read_mb": (tot.shuffle_read_mb, "MB"),
            "crawler.shuffle_write_mb": (tot.shuffle_write_mb, "MB"),
            "crawler.spill_mb": (tot.spill_mb, "MB"),
            "crawler.gc_s": (tot.gc_s, "s"),
            "crawler.failed_tasks": (tot.failed_tasks, "count"),
            "rank.jobs": (rank.jobs, "count"),
            "rank.shuffle_mb": (rank.shuffle_write_mb, "MB"),
        }

    info["spans"] = [
        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
         "trace_id": s.trace_id}
        for s in tracer.spans
    ]
    return 1, 0, m, from_event_log


def machine_info(args) -> dict:
    from perfbench import golden, procstat
    from perfbench.session import driver_memory_mb, source_commit

    commit, dirty = source_commit()
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": procstat.nproc(), "mem_total_bytes": procstat.mem_total_bytes(),
        "driver_memory_mb": driver_memory_mb(),
        "loadavg_1m_before": procstat.loadavg_1m(),
        "calibration_before": procstat.calibration(),
        "commit": commit, "dirty": dirty, "source_hash": golden.source_hash(),
    }


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import procstat
    from perfbench.runner import Runner
    from perfbench.session import build_spark, prepare_env, stop_spark
    from perfbench.trace import parse_event_log

    prepare_env(work)
    info = machine_info(args)
    golden_job = GoldenJob(args.workload, args.seed)
    events = os.path.join(work, "events") if args.trace else None
    spark = None
    phase_s = info["phase_s"] = {}
    try:
        t0 = time.perf_counter()
        spark = build_spark(work, event_log_dir=events)
        spark_start_s = phase_s["spark_start"] = time.perf_counter() - t0
        runner = Runner(spark, args.workload, args.seed, work)
        setup_s = measure_setup(spark_start_s, runner)
        # the oracle finishes before the timed crawl starts, so the two
        # do not share the cores
        t0 = time.perf_counter()
        golden_job.get()
        phase_s["golden_wait"] = time.perf_counter() - t0
        if args.trace:
            attempted, failed, layer, from_event_log = traced(
                runner, golden_job, info
            )
        else:
            attempted, failed, metrics = end_to_end(
                runner, golden_job, args.seconds, setup_s, info
            )
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        golden_job.stop()
        phase_s["stop"] = time.perf_counter() - t0
    if args.trace:
        metrics = {}
        if failed == 0:
            (path,) = [os.path.join(events, f) for f in os.listdir(events)]
            layer.update(from_event_log(parse_event_log(path)))
            info["repeat_flags"] = repeat_flags(args.workload, args.seed, {
                k: layer[k][0] for k in REPEATABLE if k in layer
            })
            metrics = {
                k: {"value": v, "unit": u} for k, (v, u) in sorted(layer.items())
            }
    info["loadavg_1m_after"] = procstat.loadavg_1m()
    info["calibration_after"] = procstat.calibration()
    for flag in info.get("repeat_flags", []):
        log(f"count did not repeat: {flag}")
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }
    return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Crawl engine benchmark.")
    ap.add_argument("--workload", required=True,
                    choices=("frontier_image", "deep_crawl", "resume_deep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    try:
        result, info = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
