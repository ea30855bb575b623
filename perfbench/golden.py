"""Oracle goldens and the correctness gate.

Every run's committed artifacts are compared with the pinned oracle
``reference_model/spider1_ref.crawl`` on the same inputs.  Both sides
are reduced to the same normal form: each table's rows sorted, image
bytes replaced by their sha256.  A table matches when its sha256
digest does; on a mismatch the gate names the first differing row.

Goldens are cached under ``.perfbench_cache/golden`` keyed by workload,
seed and a hash of every source file the oracle's answer depends on, so
an edited oracle, fixture or workload definition can never be checked
against a stale golden.

Run as ``python3 -m perfbench.golden --workload W --seed N`` to compute
one golden (the benchmark does this in a subprocess while Spark starts).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from dataclasses import asdict, dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache", "golden")

# everything the oracle's answer for a (workload, seed) depends on
SOURCES = (
    "spider_1_spark/reference_model",
    "spider_1_spark/functions",
    "spider_1_spark/fixtures",
    "perfbench/workloads.py",
    "perfbench/golden.py",
)
TABLES = ("crawl_log", "seen", "images")


@dataclass
class Artifacts:
    """A crawl's answer in normal form."""

    # (seq, url, depth, parent_rank, link_pos, wave_id)
    crawl_log: list[tuple]
    # (url, first_wave, depth, parent_rank, link_pos)
    seen: list[tuple]
    # (image_id, sha256(bytes), w, h, fmt, caption, phash)
    images: list[tuple]
    counters: dict[str, int]
    n_waves: int

    def digests(self) -> dict[str, str]:
        return {
            t: hashlib.sha256(
                "\n".join(map(repr, getattr(self, t))).encode()
            ).hexdigest()
            for t in TABLES
        }


def _image_row(image_id, data, w, h, fmt, caption, phash) -> tuple:
    return (
        image_id, hashlib.sha256(bytes(data)).hexdigest(),
        int(w), int(h), fmt, caption, int(phash),
    )


def from_oracle(res) -> Artifacts:
    return Artifacts(
        crawl_log=sorted(tuple(r) for r in res.crawl_log),
        seen=sorted((u, *meta) for u, meta in res.seen.items()),
        images=sorted(_image_row(*r) for r in res.images),
        counters=dict(res.counters),
        n_waves=res.n_waves,
    )


def from_frames(crawl_log, seen, images, counters, n_waves) -> Artifacts:
    """Normal form of the engine's committed tables read back as pandas."""
    log_cols = ["seq", "url", "depth", "parent_rank", "link_pos", "wave_id"]
    seen_cols = ["url", "first_wave", "depth", "parent_rank", "link_pos"]
    img_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return Artifacts(
        crawl_log=sorted(
            (int(s), u, int(d), int(p), int(lp), int(w))
            for s, u, d, p, lp, w in crawl_log[log_cols].itertuples(
                index=False, name=None
            )
        ),
        seen=sorted(
            (u, int(fw), int(d), int(p), int(lp))
            for u, fw, d, p, lp in seen[seen_cols].itertuples(
                index=False, name=None
            )
        ),
        images=sorted(
            _image_row(*r)
            for r in images[img_cols].itertuples(index=False, name=None)
        ),
        counters=dict(counters),
        n_waves=int(n_waves),
    )


def first_difference(expected: Artifacts, got: Artifacts) -> str | None:
    """None when ``got`` equals ``expected``; otherwise the first
    difference, naming the table and row."""
    if got.counters != expected.counters:
        return f"counters: expected {expected.counters}, got {got.counters}"
    if got.n_waves != expected.n_waves:
        return f"n_waves: expected {expected.n_waves}, got {got.n_waves}"
    want, have = expected.digests(), got.digests()
    for t in TABLES:
        if want[t] == have[t]:
            continue
        a, b = getattr(expected, t), getattr(got, t)
        for i in range(max(len(a), len(b))):
            ea = a[i] if i < len(a) else "<no row>"
            gb = b[i] if i < len(b) else "<no row>"
            if ea != gb:
                return f"{t} row {i}: expected {ea}, got {gb}"
    return None


def source_hash() -> str:
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = (
            sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".py")
            )
            if os.path.isdir(path)
            else [path]
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def oracle_workload(workload: str) -> str:
    """resume_deep must reach exactly the uninterrupted deep crawl."""
    return "deep_crawl" if workload == "resume_deep" else workload


def golden_path(workload: str, seed: int) -> str:
    name = oracle_workload(workload)
    return os.path.join(CACHE_DIR, f"{name}-{seed}-{source_hash()}.json")


def load_golden(workload: str, seed: int) -> Artifacts | None:
    try:
        with open(golden_path(workload, seed)) as f:
            raw = json.load(f)
    except FileNotFoundError:
        return None
    for t in TABLES:
        raw[t] = [tuple(r) for r in raw[t]]
    return Artifacts(**raw)


def compute_golden(workload: str, seed: int) -> Artifacts:
    from spider_1_spark.reference_model import spider1_ref as ref

    from perfbench.workloads import WORKLOADS, oracle_seeds, web_for

    name = oracle_workload(workload)
    spec = WORKLOADS[name]
    art = from_oracle(
        ref.crawl(oracle_seeds(name, seed), spec.policy(), web_for(spec))
    )
    path = golden_path(workload, seed)
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(art), f)
    os.replace(tmp, path)
    return art


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    if load_golden(a.workload, a.seed) is None:
        compute_golden(a.workload, a.seed)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
