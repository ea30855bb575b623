"""Staged single-wave replay and per-item kernel costs (traced runs).

The replay feeds a workload's first-wave input through the engine's
public operators, one step at a time, each materialized in its own
Spark job group on the benchmark thread so the event log attributes
jobs, shuffle bytes and task time to it:

    ingest -> robots (hosts join + fetch_robots) -> rank (candidate_set
    + with_global_rank) -> fetch (fetch_extract with the bloom probe)
    -> decode (decode_images)

The politeness gate and the dedup/seen check live inside the wave loop
with no public entry; they are not re-implemented here and show only
in the crawl-wide ``crawler.*`` totals.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spider_1_spark.engine import operators as ops
from spider_1_spark.engine.state import HOSTS_SCHEMA

from perfbench import procstat
from perfbench.trace import Tracer

GROUP_PREFIX = "replay/"


@dataclass
class WaveInput:
    """What the first wave of a timed operation starts from."""

    frontier: DataFrame | None  # None: ingest from ``seeds``/``seed_frame``
    hosts: DataFrame | None
    seeds: list[str] | None
    seed_frame: DataFrame | None
    seen_version: int
    seq_next: int
    global_fetched: int


def _partition_skew(df: DataFrame) -> float:
    """Max / mean rows over the frame's non-empty partitions."""
    counts = [
        r["n"] for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n")).collect()
    ]
    return max(counts) / statistics.mean(counts) if counts else 1.0


def staged_replay(spark, crawler, inp: WaveInput, tracer: Tracer) -> dict:
    sc = spark.sparkContext
    pol = crawler.policy
    out: dict[str, float] = {}

    def step(name: str, fn):
        sc.setJobGroup(GROUP_PREFIX + name, f"perfbench replay {name}")
        cpu0 = procstat.tree_cpu_s(os.getpid())
        with tracer.span(f"replay.{name}", parent="replay"):
            res = fn()
        out[f"{name}.cpu_s"] = procstat.tree_cpu_s(os.getpid()) - cpu0
        return res

    def materialize(df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist()
        return df, df.count()

    # ---- ingest
    def ingest():
        if inp.frontier is not None:
            return materialize(inp.frontier)[0], inp.hosts
        if inp.seed_frame is not None:
            frontier, _ = ops.ingest_seed_frame(inp.seed_frame)
        else:
            frontier, _ = ops.ingest_seeds(spark, inp.seeds)
        return materialize(frontier)[0], spark.createDataFrame([], HOSTS_SCHEMA)

    frontier, hosts = step("ingest", ingest)

    # ---- robots: hosts join, robots for new hosts, allowed + t0
    def robots():
        fr = frontier.join(
            F.broadcast(hosts.select("host", "rules_json", "fetch_total")),
            "host", "left",
        )
        new_hosts = (
            fr.filter(F.col("fetch_total").isNull())
            .select("host", "host_hash").distinct()
        )
        rows, n_new = materialize(
            ops.fetch_robots(new_hosts, crawler.web_b, pol.user_agent)
        )
        nh = F.broadcast(rows.select(
            "host", F.col("rules_json").alias("_rj"),
            F.col("fetch_total").alias("_ft"),
        ))
        fr = (
            fr.join(nh, "host", "left")
            .withColumn("rules_json", F.coalesce("rules_json", "_rj"))
            .withColumn("fetch_total", F.coalesce("fetch_total", "_ft"))
            .drop("_rj", "_ft")
        )
        allowed = (
            fr.filter(ops.robots_allowed_udf(F.col("url"), F.col("rules_json")))
            .withColumn("t0", F.coalesce(F.col("fetch_total"), F.lit(0)))
            .drop("rules_json", "fetch_total", "state")
        )
        return materialize(allowed)[0], n_new

    allowed, n_new_hosts = step("robots", robots)
    out["robots.new_hosts"] = n_new_hosts

    # ---- rank
    def rank():
        cand = ops.candidate_set(
            allowed, pol, crawler.n_salts, num_partitions=crawler.rank_partitions
        )
        ranked = ops.with_global_rank(
            cand, spark, ops.KEY_COLS, out_col="g",
            num_partitions=crawler.rank_partitions,
        )
        remaining = pol.global_page_budget - inp.global_fetched
        fetchset = ranked.filter(F.col("g") < remaining).withColumn(
            "seq", F.col("g") + F.lit(inp.seq_next)
        )
        grouped = getattr(cand, "_aux_persist", None) is not None
        return materialize(fetchset)[0], ranked._rank_source, grouped

    fetchset, rank_source, grouped = step("rank", rank)
    # 1 = salted windows (B <= SALT_PATH_MAX_B), 2 = grouped two-phase rank
    out["rank.path"] = 2 if grouped else 1

    # ---- fetch (+ fused bloom probe)
    def fetch():
        return materialize(ops.fetch_extract(
            fetchset, crawler.web_b,
            bloom=crawler.bloom if crawler.use_bloom else None,
            bloom_version=inp.seen_version,
        ))

    refs, n_refs = step("fetch", fetch)
    out["fetch.refs_out"] = n_refs

    # ---- decode
    def decode():
        decoded, n = materialize(
            ops.decode_images(refs.filter(F.col("kind") == "img"), crawler.web_b)
        )
        return n, decoded.filter(~F.col("ok")).count()

    n_dec, n_dec_failed = step("decode", decode)
    out["decode.rows"] = n_dec
    out["decode.fail_frac"] = n_dec_failed / n_dec if n_dec else 0.0

    # ---- statistics outside the timed steps
    sc.setJobGroup(GROUP_PREFIX + "stats", "perfbench replay statistics")
    out["rank.skew"] = _partition_skew(rank_source)
    out["fetch.skew"] = _partition_skew(fetchset)
    seen = crawler.store.read_delta_union("seen", inp.seen_version).select(
        "url", F.lit(True).alias("_seen")
    )
    probe = refs.select("url", "maybe_seen").join(seen, "url", "left")
    st = probe.agg(
        F.count("*").alias("n"),
        F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
        F.sum(F.col("_seen").isNull().cast("long")).alias("unseen"),
        F.sum((F.col("maybe_seen") & F.col("_seen").isNull()).cast("long"))
        .alias("false_pos"),
    ).collect()[0]
    out["bloom.maybe_frac"] = (st["maybe"] or 0) / st["n"] if st["n"] else 0.0
    out["bloom.fpr"] = (st["false_pos"] or 0) / st["unseen"] if st["unseen"] else 0.0
    for df in (frontier, allowed, fetchset, refs, rank_source):
        df.unpersist()
    sc.setJobGroup("perfbench", "perfbench")
    return out


def kernel_costs(web, page_urls: list[str], reps: int = 5) -> dict:
    """Per-item microseconds of the pure kernels the UDFs call, on the
    workload's own pages and images, single-threaded in the driver."""
    from spider_1_spark.functions.codecs import DecodeError, decode
    from spider_1_spark.functions.extract import extract_refs
    from spider_1_spark.functions.phash import dhash64
    from spider_1_spark.functions.urlnorm import canonicalize

    pages = [(u, h) for u in page_urls if (h := web.html(u)) is not None]
    refs = [(raw, u) for u, h in pages for _, _, raw, _ in extract_refs(h)]
    images = []
    for raw, base in refs:
        canon = canonicalize(raw, base=base)
        data = web.image(canon) if canon is not None else None
        if data is not None:
            try:
                images.append((data, decode(data)[0]))
            except DecodeError:
                pass

    def per_item_us(items, fn) -> float:
        if not items:
            return 0.0
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            runs.append(time.perf_counter() - t0)
        return statistics.median(runs) / len(items) * 1e6

    return {
        "functions.extract_us": per_item_us(pages, lambda p: extract_refs(p[1])),
        "functions.canonicalize_us": per_item_us(
            refs, lambda r: canonicalize(r[0], base=r[1])
        ),
        "functions.decode_us": per_item_us(images, lambda im: decode(im[0])),
        "functions.dhash_us": per_item_us(images, lambda im: dhash64(im[1])),
    }
