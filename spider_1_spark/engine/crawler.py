"""The distributed wave loop — SURVEY §2 op A22 / §3 EP1+EP2.

Replaces the reference's single-threaded ``while queue:`` loop
(SURVEY §0.2 [GENRE]) with barrier-synchronous Spark waves that
reproduce its crawl ordering, seen set, image rows and counters
EXACTLY (BASELINE.json:2,14,15).  Equality is provable because the
oracle's dequeue order is a pure function of the web graph and policy
(SPEC-3): no wall-clock enters any decision.

Closed-form re-derivation of the oracle's sequential gates
----------------------------------------------------------
Per wave the oracle scans frontier URLs in SPEC-3 key order and, per
URL, checks: robots → host total cap C → host wave budget B → global
budget G; only a *fetch* increments any counter.  For host h with
pre-wave total t0 and eligible (robots-allowed) URLs ranked r=1.. by
key:

* cap_h = max(0, min(B, C - t0)).  Absent G exhaustion exactly the
  first cap_h eligible URLs are fetched ("candidates").
* G is consumed in GLOBAL key order: with ``remaining`` budget, the
  first ``remaining`` candidates (by global key order) are fetched;
  exhaustion happens at the key K* of the last fetched candidate.
* any URL evaluated after exhaustion (key > K*) sees the FINAL host
  fetch count F_h; any URL before it sees cap_h (all smaller-ranked
  candidates of its host were already fetched).  Hence every
  non-fetched URL classifies as:
      f  = F_h  if exhausted and key > K*  else cap_h
      status = dropped  if t0 + f >= C          (oracle's C gate)
             = deferred if f >= B               (oracle's B gate)
             = dropped  otherwise               (only reachable post-
                                                 exhaustion: G gate)
  Deferred URLs re-enter the next wave with their ORIGINAL key
  (SPEC-5), which keeps the global ordering stable.

This closed form is what lets a 1000-executor cluster reproduce a
single-process crawl: per-host ranks come from salted windows
(operators.candidate_set), the global rank from a two-phase
zipWithIndex (operators.with_global_rank), and everything else is
joins + column expressions — no sequential scan anywhere.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_1_spark.engine import operators as ops
from spider_1_spark.engine.dag import WaveDag
from spider_1_spark.engine.state import HOSTS_SCHEMA, METRICS_SCHEMA
from spider_1_spark.reference_model.spider1_ref import COUNTER_NAMES, Policy

KEY = ops.KEY_COLS  # depth, parent_rank, link_pos, url

# Scheduler pools for wave pipelining (see fairscheduler.xml for the
# measured FIFO-starvation failure mode).  Sessions opt in with
#   spark.scheduler.mode=FAIR
#   spark.scheduler.allocation.file=FAIR_SCHEDULER_XML
# The engine tags every driver thread's jobs with a pool either way;
# under the default FIFO scheduler the tags are inert.
FAIR_SCHEDULER_XML = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml"
)
CRITICAL_POOL = "critical"  # jobs the wave (or next wave) blocks on
HARVEST_POOL = "harvest"  # overlapped fetch/decode stages (see below)
LAGGING_POOL = "lagging"  # sink writes joined only at commit

# The hosts side of the frontier⋈hosts join is broadcast while the
# driver-tracked host count stays at or below this, and shuffle-joined
# past it (the 10^8-host design point).  Patchable so tests can force
# the shuffle join on small fixtures.
HOSTS_BROADCAST_MAX = 4_000_000


def _release_cached(df: DataFrame) -> None:
    """Release a wave's cached frame COMPLETELY at commit.

    ``DataFrame.unpersist()`` only drops cache-manager entries; the RDD
    blocks of a ``localCheckpoint``'ed frame are not among them and
    would linger until GC/ContextCleaner — unbounded cached-block
    growth on long crawls (ADVICE r1).  A checkpointed frame's plan is
    a ``LogicalRDD`` wrapping the materialized RDD: unpersist that RDD
    directly.  Non-checkpointed frames pass through the plan probe
    harmlessly.
    """
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # plan shapes without a wrapped RDD: nothing to free


@dataclass
class CrawlArtifacts:
    """Handles onto the committed state after a run (all DataFrames)."""

    crawl_log: DataFrame
    seen: DataFrame
    images: DataFrame
    metrics: DataFrame
    counters: dict[str, int]
    n_waves: int


class SparkCrawler:
    """EP1 ``run(seeds)`` / EP2 ``resume()`` (SPEC-1..12)."""

    def __init__(
        self,
        spark: SparkSession,
        policy: Policy,
        web,
        root: str,
        n_salts: int = 8,
        rank_partitions: int | None = None,
        use_bloom: bool = True,
        bloom_shards: int = 32,
        bloom_bits: int = 1 << 22,
        store=None,
        bloom_root: str | None = None,
        bloom_io=None,
    ):
        self.spark = spark
        self.policy = policy
        self.web = web
        self.web_b = spark.sparkContext.broadcast(web)
        # SURVEY §1.4 backend split: IcebergStateStore when the runtime
        # jar is on the classpath and ``root`` is a catalog namespace
        # (make_store auto-detects; inert in this sandbox — no jar),
        # ParquetSnapshotStore otherwise.  ``store`` injects either
        # explicitly.  The bloom sidecars always need a filesystem/
        # object-store path: pass ``bloom_root`` when ``root`` is a
        # catalog namespace.
        if store is None:
            from spider_1_spark.engine.state_iceberg import make_store

            store = make_store(spark, root)
        self.store = store
        self.n_salts = n_salts
        self.rank_partitions = rank_partitions
        self.use_bloom = use_bloom
        from spider_1_spark.engine.bloom import BloomStore

        # bloom_io: a bloom.ShardIO for non-local shard storage (the
        # object-store deployments the ShardIO docstring maps out);
        # default LocalShardIO.  The instance rides inside BloomStore
        # through the worker-side probe closures, so it must pickle.
        self.bloom = BloomStore(
            bloom_root or root, bloom_shards, bloom_bits, io=bloom_io
        )

    # ------------------------------------------------------------ run

    def run(self, seeds: list[str], max_waves: int | None = None) -> CrawlArtifacts:
        """Fresh crawl: ingest seeds, loop waves, commit per wave."""
        return self._start(
            ops.mark_seed_duplicates(ops.seed_frame(self.spark, seeds)),
            max_waves,
        )

    def run_frontier(
        self, seed_frame: DataFrame, max_waves: int | None = None
    ) -> CrawlArtifacts:
        """Fresh crawl from a (seed_rank, raw_url) DataFrame (bench path)."""
        return self._start(ops.mark_seed_duplicates(seed_frame), max_waves)

    def _start(self, marked: DataFrame, max_waves: int | None) -> CrawlArtifacts:
        """Seed (wave -1) from ``marked``, then run the waves."""
        st = self.store
        st.cleanup()
        if self.use_bloom:
            self.bloom.prune(-1)
        with self._loop_thread():
            return self._loop(self._seed(marked), max_waves)

    def _seed(self, marked: DataFrame) -> dict:
        """Wave -1: write the v0 state tables and commit them.

        ``marked`` is ``ops.mark_seed_duplicates`` output.  ONE job
        materializes it and counts kept and duplicate seeds, so the
        seeds cross into Python once.  The frontier, seen and hosts v0
        writes and the bloom v0 update then run concurrently from the
        cached frame as critical-pool nodes; the wave -1 manifest
        commits only after all four are durable (SPEC-12).
        """
        st = self.store
        dag = WaveDag(self.spark.sparkContext, "seed")
        marked = marked.persist()
        try:
            dag.describe("mark")
            counts = marked.agg(
                F.count_if(~F.col("_dup")).alias("kept"),
                F.count_if(F.col("_dup")).alias("dups"),
            ).first()
            frontier = marked.filter(~F.col("_dup")).drop("_dup")
            seen0 = frontier.select(
                "url",
                "host_hash",
                F.lit(0).alias("first_wave"),
                "depth",
                "parent_rank",
                "link_pos",
            )
            nodes = {
                "frontier": lambda: st.write_version("frontier", 0, frontier),
                "seen": lambda: st.write_version("seen", 0, seen0),
                "hosts": lambda: st.write_version(
                    "hosts", 0, self.spark.createDataFrame([], HOSTS_SCHEMA)
                ),
            }
            if self.use_bloom:
                from spider_1_spark.engine import bloom as bloom_mod

                nodes["bloom"] = lambda: bloom_mod.update(
                    frontier.select("url"), self.bloom, -1, 0
                )
            for name, fn in nodes.items():
                dag.add(name, CRITICAL_POOL, fn)
        finally:
            # every node ends before a failure re-raises, so no writer
            # outlives the seeding
            dag.join()
            marked.unpersist()
        dag.drain()
        counters = {k: 0 for k in COUNTER_NAMES}
        counters["deduped"] = int(counts["dups"])
        manifest = {
            "wave_id": -1,
            "versions": {"frontier": 0, "seen": 0, "hosts": 0},
            "seq_next": 0,
            "global_fetched": 0,
            "n_hosts": 0,
            "counters": counters,
            # empty seed frontier => zero waves, like the oracle's
            # `while frontier:` never entering the loop
            "done": counts["kept"] == 0,
        }
        st.commit(manifest)
        return manifest

    def resume(self, max_waves: int | None = None) -> CrawlArtifacts:
        """EP2: continue from the last committed manifest (SPEC-12)."""
        st = self.store
        manifest = st.read_manifest()
        if manifest is None:
            raise ValueError(f"no manifest at {self.store.root}")
        st.cleanup()
        if self.use_bloom:
            self.bloom.prune(manifest["versions"]["seen"])
        with self._loop_thread():
            return self._loop(manifest, max_waves)

    # ----------------------------------------------------------- loop

    @contextlib.contextmanager
    def _loop_thread(self):
        """Run the caller's thread as the loop thread: its jobs (every
        critical-path job not in a node) go to the critical pool.  On
        exit the caller's pool and job description are restored, so
        the caller's later jobs do not run in the critical pool."""
        sc = self.spark.sparkContext
        keys = ("spark.scheduler.pool", "spark.job.description")
        saved = [sc.getLocalProperty(k) for k in keys]
        sc.setLocalProperty("spark.scheduler.pool", CRITICAL_POOL)
        try:
            yield
        finally:
            for k, v in zip(keys, saved):
                sc.setLocalProperty(k, v)

    def _loop(self, manifest: dict, max_waves: int | None) -> CrawlArtifacts:
        """Pipelined wave loop.

        Wave w+1's CRITICAL path (schedule → fetch → dedup → seen /
        frontier / hosts snapshots — everything the next wave reads)
        starts as soon as wave w's critical path ends; wave w's LAGGING
        nodes (images sink append, crawl-log and frontier writes, bloom
        update) drain concurrently, and wave w commits (metrics and the
        manifest rename) while w+1 computes.  Manifest commits stay
        strictly sequential, so the crash contract is unchanged:
        anything newer than the committed manifest is pruned on resume
        and the wave replays idempotently (SPEC-12;
        tests/test_checkpoint.py).
        """
        waves_run = 0
        pending: dict | None = None
        latest = manifest  # last COMMITTED manifest
        dag: WaveDag | None = None  # the wave whose critical path runs
        try:
            while not (
                pending["done"] if pending is not None else latest["done"]
            ):
                if max_waves is not None and waves_run >= max_waves:
                    break
                src = pending if pending is not None else latest
                dag = WaveDag(
                    self.spark.sparkContext, f"w{src['wave_id'] + 1}"
                )
                new_pending = self._wave_critical(src, dag)
                waves_run += 1
                if pending is not None:
                    latest = self._wave_commit(pending, latest)
                pending = new_pending
            if pending is not None:
                latest = self._wave_commit(pending, latest)
                # no next wave will consume the final handoff frame
                _release_cached(pending["_frontier_df"])
                pending = None
        except BaseException:
            # a failed wave must not abandon node threads: join the
            # pending wave's DAG and the current wave's DAG so no thread
            # is still writing files while the exception unwinds (a
            # caller that catches and resume()s would otherwise race
            # those writers against cleanup()'s pruning)
            for d in (pending and pending["_dag"], dag):
                if d is not None:
                    d.join()
            raise
        return self.artifacts(latest)

    def artifacts(self, manifest: dict | None = None) -> CrawlArtifacts:
        if manifest is None:
            manifest = self.store.read_manifest()
        wave = manifest["wave_id"]
        v = manifest["versions"]
        return CrawlArtifacts(
            crawl_log=self.store.read_waves("crawl_log", wave),
            seen=self.store.read_delta_union("seen", v["seen"]),
            images=self.store.read_waves("images", wave),
            metrics=self.store.read_waves("metrics", wave),
            counters=dict(manifest["counters"]),
            n_waves=wave + 1,
        )

    # ----------------------------------------------------------- wave

    def _wave_critical(self, src: dict, dag: WaveDag) -> dict:
        """Run wave ``src["wave_id"]+1`` up to (and including) the state
        snapshots the NEXT wave reads, declaring its nodes on ``dag``;
        return a ``pending`` dict for _wave_commit.  ``src`` is either
        the last committed manifest or the previous wave's pending dict
        — only its versions / seq_next / global_fetched / wave_id (and
        a pending dict's handoff frame and DAG) are read; counters are
        resolved at commit time."""
        spark, st, pol = self.spark, self.store, self.policy
        wave = src["wave_id"] + 1
        v = src["versions"]
        remaining = pol.global_page_budget - src["global_fetched"]
        cdelta = {k: 0 for k in COUNTER_NAMES}
        metrics: list[tuple] = []  # (stage, pid, counter_name, n)

        # In-memory handoff from the previous wave when available: the
        # frontier PARQUET write is a lagging node (joined at that
        # wave's commit), so reading it back here would stall on it.
        # The handoff plan recomputes from frames the previous wave
        # keeps cached until its commit — which happens only after
        # this wave's critical path.  Resume / wave 0 read the
        # committed snapshot.  The enriched `fr` below is persisted
        # MEMORY_AND_DISK and materialized by this wave's first job,
        # i.e. before the previous wave's frames are released; after
        # that release the handoff lineage is no longer recomputable
        # (it crosses a freed localCheckpoint), so a lost `fr` block on
        # a real cluster fails the wave — recovery is the normal
        # resume-from-manifest contract, which reads parquet only.
        frontier = src.get("_frontier_df")
        if frontier is None:
            frontier = st.read_version("frontier", v["frontier"])
        hosts = st.read_version("hosts", v["hosts"])
        # NOTE: the seen delta-union plan is built inside harvest_node
        # below, AFTER the previous wave's seen write is durable —
        # read_delta_union skips not-yet-written version dirs at plan
        # time, so building it here under harvest pipelining would
        # silently drop the newest delta.

        # --- A11/SPEC-6: hosts enrichment + robots for new hosts -----
        # ONE left join against the hosts table yields both the
        # rules/t0 enrichment AND new-host detection (unmatched rows),
        # so the distinct shuffles only unmatched rows (wave 0: all,
        # later: ~none) and the robots/union chain costs ~nothing in
        # the steady state of a long crawl, when a wave brings no new
        # hosts.  The hosts side is broadcast up to HOSTS_BROADCAST_MAX
        # driver-tracked hosts and shuffle-joined past it.
        n_hosts_known = src.get("n_hosts")
        hosts_sel = hosts.select("host", "rules_json", "fetch_total")
        if n_hosts_known is None or n_hosts_known <= HOSTS_BROADCAST_MAX:
            hosts_sel = F.broadcast(hosts_sel)
        fr = frontier.join(hosts_sel, "host", "left")
        new_hosts = (
            fr.filter(F.col("fetch_total").isNull())
            .select("host", "host_hash")
            .distinct()
        )
        # persisted so the hosts snapshot node reuses the SAME robots
        # fetch (no re-fetch on side paths); materialized lazily by the
        # broadcast exchange below — NO driver-blocking count job sits
        # in the critical path (an explicit count here measured -20%
        # throughput at local[4]: one extra sequential job per wave).
        # In the steady state (no new hosts) the broadcast is empty and
        # the join/union below cost ~nothing.
        new_host_rows = ops.fetch_robots(
            new_hosts, self.web_b, pol.user_agent
        ).persist()
        nh = F.broadcast(
            new_host_rows.select(
                "host",
                F.col("rules_json").alias("_rj"),
                F.col("fetch_total").alias("_ft"),
            )
        )
        fr = (
            fr.join(nh, "host", "left")
            .withColumn(
                "rules_json", F.coalesce(F.col("rules_json"), F.col("_rj"))
            )
            .withColumn(
                "fetch_total",
                F.coalesce(F.col("fetch_total"), F.col("_ft")),
            )
            .drop("_rj", "_ft")
        )
        hosts_all = hosts.unionByName(new_host_rows)

        # --- robots gate + t0 ----------------------------------------
        # allow-all hosts (rules_json "[]") short-circuit JVM-side; the
        # rule-match UDF output is only consulted for hosts with real
        # rules.  (A two-branch union was tried and reverted: it scans
        # the frontier twice, which costs more than the vectorized UDF.)
        no_rules = F.col("rules_json").isNull() | (F.col("rules_json") == "[]")
        fr = fr.withColumn(
            "allowed",
            F.when(no_rules, F.lit(True)).otherwise(
                ops.robots_allowed_udf(F.col("url"), F.col("rules_json"))
            ),
        )
        fr = fr.withColumn("t0", F.coalesce(F.col("fetch_total"), F.lit(0)))
        fr = fr.persist()
        # Materialize `fr` NOW, with the robots-blocked partition count
        # the wave needs anyway (A20) — ONE linear job, before any
        # other consumer exists.  Computing this count concurrently
        # with the rank chain's first jobs made 2-3 stages race the
        # COLD `fr` cache: at local[16] that measured 15-24x per-record
        # JVM-CPU inflation (codegen-lock convoy + duplicate partition
        # compute + unroll churn, BENCH/BASELINE.md §3d) and was
        # invisible at local[4].  Every downstream job (candidate
        # ranking, gate) reads `fr` warm.
        dag.describe("robots")
        robots_rows = [
            ("robots", pid, "robots_blocked", n)
            for pid, n in self._pcount_rows(fr.filter(~F.col("allowed")))
        ]
        metrics.extend(robots_rows)
        cdelta["robots_blocked"] += sum(r[3] for r in robots_rows)

        # Columns dead past the robots gate are dropped BEFORE the rank
        # chain: rules_json (robots JSON strings — the widest column),
        # the allowed flag, raw fetch_total (t0 already extracted) and
        # state (only ever re-emitted as a literal).  Everything from
        # the salt/grouped rank shuffles through the fetchset cache and
        # the gate anti-join carries the narrower rows.
        allowed = fr.filter(F.col("allowed")).drop(
            "rules_json", "fetch_total", "allowed", "state"
        )

        # --- A5+A9+A10: candidates, global rank, G cutoff ------------
        dag.describe("rank")
        cand = ops.candidate_set(
            allowed, pol, self.n_salts, num_partitions=self.rank_partitions
        )
        ranked = ops.with_global_rank(
            cand, spark, KEY, out_col="g", num_partitions=self.rank_partitions
        )
        fetchset = ranked.filter(F.col("g") < remaining).withColumn(
            "seq", F.col("g") + F.lit(src["seq_next"])
        )
        # lazy localCheckpoint (not persist): every downstream node
        # re-references this frame (anti-join, per-host agg, log write,
        # fetch stage) from CONCURRENT driver threads — a checkpointed
        # LogicalRDD hands each of them precomputed partitions, while
        # persist() was measured 2.4x slower wall-clock on the 2×10^5
        # bench (180 s vs 54 s).  Its RDD blocks are NOT freed by
        # DataFrame.unpersist(); _release_cached reaches into the
        # LogicalRDD at wave commit.  Lazy: the per-partition count
        # right below is the single next action, so it doubles as the
        # materializing job.
        fetchset = fetchset.localCheckpoint(eager=False)
        # ONE materializing job: per-partition fetched counts (A20)
        # plus the fetchset's min depth — the depth decides whether
        # this wave can emit anchors at all (pipelining gate below)
        fetch_rows = (
            fetchset.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n"), F.min("depth").alias("d"))
            .collect()
        )
        fetch_pc = [(int(r["partition_id"]), int(r["n"])) for r in fetch_rows]
        min_depth = min((int(r["d"]) for r in fetch_rows), default=None)
        for pid, n in fetch_pc:
            metrics.append(("fetch", pid, "fetched", n))
        n_fetched = sum(n for _, n in fetch_pc)
        cdelta["fetched"] += n_fetched
        # No fetched page sits above max_depth-1 => no extracted anchor
        # survives SPEC-7, so the next frontier is EXACTLY this wave's
        # deferred rows — which depend only on the politeness gate, not
        # on the fetch.  That decouples the next wave's schedule+rank
        # chain from this wave's fetch/decode stage (the "frontier
        # processing" regime: image harvesting over a pre-built
        # frontier, and every crawl's final depth tier).
        no_anchor = min_depth is None or min_depth >= pol.max_depth
        # n_cand >= remaining  <=>  the G budget ran out mid-wave
        exhausted = n_fetched == remaining
        if exhausted:
            kstar = (
                fetchset.filter(F.col("g") == remaining - 1)
                .select(*KEY)
                .collect()[0]
            )
        else:
            kstar = None

        # --- the wave's DAG -------------------------------------------
        # The rest of the wave is a DAG of nodes whose edges are the
        # persisted frames.  Each persisted frame is materialized by
        # exactly ONE job before concurrent consumers fork, so nothing
        # computes twice.  Completion order never affects results: the
        # manifest rename in _wave_commit is still the single
        # sequential commit (SPEC-12).

        def log_node() -> None:
            # fetchset is already range-partitioned + sorted by KEY and
            # seq = g + const is monotone across those partitions, so
            # the output files are seq-contiguous as-is; every reader
            # orders by the seq COLUMN.  A repartitionByRange(seq) here
            # would re-shuffle the whole fetchset (plus a range-sampling
            # job) per wave for nothing: a full-shuffle job competing
            # with the fetch stage for cores.
            st.write_wave(
                "crawl_log",
                wave,
                fetchset.select(
                    "seq",
                    "url",
                    "depth",
                    "parent_rank",
                    "link_pos",
                    F.lit(wave).alias("wave_id"),
                ),
            )

        # per-host fetched counts — ONE shuffle of fetchset, shared by
        # the gate and hosts nodes.  Tiny result (≤ #hosts rows),
        # materialized by the fh node both consumers depend on.
        fh = fetchset.groupBy("host").agg(F.count("*").alias("F_h")).persist()

        def gate_node():
            """Closed-form dropped/deferred classification (module
            docstring) + per-partition gate counters, one job."""
            rest = (
                allowed.join(fetchset.select("url"), "url", "left_anti")
                .join(fh, "host", "left")
                .withColumn("F_h", F.coalesce(F.col("F_h"), F.lit(0)))
                .withColumn(
                    "cap_h",
                    F.greatest(
                        F.lit(0),
                        F.least(
                            F.lit(pol.per_host_wave_budget),
                            F.lit(pol.per_host_total_cap) - F.col("t0"),
                        ),
                    ),
                )
            )
            if kstar is not None:
                post = (
                    F.struct(*[F.col(c) for c in KEY])
                    > F.struct(*[F.lit(kstar[c]).alias(c) for c in KEY])
                )
            else:
                post = F.lit(False)
            f_eff = F.when(post, F.col("F_h")).otherwise(F.col("cap_h"))
            rest = rest.withColumn(
                "status",
                F.when(
                    F.col("t0") + f_eff >= F.lit(pol.per_host_total_cap),
                    "dropped",
                )
                .when(f_eff >= F.lit(pol.per_host_wave_budget), "deferred")
                .otherwise("dropped"),
            ).persist()
            rows = [
                ("gate", int(r["partition_id"]), r["status"], int(r["n"]))
                for r in rest.groupBy(
                    F.spark_partition_id().alias("partition_id"), "status"
                )
                .agg(F.count("*").alias("n"))
                .collect()
            ]
            return rest, rows

        def hosts_node() -> int:
            hosts_next = (
                hosts_all.join(fh, "host", "left")
                .withColumn(
                    "fetch_total",
                    (
                        F.col("fetch_total")
                        + F.coalesce(F.col("F_h"), F.lit(0))
                    ).cast("int"),
                )
                .drop("F_h")
            )
            st.write_version("hosts", v["hosts"] + 1, hosts_next)
            # cache hit (the write scanned hosts_all ∪ new_host_rows):
            # the host-count bookkeeping rides this node instead of
            # occupying a critical-path job
            return new_host_rows.count()

        def harvest_node() -> dict:
            """A12–A18: fetch → extract → dedup, up to ``fresh``.

            Runs in the CRITICAL pool when this wave can emit anchors
            (the loop thread then waits for ``fresh``, which the next
            frontier needs), and in the HARVEST pool when it cannot
            (``no_anchor``): the loop then schedules wave w+1's entire
            schedule+rank chain WHILE this wave fetches/decodes — the
            profile showed those chains serializing ~35 s of a 4-wave
            10^6 run at local[16] against otherwise-idle cores.

            Its deps are the previous wave's seen and bloom nodes:
            (a) the previous wave's bloom shard update must be durable
            before this wave's fused probe (SPEC-4 zero false
            negatives); (b) the previous wave's seen DELTA must be
            durable before the delta-union plan is *built* —
            read_delta_union skips not-yet-written version dirs at
            plan time, so an early plan would silently drop the newest
            delta and double-crawl its URLs.
            """
            seen = st.read_delta_union("seen", v["seen"])
            hmetrics: list[tuple] = []
            hdelta = {"deduped": 0}

            # --- A12/A13(+A2+A6): fused fetch+extract+canon+bloom ---
            refs = ops.fetch_extract(
                fetchset,
                self.web_b,
                bloom=self.bloom if self.use_bloom else None,
                bloom_version=v["seen"],
            ).persist()

            # seen gate (A7): ONLY maybe-seen rows are joined against
            # the seen table (bloom-negative rows are definitely new —
            # zero false negatives by construction); a single left
            # join serves both the dup counter and the new-ref filter.
            seen_urls = seen.select("url")
            maybe = refs.filter(F.col("maybe_seen")).drop("maybe_seen")
            sure_new = refs.filter(~F.col("maybe_seen")).drop("maybe_seen")
            marked = maybe.join(
                seen_urls.withColumn("_seen", F.lit(True)), "url", "left"
            ).persist()
            dup_seen = marked.filter(F.col("_seen").isNotNull())
            new_refs = sure_new.unionByName(
                marked.filter(F.col("_seen").isNull()).drop("_seen")
            )

            # A8 intra-wave dedup, in the oracle's (seq, pos) order.
            # An occurrence ADDS its url to seen unless it is an anchor
            # beyond max_depth (SPEC-7: never enqueued, never seen).
            # The first adding occurrence is the discovery; every later
            # occurrence, beyond-depth anchors included, is deduped;
            # beyond-depth anchors before it (or with no adding
            # occurrence at all) vanish silently.  A wave mixes depth
            # tiers when deferrals carry URLs into the next tier, so a
            # beyond-depth anchor can follow a same-wave discovery.
            # Hash aggregate (min_by) instead of a sort window: partial
            # map-side combine collapses duplicate URLs before the
            # shuffle — the sort-based row_number variant shuffled
            # every ref.
            adds = ~(
                (F.col("kind") == "a")
                & (F.col("parent_depth") + 1 > F.lit(pol.max_depth))
            )
            at = F.struct("seq", "pos")
            grouped = (
                new_refs.groupBy("url")
                .agg(
                    # null orderings are skipped: the first ADDING one
                    F.min_by(
                        F.struct(
                            "parent_depth", "seq", "pos", "kind", "caption"
                        ),
                        F.when(adds, at),
                    ).alias("first"),
                    F.count_if(adds).alias("n_add"),
                    F.collect_list(F.when(~adds, at)).alias("beyond_at"),
                )
                .filter(F.col("first").isNotNull())
                .select(
                    "url",
                    "first",
                    (
                        F.col("n_add")
                        - 1
                        + F.size(
                            F.filter(
                                "beyond_at",
                                lambda b: b
                                > F.struct(
                                    F.col("first.seq").alias("seq"),
                                    F.col("first.pos").alias("pos"),
                                ),
                            )
                        )
                    ).alias("n_dup"),
                )
            )
            grouped = grouped.persist()
            pidc = F.spark_partition_id().alias("partition_id")
            # Two SEQUENTIAL linear jobs, not one 3-branch union: the
            # union's map stages raced the COLD refs/marked/grouped
            # caches — concurrent stages over a cold cached frame
            # measured 15-24x per-record CPU inflation at local[16]
            # (§3d), and here the duplicated partition compute is the
            # Python fetch/extract stage itself, the wave's most
            # expensive work.  Job 1 scans `marked` (materializing refs
            # + marked — the fetch stage runs exactly once); job 2
            # aggregates `grouped` (built from the now-warm marked) in
            # ONE scan yielding both the intra-wave dup counts and the
            # next-wave anchor count — the latter (with the gate's
            # deferred count) decides frontier emptiness WITHOUT
            # waiting for the frontier parquet write.
            n_anchor_next = 0
            dedup_by_pid: dict[int, int] = {}
            for r in (
                dup_seen.groupBy(pidc)
                .agg(F.count("*").cast("long").alias("n"))
                .collect()
            ):
                n = int(r["n"] or 0)
                if n:
                    dedup_by_pid[int(r["partition_id"])] = n
            for r in (
                grouped.groupBy(pidc)
                .agg(
                    F.sum("n_dup").cast("long").alias("dups"),
                    F.sum(
                        F.when(F.col("first.kind") == "a", 1).otherwise(0)
                    ).cast("long").alias("anchors"),
                )
                .collect()
            ):
                n = int(r["dups"] or 0)
                if n:
                    pid = int(r["partition_id"])
                    dedup_by_pid[pid] = dedup_by_pid.get(pid, 0) + n
                n_anchor_next += int(r["anchors"] or 0)
            for pid, n in sorted(dedup_by_pid.items()):
                hmetrics.append(("dedup", pid, "deduped", n))
                hdelta["deduped"] += n
            fresh = grouped.select("url", "first.*")
            fresh = ops.with_host(fresh).persist()
            # materialize ONCE before three concurrent consumers fork —
            # a cold persisted frame hit by parallel jobs computes
            # per-job
            fresh.count()
            dag.cached.extend([refs, marked, grouped, fresh])
            return {
                "metrics": hmetrics,
                "cdelta": hdelta,
                "n_anchor": n_anchor_next,
                "fresh": fresh,
            }

        def images_node():
            """A14/A15/A16: decode + verify + phash + sink."""
            fresh = dag.result("harvest")["fresh"]
            img_refs = fresh.filter(F.col("kind") == "img")
            decoded = ops.decode_images(img_refs, self.web_b).persist()
            rows = [
                ("decode", pid, "decode_failed", n)
                for pid, n in self._pcount_rows(decoded.filter(~F.col("ok")))
            ]
            st.write_wave(
                "images",
                wave,
                decoded.filter(F.col("ok")).select(
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                ),
            )
            decoded.unpersist()
            return rows

        def seen_node() -> None:
            # delta write: only this wave's new URLs (append-only)
            fresh = dag.result("harvest")["fresh"]
            seen_new = fresh.select(
                "url",
                "host_hash",
                F.lit(wave).alias("first_wave"),
                (F.col("parent_depth") + 1).alias("depth"),
                F.col("seq").alias("parent_rank"),
                F.col("pos").alias("link_pos"),
            )
            st.write_version("seen", v["seen"] + 1, seen_new)

        def bloom_node() -> None:
            # A18: OR the new URLs' bits into the bloom shards.  Runs
            # AFTER the seen write but off the critical path: the next
            # wave needs the shards only at its FETCH stage, not at
            # schedule time.  It completes before this wave's manifest
            # commit: a committed manifest with missing shard bits
            # would give the resume path bloom false negatives (SPEC-4).
            from spider_1_spark.engine import bloom as bloom_mod

            bloom_mod.update(
                st.read_version("seen", v["seen"] + 1).select("url"),
                self.bloom,
                v["seen"],
                v["seen"] + 1,
            )

        fh_node = dag.add("fh", CRITICAL_POOL, fh.count)
        dag.add("log", LAGGING_POOL, log_node)
        dag.add("gate", CRITICAL_POOL, gate_node, deps=[fh_node])
        dag.add("hosts", CRITICAL_POOL, hosts_node, deps=[fh_node])
        # the previous wave's seen and bloom writes (see harvest_node)
        prev = src.get("_dag")
        prev_writes = (
            []
            if prev is None
            else [prev.nodes[n] for n in ("seen", "bloom") if n in prev.nodes]
        )
        harvest = dag.add(
            "harvest",
            HARVEST_POOL if no_anchor else CRITICAL_POOL,
            harvest_node,
            deps=prev_writes,
        )
        dag.add("images", LAGGING_POOL, images_node, deps=[harvest])
        seen_n = dag.add("seen", CRITICAL_POOL, seen_node, deps=[harvest])
        if self.use_bloom:
            dag.add("bloom", LAGGING_POOL, bloom_node, deps=[seen_n])

        # next frontier = fresh anchors at depth+1 ∪ deferred rows.
        # Under no_anchor it is exactly the deferred rows, so it closes
        # from the GATE alone while the harvest overlaps the next
        # wave's schedule+rank.
        if no_anchor:
            fresh_anchors = None
            n_anchor_next = 0
        else:
            H = dag.result("harvest")
            fresh_anchors = H["fresh"].filter(F.col("kind") == "a")
            n_anchor_next = H["n_anchor"]
        rest, gate_rows = dag.result("gate")
        for _, pid, status, n in gate_rows:
            cdelta[status] += n
        metrics.extend(gate_rows)
        nf_plan = rest.filter(F.col("status") == "deferred").select(
            "url",
            "host",
            "host_hash",
            "depth",
            "parent_rank",
            "link_pos",
            "discovered_wave",
            F.lit("DEFERRED").alias("state"),
        )
        if fresh_anchors is not None:
            nf_plan = fresh_anchors.select(
                "url",
                "host",
                "host_hash",
                (F.col("parent_depth") + 1).alias("depth"),
                F.col("seq").alias("parent_rank"),
                F.col("pos").alias("link_pos"),
                F.lit(wave).alias("discovered_wave"),
                F.lit("PENDING").alias("state"),
            ).unionByName(nf_plan)
        # lazy localCheckpoint: truncates the LOGICAL plan to a
        # LogicalRDD — without it the handoff chains every prior
        # wave's plan into the next (geometric plan growth; the
        # optimizer/explain pass OOMs after ~8 waves).  The write
        # node and the next wave's first job share the materialized
        # blocks; released at the NEXT wave's commit (or the loop
        # tail), and on block loss the recovery is resume-from-
        # manifest, same as fetchset.
        next_frontier = nf_plan.localCheckpoint(eager=False)
        # explicit host-hash range partitioning on the persisted
        # frontier (BASELINE.json:6 "explicit repartitionByRange").
        # This write LAGS: the next wave consumes the in-memory handoff
        # plan, so only the commit (and resume) depends on the parquet
        # — it overlaps the next wave's critical path exactly like the
        # log/image sinks.
        dag.add(
            "frontier",
            LAGGING_POOL,
            lambda: st.write_version(
                "frontier",
                v["frontier"] + 1,
                next_frontier.repartitionByRange(
                    max(1, self._shuffle_partitions()),
                    F.col("host_hash"),
                    F.col("url"),
                ),
            ),
        )

        # --- wait for the nodes the NEXT wave reads ------------------
        # (seen/bloom are not waited for here: the next wave's harvest
        # depends on them)
        n_new = dag.result("hosts")
        # frontier emptiness from already-collected counters — the
        # next-frontier rows are EXACTLY fresh anchors + deferred, so
        # no job (and no wait on the lagging write) is needed
        frontier_empty = (n_anchor_next + cdelta["deferred"]) == 0
        global_fetched = src["global_fetched"] + n_fetched
        dag.cached.extend([
            df
            for df in (
                fr, new_host_rows, fetchset, fh, rest,
                ranked._rank_source,
                getattr(cand, "_aux_persist", None),
                # the PREVIOUS wave's frontier handoff: fully consumed
                # once this wave's fr is materialized and that wave's
                # write has committed (ordered before this commit)
                src.get("_frontier_df"),
            )
            if df is not None
        ])
        return {
            # next-wave inputs (same keys a committed manifest has)
            "wave_id": wave,
            "versions": {
                "frontier": v["frontier"] + 1,
                "seen": v["seen"] + 1,
                "hosts": v["hosts"] + 1,
            },
            "seq_next": src["seq_next"] + n_fetched,
            "global_fetched": global_fetched,
            "n_hosts": (src.get("n_hosts") or 0) + n_new,
            "done": frontier_empty or global_fetched >= pol.global_page_budget,
            # in-memory next-frontier handoff (recomputes from frames
            # cached until this wave's commit, which runs after the
            # next wave's critical path)
            "_frontier_df": next_frontier,
            "_dag": dag,
            "_metrics": metrics,
            "_cdelta": cdelta,
        }

    def _wave_commit(self, pending: dict, prev_manifest: dict) -> dict:
        """Wait for wave w's nodes, write its metrics table, commit its
        manifest (the ordered, atomic commit point), release its cached
        frames.  Runs after wave w+1's critical path — the image
        decode/sink and crawl-log writes it waits for overlap that
        compute."""
        st = self.store
        wave = pending["wave_id"]
        dag = pending["_dag"]
        metrics = pending["_metrics"]
        cdelta = pending["_cdelta"]
        # the harvest may still be running under depth-exhausted
        # pipelining
        H = dag.result("harvest")
        metrics.extend(H["metrics"])
        for k, n in H["cdelta"].items():
            cdelta[k] = cdelta.get(k, 0) + n
        for row in dag.result("images"):
            metrics.append(row)
            cdelta["decode_failed"] += row[3]
        # every write is durable before the manifest rename names its
        # version: resume reads the frontier parquet from disk, and a
        # missing seen delta or missing bloom shard bits would give
        # resume bloom false negatives (SPEC-4)
        dag.drain()
        dag.describe("commit")
        st.write_wave("metrics", wave, self._metrics_df(wave, metrics))

        counters = dict(prev_manifest["counters"])
        for k, n in cdelta.items():
            counters[k] += n
        new_manifest = {
            "wave_id": wave,
            "versions": pending["versions"],
            "seq_next": pending["seq_next"],
            "global_fetched": pending["global_fetched"],
            "n_hosts": pending.get("n_hosts"),
            "counters": counters,
            "done": pending["done"],
        }
        st.commit(new_manifest)
        for df in dag.cached:
            _release_cached(df)
        return new_manifest

    # -------------------------------------------------------- helpers

    def _shuffle_partitions(self) -> int:
        return int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def _pcount_rows(self, df: DataFrame) -> list[tuple[int, int]]:
        """Per-partition row counts (A20) — pure, thread-safe."""
        return [
            (int(r["partition_id"]), int(r["n"]))
            for r in df.groupBy(
                F.spark_partition_id().alias("partition_id")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        ]

    def _metrics_df(self, wave: int, entries: list[tuple]) -> DataFrame:
        """Wide per-(stage, partition) metrics rows (FIXTURES §A6)."""
        byp: dict[tuple[str, int], dict[str, int]] = {}
        for stage, pid, name, n in entries:
            byp.setdefault((stage, pid), {})[name] = (
                byp.setdefault((stage, pid), {}).get(name, 0) + n
            )
        rows = [
            (
                wave,
                stage,
                pid,
                int(c.get("fetched", 0)),
                int(c.get("deduped", 0)),
                int(c.get("deferred", 0)),
                int(c.get("dropped", 0)),
                int(c.get("robots_blocked", 0)),
                int(c.get("decode_failed", 0)),
            )
            for (stage, pid), c in sorted(byp.items())
        ]
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)
