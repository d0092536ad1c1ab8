"""The iterative frontier engine: BSP crawl rounds as DataFrame programs
with per-round atomic checkpoints (SURVEY.md §3.1 Spark shape, §7 steps
3/5/8).

Each round = one deterministic BSP superstep:

  1. SCHEDULE  — join frontier to robots (broadcast), rank each host's
                 rows by the canonical priority (depth, doc_type_rank,
                 discovery_seq) and cut at the host's politeness budget.
  2. VISIT     — assign global visit_seq by the same priority over the
                 scheduled set (this is the reference's canonical crawl
                 order: phase -> page -> in-page position, SURVEY §4).
  3. FETCH     — mapInPandas over host-salted partitions; the synthetic
                 site function replaces the network (tests/FIXTURES §2);
                 attachments materialize image+caption rows.
  4. RETRY     — failed rows: cuckoo+exact DELETE of their hash, then
                 re-admission through the normal unseen gate with their
                 original discovery_seq (reference backoff semantics,
                 /root/reference/app/service/anle.py:37-57).
  5. EXPAND    — extracted links: canonicalize -> in-round dedup (first
                 discovery wins) -> robots filter -> Bloom-prefiltered
                 anti-join vs seen -> assign discovery_seq in canonical
                 order -> union into next round's frontier.
  6. CHECKPOINT— write all state tables under round=K dir, then flip the
                 manifest pointer (atomic resume point).

Flat lineage: the round's multi-consumer stages — the fetch result and
the expansion output — are materialized ONCE as eager local checkpoints
(flat LogicalRDD leaves). The checkpoint writes, the sketch-delta
cogroup and the next frontier are planned against those leaves, so no
commit job re-plans or re-runs the round's history. Intermediate
persist()ed frames are dropped as soon as the leaf that consumes them
exists, and the leaves' blocks are released after the manifest commit
(or when the round raises), so no round's blocks outlive it.

Recovery: the round is the unit of recovery. Local-checkpoint blocks
live only on the executor that computed them; a lost block (executor
loss, eviction) fails the round's next job, the round raises before its
manifest commit, and ``run(resume=True)`` replays the whole round from
the last committed manifest. No committed state ever depends on a
block: everything a later round reads is in the checkpoint directory.

Determinism: no wall clock anywhere in the dataflow (metrics record
real elapsed time but never feed back into scheduling), so a killed and
resumed run, or the same run at different parallelism, produces the
bit-identical visit order and seen set — verified against the
single-threaded oracle in crawl/oracle.py.

Scale notes: frontier/seen joins are keyed on url_hash (8-byte shuffle
keys); the fetch stage repartitions by (host, salt) so one hot host
(vbpl.vn dominates the reference universe) spreads over per_host_slots
tasks while the budget caps its total rows; AQE handles residual skew.
State tables are plain parquet here — on a cluster they are Iceberg
tables and step 6 is a single multi-table snapshot commit.
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbpl_web_crawl_spark.crawl import fsio
from vbpl_web_crawl_spark.crawl import politeness as P
from vbpl_web_crawl_spark.functions.scalars import (
    canonicalize_url,
    resolve_docmap_link,
    url_host,
)
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.operators import sequence as SEQ
from vbpl_web_crawl_spark.sources import images as IMG
from vbpl_web_crawl_spark.sources import synth_site as SITE

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("doc_type_rank", T.IntegerType(), False),
        T.StructField("discovery_seq", T.LongType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
    ]
)

_LINK_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("l_url", T.StringType()),
            T.StructField("l_doc_type", T.StringType()),
            T.StructField("in_page_pos", T.IntegerType()),
        ]
    )
)

FETCH_SCHEMA = T.StructType(
    FRONTIER_SCHEMA.fields
    + [
        T.StructField("visit_seq", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("links", _LINK_TYPE, True),
        T.StructField("fulltext", T.ArrayType(T.StringType()), True),
        T.StructField("fetch_partition", T.IntegerType(), False),
        T.StructField("fetch_ts", T.DoubleType(), False),
    ]
)

DOC_TYPE_RANK = SITE.DOC_TYPE_RANK


def _unpersist(caches: list[DataFrame]) -> None:
    """Drop a round's persist()ed frames once nothing reads them."""
    for c in caches:
        c.unpersist()
    caches.clear()


@dataclass
class CrawlConfig:
    site: SITE.SiteConfig = field(default_factory=SITE.SiteConfig)
    robots: dict = field(default_factory=lambda: dict(SITE.ROBOTS))
    round_window_s: float = 60.0
    max_retries: int = 3  # app/service/anle.py:37
    max_rounds: int = 1000
    n_seen_partitions: int = 8
    per_host_slots: int = 8  # hot-host salt fan-out (reference: 8 threads)
    # task count for the fetch stage. None keeps the historical default
    # (= per_host_slots, right for the 1-2-host replays the tests pin).
    # On a many-host frontier set it >= cores: the per-host concurrency
    # cap is enforced by the SALT (<= per_host_slots distinct
    # (host,salt) keys per host, each in exactly one partition), so
    # more partitions never exceed a host's cap — they only spread
    # DIFFERENT hosts across executors, which is where crawl
    # parallelism comes from at production host counts.
    fetch_partitions: int | None = None
    bloom_bits: int = 1 << 20
    cuckoo_buckets: int = 1 << 14
    # files per checkpointed table: 1 at test scale; set to the cluster's
    # task parallelism at 10^10 scale so snapshot writes stay parallel
    checkpoint_files: int = 1
    # fold seen_adds deltas into a full seen_base every K rounds; between
    # compactions each round writes only its O(new URLs) delta
    seen_compact_every: int = 8
    # live dirs (frontier/sketches) older than this many rounds are GC'd
    # after each commit (the seen_base round is always retained)
    keep_live_rounds: int = 2
    # T2 instantaneous-rate fidelity: when True, the fetch UDF token-
    # paces same-host requests inside each salted partition at the
    # host's crawl-delay (the reference's per-thread sleep(3) semantics,
    # /root/reference/app/service/vbpl.py:181). The BSP budget cut above
    # already bounds the per-ROUND aggregate to the same politeness
    # budget and is what the oracle matches; pacing adds real-time
    # spacing for live deployments against real servers. Off by default
    # because synthetic replays/benches have no server to protect and
    # the sleeps would only meter the sleep. Scheduling, visit order and
    # the seen set are identical either way (asserted in tests).
    pace_fetches: bool = False
    # explicit seed override: (url, doc_type) rows crawled instead of
    # the universe's full listing seed list — the sitemap-seeded (or
    # partial re-crawl) entry path. None = SITE.seed_urls(site).
    # Seed order defines discovery_seq, so the same list fed to the
    # oracle reproduces the same crawl exactly.
    seed_list: list | None = None


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, ckpt_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.ckpt_dir = ckpt_dir
        self.robots = P.robots_df(spark, cfg.robots)
        self._budget_by_host = {
            host: P.host_budget(r.get("crawl_delay", P.DEFAULT_CRAWL_DELAY), cfg.round_window_s)
            for host, r in cfg.robots.items()
        }
        # pacing-sleep meter: the fetch UDF adds every token wait here, so
        # each round's manifest records how much of its wall was sleep
        # (politeness cost) vs engine work — artifact-vs-artifact bench
        # comparisons stop being confounded by the pacing config/window
        self._sleep_acc = spark.sparkContext.accumulator(0.0)

    # ---------------- state I/O ----------------
    #
    # Snapshot layout (parquet stand-in for Iceberg snapshots):
    #   ckpt/state/round=K/{frontier,sketches}             full per round
    #   ckpt/state/round=K/seen_base          full seen set, ONLY on
    #                                         compaction rounds (every
    #                                         cfg.seen_compact_every)
    #   ckpt/log/{visit_log,documents,metrics,enqueue_log,doc_lines,
    #             seen_adds}/r=K/                           deltas
    #   ckpt/manifest-<round>.json            commit pointers (max wins)
    #
    # Append-only tables are written ONCE per round (their delta) and
    # never rewritten — at 10^10 URLs rewriting a cumulative table every
    # round would be O(rounds^2) I/O. That includes the biggest table in
    # the system, the seen set: each round checkpoints only its O(new
    # URLs) seen_adds delta; readers take seen_base ∪ deltas>base_round
    # (bucketed on partition_id = pmod(url_hash), so at cluster scale the
    # exact anti-join prunes buckets), and every K rounds the union is
    # folded into a fresh seen_base (Iceberg MERGE compaction shape).
    # Retry deletes need no delta: a failed fetch's hash is deleted and
    # re-admitted within the SAME round (the retry always survives the
    # in-round dedup and the unseen gate), so at every round boundary the
    # adds stream alone determines the seen set.
    #
    # The manifest commit is a tmp-write + rename to a FRESH name
    # (fsio.commit_manifest — atomic on HDFS/local, object-store
    # tolerant); orphan delta dirs from a crashed round carry r >
    # committed round and are filtered out on read (Iceberg's snapshot
    # isolation, minus the catalog).

    # explicit read schemas: inferring them costs one footer-reading job
    # per table on every resume
    LIVE_TABLES = {"frontier": FRONTIER_SCHEMA, "sketches": SEEN.SKETCH_SCHEMA}
    LOG_TABLES = ("visit_log", "documents", "metrics", "enqueue_log", "doc_lines")

    def _live_dir(self, rnd: int) -> str:
        return os.path.join(self.ckpt_dir, "state", f"round={rnd}")

    def _log_dir(self, name: str, rnd: int) -> str:
        return os.path.join(self.ckpt_dir, "log", name, f"r={rnd}")

    def read_manifest(self) -> dict | None:
        return fsio.read_manifest(self.spark, self.ckpt_dir)

    def _write_state(
        self,
        rnd: int,
        live: dict[str, DataFrame],
        deltas: dict[str, DataFrame],
        counters: dict,
    ) -> None:
        rdir = self._live_dir(rnd)
        tmp = rdir + ".tmp"
        fsio.delete(self.spark, tmp)
        nfiles = max(self.cfg.checkpoint_files, 1)
        # the tables are independent outputs — submit their write jobs
        # concurrently (Spark schedules jobs from multiple threads); the
        # wall cost per round is max(write) instead of sum(write)
        from concurrent.futures import ThreadPoolExecutor

        def write_live(item):
            name, df = item
            df.coalesce(nfiles).write.mode("overwrite").parquet(os.path.join(tmp, name))

        def write_delta(item):
            name, df = item
            df.coalesce(nfiles).write.mode("overwrite").parquet(self._log_dir(name, rnd))

        t_ckpt = time.time()
        # ONE pool, one barrier: delta writes overlap the live writes
        # (they land in independent per-round dirs; the manifest commit
        # below is the only visibility point, so a crash mid-write still
        # leaves readers on the previous round either way). The live
        # rename waits only on the live futures.
        n_jobs = len(live) + len(deltas)
        with ThreadPoolExecutor(max_workers=max(n_jobs, 1)) as pool:
            live_futs = [pool.submit(write_live, it) for it in live.items()]
            delta_futs = [pool.submit(write_delta, it) for it in deltas.items()]
            for fut in live_futs:
                fut.result()
            fsio.delete(self.spark, rdir)  # stale dir from a crashed attempt
            fsio.rename(self.spark, tmp, rdir)
            for fut in delta_futs:
                fut.result()
        decomp = counters.get("decomp")
        if decomp is not None:
            # close out the round's wall decomposition before the commit
            # so the manifest itself carries the attribution record
            decomp["checkpoint_wall_ms"] = int((time.time() - t_ckpt) * 1000)
            decomp["round_wall_ms"] = int(
                (time.time() - decomp.pop("_t0")) * 1000
            )
            decomp["other_wall_ms"] = max(
                decomp["round_wall_ms"]
                - decomp.get("fetch_stage_wall_ms", 0)
                - decomp.get("expand_wall_ms", 0)
                - decomp["checkpoint_wall_ms"],
                0,
            )
        fsio.commit_manifest(self.spark, self.ckpt_dir, {"round": rnd, **counters})
        self._gc(rnd, counters.get("seen_base_round", -1))

    def _gc(self, rnd: int, base_round: int) -> None:
        """Drop state no reader needs: live dirs older than
        keep_live_rounds (except the seen_base round) and seen_adds
        deltas already folded into the base. Log tables other than
        seen_adds are the permanent record and are never touched."""
        keep_from = rnd - max(self.cfg.keep_live_rounds, 1)
        state_dir = os.path.join(self.ckpt_dir, "state")
        # full-match the round suffix: a leftover "round=K.tmp" from a
        # crashed live-write must be skipped, not int()-ed (it would
        # crash every subsequent commit's GC)
        for name in fsio.listdir(self.spark, state_dir):
            m = re.fullmatch(r"round=(\d+)", name)
            if m:
                r = int(m.group(1))
                if r < keep_from and r != base_round:
                    fsio.delete(self.spark, os.path.join(state_dir, name))
        adds_dir = os.path.join(self.ckpt_dir, "log", "seen_adds")
        for name in fsio.listdir(self.spark, adds_dir):
            m = re.fullmatch(r"r=(\d+)", name)
            if m and int(m.group(1)) <= base_round:
                fsio.delete(self.spark, os.path.join(adds_dir, name))

    def _read_live(self, rnd: int) -> dict[str, DataFrame]:
        rdir = self._live_dir(rnd)
        return {
            name: self.spark.read.schema(schema).parquet(os.path.join(rdir, name))
            for name, schema in self.LIVE_TABLES.items()
        }

    def read_log(
        self, name: str, upto_round: int, after_round: int = -1, schema: str | None = None
    ) -> DataFrame:
        """Union of a log table's per-round deltas in (after_round,
        upto_round] (orphans from crashed rounds excluded by the r
        filter). ``schema`` (the table's DDL, without ``r``) skips schema
        inference."""
        base = os.path.join(self.ckpt_dir, "log", name)
        reader = self.spark.read.option("basePath", base)
        if schema is not None:
            reader = reader.schema(schema)  # r is still discovered from the paths
        return (
            reader.parquet(base)
            .filter((F.col("r") <= upto_round) & (F.col("r") > after_round))
            .drop("r")
        )

    def read_seen(self, upto_round: int, base_round: int) -> DataFrame:
        """The seen set as of ``upto_round``: seen_base (if compacted) ∪
        seen_adds deltas after it. NOT deduplicated — retry re-adds can
        duplicate a hash, which is harmless for the anti-join/bloom
        consumers; callers needing unique rows dropDuplicates."""
        parts = []
        if base_round >= 0:
            parts.append(
                self.spark.read.schema(SEEN.SEEN_URLS_SCHEMA).parquet(
                    os.path.join(self._live_dir(base_round), "seen_base")
                )
            )
        if upto_round > base_round:
            parts.append(
                self.read_log(
                    "seen_adds", upto_round, after_round=base_round, schema=SEEN.SEEN_URLS_SCHEMA
                )
            )
        if not parts:
            return self.spark.createDataFrame([], SEEN.SEEN_URLS_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------------- seed ----------------

    def seed_frontier(self) -> DataFrame:
        seeds = (
            self.cfg.seed_list
            if self.cfg.seed_list is not None
            else SITE.seed_urls(self.cfg.site)
        )
        rows = [(u, dt, i) for i, (u, dt) in enumerate(seeds)]
        df = self.spark.createDataFrame(rows, "url string, doc_type string, seed_pos long")
        return (
            df.withColumn("url", canonicalize_url(F.col("url")))
            .withColumn("url_hash", F.xxhash64(F.col("url")))
            .withColumn("host", url_host(F.col("url")))
            .withColumn("depth", F.lit(0))
            .withColumn("doc_type_rank", self._rank_col(F.col("doc_type")))
            .withColumn("discovery_seq", F.col("seed_pos"))
            .withColumn("retry_count", F.lit(0))
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        )

    @staticmethod
    def _rank_col(doc_type_col):
        expr = F.lit(99)
        for dt, rank in sorted(DOC_TYPE_RANK.items(), key=lambda kv: -kv[1]):
            expr = F.when(doc_type_col == dt, F.lit(rank)).otherwise(expr)
        return expr.cast("int")

    # ---------------- one round ----------------

    def _fetch(self, scheduled: DataFrame) -> DataFrame:
        cfg_site = self.cfg.site
        in_cols = [f.name for f in FRONTIER_SCHEMA.fields] + ["visit_seq"]
        pace = self.cfg.pace_fetches
        sleep_acc = self._sleep_acc  # closure must not capture self
        delay_by_host = {
            host: float(r.get("crawl_delay", P.DEFAULT_CRAWL_DELAY))
            for host, r in self.cfg.robots.items()
        }

        def fetch_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from collections import deque

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            last_ts: dict[str, float] = {}  # per-partition token pacing

            def do_fetch(row) -> dict:
                ts = time.monotonic()
                last_ts[row.host] = ts
                page = SITE.fetch(cfg_site, row.url, attempt=row.retry_count)
                rec = {c: getattr(row, c) for c in in_cols}
                rec.update(
                    fetch_partition=pid,
                    fetch_ts=ts,
                    status=page.status,
                    kind=page.kind,
                    caption=page.caption,
                    image_id=page.image_id,
                    bytes=None,
                    w=None,
                    h=None,
                    fmt=None,
                    phash=None,
                    links=[
                        {"l_url": u, "l_doc_type": dt, "in_page_pos": pos}
                        for (u, dt, pos) in page.links
                    ],
                    fulltext=page.fulltext or None,
                )
                if page.image_id is not None:
                    img = IMG.synth_image_record(page.image_id)
                    rec.update(
                        bytes=img["bytes"],
                        w=img["w"],
                        h=img["h"],
                        fmt=img["fmt"],
                        caption=img["caption"],
                        phash=img["phash"],
                    )
                return rec

            for pdf in it:
                rows = list(pdf.itertuples(index=False))
                out: list = [None] * len(rows)
                if not pace:
                    for i, row in enumerate(rows):
                        out[i] = do_fetch(row)
                else:
                    # interleave across hosts: a salted partition can
                    # hold several hosts, and sleeping for one host's
                    # next token must NOT serialize the others behind
                    # it (the round-3 pacing regression). Per-host FIFO
                    # preserves each host's row order — its pacing
                    # sequence and the metering invariant — while the
                    # scheduler always runs the host whose token is
                    # ready soonest and sleeps only until THAT token.
                    queues: dict[str, deque] = {}
                    appear: dict[str, int] = {}
                    for i, row in enumerate(rows):
                        if row.host not in queues:
                            appear[row.host] = len(appear)
                            queues[row.host] = deque()
                        queues[row.host].append(i)
                    ready = {
                        h: last_ts[h] + delay_by_host.get(h, P.DEFAULT_CRAWL_DELAY)
                        if h in last_ts
                        else float("-inf")
                        for h in queues
                    }
                    while queues:
                        now = time.monotonic()
                        h = min(
                            queues, key=lambda x: (max(ready[x], now), appear[x])
                        )
                        wait = ready[h] - now
                        if wait > 0:
                            sleep_acc.add(wait)
                            time.sleep(wait)
                        i = queues[h].popleft()
                        if not queues[h]:
                            del queues[h]
                        out[i] = do_fetch(rows[i])
                        ready[h] = last_ts[h] + delay_by_host.get(
                            h, P.DEFAULT_CRAWL_DELAY
                        )
                # output rows keep the ORIGINAL batch order regardless
                # of fetch scheduling, so downstream stays bit-identical
                batch = pd.DataFrame(out, columns=[f.name for f in FETCH_SCHEMA.fields])
                # nullable Int64 built from the raw Python ints: letting
                # pd.DataFrame infer a column with Nones upcasts to
                # float64, which corrupts 64-bit hashes (> 2^53)
                for c in ("w", "h", "phash"):
                    batch[c] = pd.array([r[c] for r in out], dtype="Int64")
                yield batch

        # host-salted repartition: bounds per-host concurrency while
        # spreading a hot host over per_host_slots tasks
        salted = scheduled.repartition(
            max(self.cfg.fetch_partitions or self.cfg.per_host_slots, 1),
            F.col("host"),
            F.pmod(F.col("url_hash"), F.lit(self.cfg.per_host_slots)),
        )
        # the round's widest fan-out (visit log, documents, doc lines,
        # metrics, retries, links, the next frontier): one flat leaf
        return salted.mapInPandas(fetch_batches, FETCH_SCHEMA).localCheckpoint(eager=True)

    @staticmethod
    def _release(leaf: DataFrame) -> None:
        """Free a local-checkpoint leaf's blocks. ``DataFrame.unpersist``
        does not reach them: they belong to the RDD under the leaf's
        LogicalRDD plan."""
        leaf._jdf.queryExecution().analyzed().rdd().unpersist(False)

    def run(self, resume: bool = True) -> dict:
        """Run rounds until the frontier drains; returns final manifest."""
        manifest = self.read_manifest() if resume else None
        if manifest is None:
            # Fresh run: wipe any prior checkpoint under this dir. With
            # resume=False over an existing checkpoint, stale
            # manifest-<N>.json files would otherwise outrank the new
            # run's round-0 manifest (read_manifest picks the highest
            # round) and final_state()/resume would silently read the
            # OLD crawl's state. A resume=True seed path (no committed
            # manifest) can only hold garbage from a crash before the
            # first commit, so wiping is safe there too.
            if fsio.exists(self.spark, self.ckpt_dir):
                fsio.delete(self.spark, self.ckpt_dir)
            # persisted: the seed frontier has FOUR consumers below (the
            # sketch cogroup, the live write, two delta writes) and its
            # lineage re-derives the synthetic seed list each time —
            # measured 26s -> ~12s on the bench-shape replay's pre-round
            # wall (the dominant outside-round term in the decomposition)
            frontier = self.seed_frontier().persist()
            empty_seen = self.spark.createDataFrame([], SEEN.SEEN_URLS_SCHEMA)
            _, sketches = SEEN.add_to_seen(
                frontier,
                empty_seen,
                SEEN.empty_sketches(
                    self.spark,
                    self.cfg.n_seen_partitions,
                    self.cfg.bloom_bits,
                    self.cfg.cuckoo_buckets,
                ),
                self.cfg.n_seen_partitions,
            )
            live = {"frontier": frontier, "sketches": sketches}
            deltas = {
                "enqueue_log": frontier.select("url", "url_hash", F.lit(0).alias("round")),
                "seen_adds": frontier.select(
                    "url_hash",
                    SEEN.partition_of(
                        F.col("url_hash"), self.cfg.n_seen_partitions
                    ).alias("partition_id"),
                ),
            }
            n_seeds = frontier.count()
            counters = {
                "next_seq": n_seeds,
                "total_visits": 0,
                "pending": n_seeds,
                "seen_base_round": -1,
            }
            self._write_state(0, live, deltas, counters)
            frontier.unpersist()
            manifest = {"round": 0, **counters}

        rnd = manifest["round"]
        while rnd < self.cfg.max_rounds and manifest.get("pending", 1) > 0:
            state = self._read_live(rnd)
            rnd += 1
            manifest = self._run_round(rnd, state, manifest)
        return manifest

    def _run_round(self, rnd: int, state: dict[str, DataFrame], manifest: dict) -> dict:
        """One round. Every cache and checkpoint leaf the round creates is
        released when it returns — after its manifest commit — or raises."""
        caches: list[DataFrame] = []  # persist()ed intermediates
        leaves: list[DataFrame] = []  # local-checkpoint leaves
        try:
            return self._round(rnd, state, manifest, caches, leaves)
        finally:
            _unpersist(caches)
            for leaf in leaves:
                self._release(leaf)

    def _round(
        self,
        rnd: int,
        state: dict[str, DataFrame],
        manifest: dict,
        caches: list[DataFrame],
        leaves: list[DataFrame],
    ) -> dict:
        t0 = time.time()
        sleep0 = self._sleep_acc.value
        decomp: dict = {"_t0": t0}
        cfg = self.cfg
        next_seq = manifest["next_seq"]
        total_visits = manifest["total_visits"]

        frontier = state["frontier"]

        # 1. SCHEDULE — politeness budget per host, priority order inside.
        # The literal-k prefilter triggers Spark's WindowGroupLimit: each
        # input partition keeps only its local top-k per host BEFORE the
        # shuffle, so the dominant host (vbpl.vn) never funnels its whole
        # frontier through one task — only <= k rows per upstream
        # partition reach the final rank.
        # budgets derive from the robots TABLE (distributed expression;
        # robots is per-host metadata — broadcast-scale at any corpus
        # size). max_budget is config-derived: one scalar for the
        # WindowGroupLimit literal, never a data-dependent aggregate.
        budgets = P.budgets_df(self.robots, cfg.round_window_s)
        max_budget = max(self._budget_by_host.values(), default=1)
        prio = Window.partitionBy("host").orderBy("depth", "doc_type_rank", "discovery_seq")
        ranked = (
            frontier.withColumn("host_rank", F.row_number().over(prio))
            .filter(F.col("host_rank") <= F.lit(max_budget))  # WindowGroupLimit
            .join(F.broadcast(budgets), "host", "left")
        )
        scheduled = ranked.filter(
            F.col("host_rank") <= F.coalesce(F.col("budget"), F.lit(1))
        ).drop("budget", "host_rank")
        # two consumers (the sequencer's size check, the fetch input):
        # persist so the rank window runs once per round
        scheduled = scheduled.persist()
        caches.append(scheduled)

        # 2. VISIT — canonical global order (SURVEY §4 determinism note).
        # The scheduled set is politeness-bounded (<= sum of host budgets
        # per round), but sequence assignment still runs as a parallel
        # range sort, not a single-task window (operators/sequence.py).
        scheduled = SEQ.global_sequence(
            scheduled,
            ["depth", "doc_type_rank", "discovery_seq"],
            seq_col="visit_seq",
            start=total_visits,
            # scheduled <= pending; small rounds take the 1-window path
            approx_rows=manifest.get("pending"),
            caches=caches,
        )

        # 3. FETCH — the visit sequencing and the fetch run in the fetch
        # leaf's materialization; the pacing sleep inside it is metered
        # separately by the accumulator
        t_fetch = time.time()
        fetched = self._fetch(scheduled)
        leaves.append(fetched)
        # the leaf holds every scheduled row: the schedule's caches have
        # no consumer left
        _unpersist(caches)
        stats = fetched.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.col("status") >= 500) & (F.col("retry_count") < cfg.max_retries)
                ).cast("long")
            ).alias("n_failed"),
        ).collect()[0]
        n_scheduled, n_failed = stats["n"], stats["n_failed"] or 0
        decomp["fetch_stage_wall_ms"] = int((time.time() - t_fetch) * 1000)

        # deferred = everything not scheduled (rows pruned by the group
        # limit never materialize a rank — recover them by anti-join; the
        # fetch emits exactly one row per scheduled row)
        deferred = frontier.join(fetched.select("url_hash"), "url_hash", "left_anti")

        visit_rows = fetched.select(
            "visit_seq",
            F.lit(rnd).alias("round"),
            "url",
            "url_hash",
            "host",
            "depth",
            "doc_type",
            "retry_count",
            "status",
        )
        new_docs = fetched.filter(F.col("image_id").isNotNull()).select(
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            "phash",
            F.col("url").alias("src_url"),
            "visit_seq",
        )
        # the reference's phase-1 fulltext tab (vbpl.py:439-470): body
        # lines land in doc_lines, ready for the W1-W5 sectionizer
        doc_lines = (
            fetched.filter(F.col("fulltext").isNotNull())
            .select(
                F.col("url").alias("doc_id"),
                F.posexplode("fulltext").alias("line_no", "line"),
            )
        )

        # 4. RETRY — delete failed hashes from the exact table so the
        # re-admission gate passes; the cuckoo delete is folded into the
        # single end-of-round sketch-delta cogroup (apply_sketch_delta)
        failed = fetched.filter(
            (F.col("status") >= 500) & (F.col("retry_count") < cfg.max_retries)
        )
        base_round = manifest.get("seen_base_round", -1)
        seen_urls = self.read_seen(rnd - 1, base_round)
        sketches = state["sketches"]
        if n_failed > 0:
            seen_urls = seen_urls.join(
                failed.select("url_hash"), "url_hash", "left_anti"
            )
        retry_candidates = failed.select(
            "url",
            "url_hash",
            "host",
            "depth",
            "doc_type",
            "doc_type_rank",
            F.col("discovery_seq"),
            (F.col("retry_count") + 1).alias("retry_count"),
            F.lit(0).alias("is_new"),
            F.lit(None).cast("long").alias("parent_visit_seq"),
            F.lit(None).cast("int").alias("in_page_pos"),
        )

        # 5. EXPAND — links in canonical discovery order. Doc-map hrefs
        # resolve inline (J7): ItemID -> direct doc URL, title-only ->
        # portal-search URL (the secondary index), one Catalyst coalesce.
        # Each link is exploded from its parent's fetched row, which also
        # carries the parent's depth.
        links = (
            fetched.filter(F.col("status") == 200)
            .select("visit_seq", "depth", F.posexplode_outer("links").alias("pos", "link"))
            .filter(F.col("link").isNotNull())
            .select(
                canonicalize_url(resolve_docmap_link(F.col("link.l_url"))).alias("url"),
                F.col("link.l_doc_type").alias("doc_type"),
                F.col("visit_seq").alias("parent_visit_seq"),
                F.col("link.in_page_pos").alias("in_page_pos"),
                (F.col("depth") + 1).cast("int").alias("depth"),
            )
            .withColumn("url_hash", F.xxhash64(F.col("url")))
            .withColumn("host", url_host(F.col("url")))
        )

        # robots disallow filter (never enqueued, never seen)
        links = (
            links.join(F.broadcast(self.robots), "host", "left")
            .filter(~F.coalesce(P.is_disallowed(F.col("url"), F.col("disallow")), F.lit(False)))
            .drop("crawl_delay", "disallow")
            .withColumn("doc_type_rank", self._rank_col(F.col("doc_type")))
            .withColumn("retry_count", F.lit(0))
            .withColumn("is_new", F.lit(1))
            .withColumn("discovery_seq", F.lit(None).cast("long"))
            .select([c for c in retry_candidates.columns])
        )

        candidates = retry_candidates.unionByName(links)
        # in-round dedup: retries first, then earliest discovery wins
        dedup_w = Window.partitionBy("url_hash").orderBy(
            "is_new", F.coalesce(F.col("parent_visit_seq"), F.lit(-1)),
            F.coalesce(F.col("in_page_pos"), F.lit(-1)),
        )
        candidates = (
            candidates.withColumn("dup_rank", F.row_number().over(dedup_w))
            .filter(F.col("dup_rank") == 1)
            .drop("dup_rank")
        )

        # Bloom-prefiltered anti-join vs seen (retries pass: just deleted)
        admitted = SEEN.filter_unseen(
            candidates, seen_urls, sketches, cfg.n_seen_partitions, caches=caches
        ).persist()
        caches.append(admitted)

        # count BEFORE sequencing: the count both drives the round's
        # stop/pending accounting and tells the sequencer its exact input
        # size, so small expansion rounds take the one-window path
        # instead of paying a range shuffle + a second count job (the
        # large parallel path kicks in unchanged past the threshold)
        t_expand = time.time()
        astats = admitted.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("is_new") == 1).cast("long")).alias("n_new"),
        ).collect()[0]
        n_admitted, n_new = astats["n"], astats["n_new"] or 0
        expand_s = time.time() - t_expand

        # assign discovery_seq to new links in canonical order — this is
        # the stream that scales with frontier expansion, so it MUST be
        # the parallel sequencer (never a global window) once n_new
        # exceeds the sequencer's small-input threshold
        new_admits = SEQ.global_sequence(
            admitted.filter(F.col("is_new") == 1).drop("discovery_seq"),
            ["parent_visit_seq", "in_page_pos", "url"],
            seq_col="discovery_seq",
            start=next_seq,
            approx_rows=n_new,
            caches=caches,
        )
        retry_admits = admitted.filter(F.col("is_new") == 0)
        # four consumers (sketch delta, seen adds, enqueue log, next
        # frontier): one flat leaf, after which the expansion's caches
        # (filter_unseen's flagged frame, admitted, the sequencer's
        # ranged frame) have no consumer left. Its job is expansion work:
        # timed into expand_wall_ms (the sequencer's own calls stay out)
        t_expand = time.time()
        admitted_final = (
            new_admits.unionByName(retry_admits)
            .select([f.name for f in FRONTIER_SCHEMA.fields])
            .localCheckpoint(eager=True)
        )
        leaves.append(admitted_final)
        _unpersist(caches)
        decomp["expand_wall_ms"] = int((expand_s + time.time() - t_expand) * 1000)

        if n_admitted > 0 or n_failed > 0:
            sketches = SEEN.apply_sketch_delta(
                admitted_final.select("url_hash"),
                failed.select("url_hash"),
                sketches,
                cfg.n_seen_partitions,
            )
        new_hashes = admitted_final.select(
            "url_hash",
            SEEN.partition_of(F.col("url_hash"), cfg.n_seen_partitions).alias(
                "partition_id"
            ),
        )

        new_frontier = deferred.select([f.name for f in FRONTIER_SCHEMA.fields]).unionByName(
            admitted_final
        )

        # per-partition lineage + fetch metrics (north_rule): which task
        # fetched what, per host, per round
        wall_ms = int((time.time() - t0) * 1000)
        round_metrics = (
            fetched.groupBy("host", "fetch_partition")
            .agg(
                F.count(F.lit(1)).alias("pages_fetched"),
                F.sum((F.col("status") >= 400).cast("long")).alias("failures"),
                F.min("visit_seq").alias("first_visit_seq"),
                F.max("visit_seq").alias("last_visit_seq"),
                F.min("fetch_ts").alias("first_fetch_ts"),
                F.max("fetch_ts").alias("last_fetch_ts"),
            )
            .select(
                F.lit(rnd).alias("round"),
                "host",
                F.col("fetch_partition").alias("partition"),
                "pages_fetched",
                "failures",
                "first_visit_seq",
                "last_visit_seq",
                "first_fetch_ts",
                "last_fetch_ts",
                F.lit(n_new).cast("long").alias("new_urls"),
                F.lit(wall_ms).cast("long").alias("wall_ms"),
            )
        )

        compact = rnd % cfg.seen_compact_every == 0
        decomp["pacing_sleep_ms"] = int((self._sleep_acc.value - sleep0) * 1000)
        counters = {
            "next_seq": next_seq + n_new,
            "total_visits": total_visits + n_scheduled,
            "pending": manifest.get("pending", n_scheduled) - n_scheduled + n_admitted,
            "seen_base_round": rnd if compact else base_round,
            "decomp": decomp,
        }
        live = {
            "frontier": new_frontier,
            "sketches": sketches,
        }
        deltas = {
            "visit_log": visit_rows,
            "documents": new_docs,
            "metrics": round_metrics,
            "enqueue_log": admitted_final.filter(F.col("retry_count") == 0).select(
                "url", "url_hash", F.lit(rnd).alias("round")
            ),
            "doc_lines": doc_lines,
        }
        if compact:
            # fold base ∪ deltas ∪ this round's adds into a fresh base:
            # the only O(total seen) write, amortized over K rounds
            live["seen_base"] = seen_urls.unionByName(new_hashes).dropDuplicates(
                ["url_hash"]
            )
        else:
            # steady state: the seen set's checkpoint cost is O(new URLs)
            deltas["seen_adds"] = new_hashes
        self._write_state(rnd, live, deltas, counters)
        return {"round": rnd, **counters}

    # ---------------- inspection ----------------

    def final_state(self) -> dict[str, DataFrame]:
        manifest = self.read_manifest()
        assert manifest is not None, "no checkpoint"
        rnd = manifest["round"]
        out = self._read_live(rnd)
        out["seen_urls"] = self.read_seen(
            rnd, manifest.get("seen_base_round", -1)
        ).dropDuplicates(["url_hash"])
        for name in self.LOG_TABLES:
            out[name] = self.read_log(name, rnd)
        return out
