"""The ``crawl_wide`` workload: one client running discovery rounds.

The crawl starts from ``SITE.seed_urls`` (the 320 listing pages of four
mirrored universes) permuted by the workload seed. Untimed preparation
commits round 0 (the seeds) into a template checkpoint. Every operation is
the same: copy the template (untimed) and ask a fresh ``CrawlEngine`` on the
copy to run round 1 (``max_rounds=1``). That round starts with the resume
path (manifest read, live-state read), fetches all 320 listing pages on four
hosts, pushes the ~4,800 doc links they carry through the seen anti-join and
the sequencer (all of them new), compacts the seen set and commits.
Identical operations keep the median independent of how many fit in the
run. Outputs are checked after the loop against the single-threaded oracle
(``crawl.oracle.run_oracle``) with the same seed list.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import replace

from probes import spark_delta, tree_cpu_s

from vbpl_web_crawl_spark.crawl import fsio
from vbpl_web_crawl_spark.crawl import politeness as P
from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.operators import sequence as SEQ
from vbpl_web_crawl_spark.sources import images as IMG
from vbpl_web_crawl_spark.sources import synth_site as SITE

WIDE_MIRRORS = 4
TIMED_ROUND = 1


def wide_config(seed: int, cpus: int) -> CrawlConfig:
    """Four mirrored universes, 40 listing pages x 15 docs per class each,
    and a window whose politeness budget (200 pages on a main host) takes a
    host's whole listing frontier in one round."""
    site = SITE.SiteConfig(
        n_pages=40, docs_per_page=15, related_per_doc=2, max_attachments=1, n_mirrors=WIDE_MIRRORS
    )
    seeds = SITE.seed_urls(site)
    random.Random(seed).shuffle(seeds)
    return CrawlConfig(
        site=site,
        robots=SITE.mirrored_robots(SITE.ROBOTS, WIDE_MIRRORS),
        round_window_s=600.0,
        n_seen_partitions=cpus,
        per_host_slots=cpus,
        fetch_partitions=cpus,
        seen_compact_every=TIMED_ROUND,  # the timed round compacts the seen set
        keep_live_rounds=1,
        seed_list=seeds,
    )


def _tree(path: str) -> dict[str, int]:
    out = {}
    for sub in ("state", "log"):
        for dirpath, _, files in os.walk(os.path.join(path, sub)):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


class CrawlLoop:
    def __init__(self, spark, cfg: CrawlConfig, work_dir: str, tracer, cpus: int):
        self.spark = spark
        self.cfg = cfg
        self.work_dir = work_dir
        self.template = os.path.join(work_dir, "template")
        self.tracer = tracer
        self.cpus = cpus
        self.crawls: list[dict] = []  # one per operation
        self.rounds: list[dict] = []  # timed rounds of the operations that returned
        self.check_info: dict = {}
        self.oracle = None  # set by check(); layers() reads it

    # ---------------- traced layers ----------------

    def instrument(self) -> None:
        t = self.tracer
        t.wrap(SEQ, "global_sequence", "operators.sequence.global_sequence")
        t.wrap(SEEN, "filter_unseen", "operators.seen.filter_unseen")
        t.wrap(SEEN, "apply_sketch_delta", "operators.seen.apply_sketch_delta")
        t.wrap(fsio, "commit_manifest", "crawl.fsio.commit_manifest")
        t.wrap(CrawlEngine, "read_manifest", "crawl.checkpoint.read_manifest")
        t.wrap(CrawlEngine, "_read_live", "crawl.checkpoint.read_live")
        t.wrap(CrawlEngine, "_write_state", "crawl.checkpoint.write_state")

    # ---------------- operations ----------------

    def _engine(self, ckpt: str, max_rounds: int) -> CrawlEngine:
        return CrawlEngine(self.spark, replace(self.cfg, max_rounds=max_rounds), ckpt)

    def prepare(self) -> None:
        """Untimed: commit round 0 into the template checkpoint. This also
        warms the JVM and code generation on the crawl's own code."""
        with self.tracer.span("crawl.template"):
            manifest = self._engine(self.template, TIMED_ROUND - 1).run(resume=True)
        if manifest["round"] != TIMED_ROUND - 1:
            raise RuntimeError(f"template stopped at round {manifest['round']}")
        self.template_visits = manifest["total_visits"]

    def run_op(self) -> dict:
        ckpt = os.path.join(self.work_dir, f"ckpt{len(self.crawls)}")
        crawl = {"ckpt": ckpt, "round": None}
        self.crawls.append(crawl)
        shutil.copytree(self.template, ckpt)
        before = _tree(ckpt)
        start = time.time()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("crawl.round"):
            manifest = self._engine(ckpt, TIMED_ROUND).run(resume=True)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        crawl["round"] = manifest["round"]
        after = _tree(ckpt)
        new = [p for p in after if p not in before]
        rec = {
            "crawl": len(self.crawls) - 1,
            "start": start,
            "end": time.time(),
            "wall_s": wall,
            "cpu_s": cpu,
            "pages": manifest["total_visits"] - self.template_visits,
            "visits": manifest["total_visits"],
            "ckpt_bytes": _du(ckpt),
            "decomp": manifest["decomp"],
            "ckpt_bytes_written": sum(after[p] for p in new),
            "ckpt_files_written": len(new),
        }
        self.rounds.append(rec)
        return rec

    def attempted(self) -> int:
        return len(self.crawls)

    # ---------------- oracle gate (untimed) ----------------

    def check(self) -> int:
        """Number of operations that raised or whose crawl differs from the
        oracle: wrong visits in ``visit_seq`` order, a wrong enqueued-URL
        set, or a host over its politeness budget in some round."""
        cfg = self.cfg
        budgets = {
            h: P.host_budget(r.get("crawl_delay", P.DEFAULT_CRAWL_DELAY), cfg.round_window_s)
            for h, r in cfg.robots.items()
        }
        oracle = run_oracle(
            cfg.site, cfg.robots, cfg.round_window_s, cfg.max_retries, max_rounds=TIMED_ROUND,
            seed_list=cfg.seed_list,
        )
        self.oracle = oracle
        failed = 0
        statuses: list[tuple[int, int]] = []
        read_s = []
        for crawl in self.crawls:
            if crawl["round"] != TIMED_ROUND:
                failed += 1
                continue
            t0 = time.perf_counter()
            with self.tracer.span("crawl.checkpoint.final_state"):
                state = CrawlEngine(self.spark, cfg, crawl["ckpt"]).final_state()
                visits = (
                    state["visit_log"]
                    .select("visit_seq", "url", "host", "round", "status", "retry_count")
                    .toPandas()
                    .sort_values("visit_seq")
                )
                enqueued = set(state["enqueue_log"].select("url").toPandas()["url"])
            read_s.append(time.perf_counter() - t0)
            over_budget = any(
                n > budgets.get(h, 1) for (_, h), n in visits.groupby(["round", "host"]).size().items()
            )
            if list(visits["url"]) != oracle.visit_order or enqueued != oracle.seen or over_budget:
                failed += 1
            timed = visits[visits["round"] == TIMED_ROUND]
            statuses.extend(zip(timed["status"], timed["retry_count"]))
        self.check_info = {
            "final_state_read_s": statistics.median(read_s) if read_s else None,
            "ok_ratio": sum(s == 200 for s, _ in statuses) / max(len(statuses), 1),
            "retry_ratio": sum(r > 0 for _, r in statuses) / max(len(statuses), 1),
        }
        return failed

    # ---------------- metrics ----------------

    def end_to_end(self) -> dict:
        walls = [r["wall_s"] for r in self.rounds]
        pages = sum(r["pages"] for r in self.rounds)
        fetch_share = statistics.median(
            r["decomp"].get("fetch_stage_wall_ms", 0) / 1000.0 / r["wall_s"] for r in self.rounds
        )
        return {
            "op_p50_s": statistics.median(walls),
            "work_per_s": pages / sum(walls),
            "cpu_s_per_op": statistics.median(r["cpu_s"] for r in self.rounds),
            "named": {
                "pages_per_s": (pages / sum(walls), "1/s"),
                "round_p50_s": (statistics.median(walls), "s"),
                "ckpt_bytes_per_page": (
                    sum(r["ckpt_bytes"] for r in self.rounds) / sum(r["visits"] for r in self.rounds),
                    "B",
                ),
                "rounds": (len(walls), "count"),
                "pages_per_round": (pages / len(walls), "count"),
                "fetch_stage_share": (fetch_share, "ratio"),
            },
        }

    def layers(self, jobs: list[dict], stages: list[dict]) -> tuple[dict, float]:
        """Named per-layer metrics (per timed round) and the unattributed
        share of round wall."""
        t = self.tracer
        n = max(len(self.rounds), 1)
        dec = [r["decomp"] for r in self.rounds]
        out: dict[str, float] = {}
        for key, name in (
            ("fetch_stage_wall_ms", "fetch_stage_s"),
            ("expand_wall_ms", "expand_s"),
            ("checkpoint_wall_ms", "checkpoint_s"),
            ("other_wall_ms", "other_s"),
        ):
            out[f"crawl.engine.{name}"] = sum(d.get(key, 0) for d in dec) / 1000.0 / n
        deltas = [spark_delta(jobs, stages, r["start"], r["end"]) for r in self.rounds]
        wall = sum(r["wall_s"] for r in self.rounds)
        for k in ("jobs", "stages", "tasks"):
            out[f"crawl.engine.{k}_per_round"] = sum(d[k] for d in deltas) / n
        for k in ("executor_run_s", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "failed_tasks"):
            out[f"crawl.engine.{k}"] = sum(d[k] for d in deltas) / n
        out["crawl.engine.core_util"] = sum(d["executor_run_s"] for d in deltas) / (wall * self.cpus)
        out["crawl.fetch.ok_ratio"] = self.check_info.get("ok_ratio", 0.0)
        out["crawl.fetch.retry_ratio"] = self.check_info.get("retry_ratio", 0.0)

        def spans_in_rounds(name: str) -> list[dict]:
            return [
                s for s in t.by_name(name)
                if any(r["start"] <= s["start"] <= r["end"] for r in self.rounds)
            ]

        seq = spans_in_rounds("operators.sequence.global_sequence")
        out["operators.sequence.global_sequence_s"] = sum(s["end"] - s["start"] for s in seq) / n
        out["operators.sequence.global_sequence_jobs"] = (
            sum(spark_delta(jobs, stages, s["start"], s["end"])["jobs"] for s in seq) / n
        )
        out["operators.sequence.calls"] = len(seq) / n
        seen_jobs = 0
        for op in ("filter_unseen", "apply_sketch_delta"):
            spans = spans_in_rounds(f"operators.seen.{op}")
            out[f"operators.seen.{op}_s"] = sum(s["end"] - s["start"] for s in spans) / n
            seen_jobs += sum(spark_delta(jobs, stages, s["start"], s["end"])["jobs"] for s in spans)
        out["operators.seen.jobs"] = seen_jobs / n
        commits = spans_in_rounds("crawl.fsio.commit_manifest")
        out["crawl.fsio.commit_manifest_s"] = sum(s["end"] - s["start"] for s in commits) / n
        out["crawl.checkpoint.bytes_per_round"] = sum(r["ckpt_bytes_written"] for r in self.rounds) / n
        out["crawl.checkpoint.files_per_round"] = sum(r["ckpt_files_written"] for r in self.rounds) / n
        resume = spans_in_rounds("crawl.checkpoint.read_manifest") + spans_in_rounds(
            "crawl.checkpoint.read_live"
        )
        out["crawl.checkpoint.resume_read_s"] = sum(s["end"] - s["start"] for s in resume) / n
        out["crawl.checkpoint.final_state_read_s"] = self.check_info.get("final_state_read_s") or 0.0
        # round wall not covered by the engine's own phase timers or by a
        # wrapped call made outside those phases (resume reads, sequencer
        # and seen-set planning, manifest commit)
        outside = seq + commits + resume + spans_in_rounds("operators.seen.filter_unseen")
        outside += spans_in_rounds("operators.seen.apply_sketch_delta")
        covered = sum(
            (d.get("fetch_stage_wall_ms", 0) + d.get("expand_wall_ms", 0) + d.get("checkpoint_wall_ms", 0))
            / 1000.0
            for d in dec
        ) + sum(s["end"] - s["start"] for s in outside)
        out.update(self._kernel_split(out["crawl.engine.fetch_stage_s"]))
        return out, max(wall - covered, 0.0) / wall

    def _kernel_split(self, fetch_stage_s: float, max_images: int = 60) -> dict[str, float]:
        """In-process cost of the kernels the engine runs inside its
        ``mapInPandas`` fetch stage, outside Spark: the synthetic fetch over
        the timed round's URLs and the image synthesis over the first
        ``max_images`` attachments of the crawl (fetched in round 3, after
        the timed round). The fetch stage then splits into kernel time (the
        round's fetch cost spread over its tasks) and the rest: Spark
        scheduling plus the Arrow boundary of ``mapInPandas``."""
        urls = [v["url"] for v in self.oracle.visits if v["round"] == TIMED_ROUND]
        t0 = time.perf_counter()
        for u in urls:
            SITE.fetch(self.cfg.site, u)
        fetch_s = time.perf_counter() - t0
        full = run_oracle(self.cfg.site, self.cfg.robots, self.cfg.round_window_s, seed_list=self.cfg.seed_list)
        image_ids = [
            p.image_id
            for p in (SITE.fetch(self.cfg.site, v["url"]) for v in full.visits if v["doc_type"] == "attachment")
            if p.image_id is not None
        ][:max_images]
        t0 = time.perf_counter()
        for image_id in image_ids:
            IMG.synth_image_record(image_id)
        synth_s = time.perf_counter() - t0
        slots = min(self.cpus, self.cfg.fetch_partitions or self.cfg.per_host_slots)
        kernel_s = fetch_s / slots
        return {
            "sources.synth_site.fetch_us_per_page": 1e6 * fetch_s / max(len(urls), 1),
            "sources.images.synth_ms_per_image": 1e3 * synth_s / max(len(image_ids), 1),
            "crawl.fetch.kernel_s": kernel_s,
            "crawl.fetch.boundary_s": max(fetch_stage_s - kernel_s, 0.0),
        }
