"""Crash-window chaos: kill the engine between the live-dir rename and
the manifest commit — the only window where disk state is ahead of the
committed pointer — and prove resume converges to the uninterrupted
run's exact final state. Also lose a round's fetch leaf right after it
is materialized, before any write, and prove the round fails and resume
replays it to the oracle's crawl."""

import os

import pytest

from vbpl_web_crawl_spark.crawl import fsio
from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.sources import synth_site as SITE

CFG = CrawlConfig(
    site=SITE.SiteConfig(
        n_pages=1, docs_per_page=8, related_per_doc=2, max_attachments=1, fault_every=5
    ),
    round_window_s=120.0,
    n_seen_partitions=4,
    bloom_bits=1 << 16,
    cuckoo_buckets=1 << 10,
    seen_compact_every=2,  # exercise the compaction path under crashes
)


class _CrashAfterWrites(Exception):
    pass


class _CrashingEngine(CrawlEngine):
    """Raises after ALL of round N's live + delta writes land but BEFORE
    the manifest commit (the torn-state window)."""

    def __init__(self, spark, cfg, ckpt, crash_round):
        super().__init__(spark, cfg, ckpt)
        self.crash_round = crash_round

    def _write_state(self, rnd, live, deltas, counters):
        if rnd != self.crash_round:
            return super()._write_state(rnd, live, deltas, counters)
        real_commit = fsio.commit_manifest
        try:
            # let every data write happen, swallow only the commit
            fsio.commit_manifest = lambda *a, **k: (_ for _ in ()).throw(
                _CrashAfterWrites()
            )
            with pytest.raises(_CrashAfterWrites):
                super()._write_state(rnd, live, deltas, counters)
        finally:
            fsio.commit_manifest = real_commit
        raise _CrashAfterWrites()


def test_crash_between_writes_and_commit_then_resume(spark, tmp_path):
    full_ckpt = str(tmp_path / "full")
    full = CrawlEngine(spark, CFG, full_ckpt)
    m_full = full.run(resume=False)

    for crash_round in (1, 2):  # round 2 is a compaction round
        ckpt = str(tmp_path / f"crash_r{crash_round}")
        eng = _CrashingEngine(spark, CFG, ckpt, crash_round)
        with pytest.raises(_CrashAfterWrites):
            eng.run(resume=False)
        # committed pointer is still at the previous round: the torn
        # round's files exist on disk but are invisible
        m = fsio.read_manifest(spark, ckpt)
        assert m["round"] == crash_round - 1
        # resume with a clean engine re-runs the torn round and finishes
        resumed = CrawlEngine(spark, CFG, ckpt)
        m_res = resumed.run(resume=True)
        assert m_res["round"] == m_full["round"]
        a, b = full.final_state(), resumed.final_state()
        for tbl in ("visit_log", "enqueue_log", "documents"):
            assert sorted(map(str, a[tbl].collect())) == sorted(
                map(str, b[tbl].collect())
            ), (crash_round, tbl)
        assert a["seen_urls"].count() == b["seen_urls"].count()


class _LostFetchBlocksEngine(CrawlEngine):
    """Drops round N's fetch leaf blocks right after the leaf is
    materialized, as losing the executor that holds them would."""

    def __init__(self, spark, cfg, ckpt, crash_round):
        super().__init__(spark, cfg, ckpt)
        self.crash_round = crash_round
        self.rnd = None

    def _run_round(self, rnd, state, manifest):
        self.rnd = rnd
        return super()._run_round(rnd, state, manifest)

    def _fetch(self, scheduled):
        fetched = super()._fetch(scheduled)
        if self.rnd == self.crash_round:
            self._release(fetched)
        return fetched


def test_lost_fetch_blocks_fail_round_and_resume_replays_it(spark, tmp_path):
    crash_round = 2
    ckpt = str(tmp_path / "lost_blocks")
    eng = _LostFetchBlocksEngine(spark, CFG, ckpt, crash_round)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        eng.run(resume=False)
    # the round failed before any write: no trace of it on disk
    assert fsio.read_manifest(spark, ckpt)["round"] == crash_round - 1
    written = [d for d, _, _ in os.walk(ckpt) if f"={crash_round}" in d]
    assert written == []
    resumed = CrawlEngine(spark, CFG, ckpt)
    resumed.run(resume=True)
    oracle = run_oracle(CFG.site, CFG.robots, CFG.round_window_s, CFG.max_retries)
    state = resumed.final_state()
    order = [r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    assert {r.url for r in state["enqueue_log"].select("url").collect()} == oracle.seen
