"""Round lineage: the frames a round hands to its checkpoint writes are
planned against flat local-checkpoint leaves, never against nested
caches of the round's earlier frames; every block a round creates is
released by its commit; resume reads infer no schemas."""

import pytest

from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.sources import synth_site as SITE

CFG = CrawlConfig(
    site=SITE.SiteConfig(
        n_pages=1, docs_per_page=8, related_per_doc=2, max_attachments=1, fault_every=5
    ),
    round_window_s=120.0,
    n_seen_partitions=4,
    bloom_bits=1 << 16,
    cuckoo_buckets=1 << 10,
    seen_compact_every=3,  # round 4 reads seen_base (round 3) + one delta
    max_rounds=4,
)


def _rdds_held(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


class _ObservedEngine(CrawlEngine):
    """Records the optimized plan of every frame handed to the checkpoint
    writes, and the ids of the cached RDDs after each round."""

    def __init__(self, spark, cfg, ckpt):
        super().__init__(spark, cfg, ckpt)
        self.plans: dict[int, dict[str, str]] = {}
        self.rdds_after: dict[int, set[int]] = {}

    def _write_state(self, rnd, live, deltas, counters):
        self.plans[rnd] = {
            name: df._jdf.queryExecution().optimizedPlan().toString()
            for name, df in {**live, **deltas}.items()
        }
        return super()._write_state(rnd, live, deltas, counters)

    def _run_round(self, rnd, state, manifest):
        out = super()._run_round(rnd, state, manifest)
        self.rdds_after[rnd] = _rdds_held(self.spark)
        return out


@pytest.fixture(scope="module")
def observed(spark, tmp_path_factory):
    before = _rdds_held(spark)
    eng = _ObservedEngine(spark, CFG, str(tmp_path_factory.mktemp("lineage")))
    manifest = eng.run(resume=False)
    return eng, manifest, before


def test_write_plans_read_flat_leaves(observed):
    eng, manifest, _ = observed
    assert manifest["round"] == 4
    for rnd in range(1, 5):
        plans = eng.plans[rnd]
        for name, plan in plans.items():
            assert "InMemoryRelation" not in plan, (rnd, name)
        # the fetch leaf feeds the logs, both leaves feed the frontier
        assert "LogicalRDD" in plans["visit_log"], rnd
        assert plans["frontier"].count("LogicalRDD") == 2, rnd


def test_round_blocks_released_at_commit(observed):
    # only RDDs cached before the crawl may still be held (the session's
    # cleaner can free some of those meanwhile, never add one)
    eng, _, before = observed
    held = {rnd: ids - before for rnd, ids in eng.rdds_after.items()}
    assert held == {1: set(), 2: set(), 3: set(), 4: set()}


def test_resume_reads_infer_no_schema(spark, observed):
    eng, manifest, _ = observed
    assert manifest["seen_base_round"] == 3
    sc = spark.sparkContext
    group = "lineage-resume-reads"
    sc.setJobGroup(group, "resume reads")
    try:
        eng._read_live(manifest["round"])
        eng.read_seen(manifest["round"], manifest["seen_base_round"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
