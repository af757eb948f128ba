"""Round-scoped persistence: a crawl round or a purge leaves no persisted
state behind, and the frames it commits plan only their own stage.

Stage boundaries are released local checkpoints (engine/checkpoints.py), not
``cache()``: a cached frame nests its whole upstream plan, so every later
action would re-plan and re-render the round so far.
"""

import pytest

from eastmoneygubacrawler_spark.engine import CrawlConfig, purge_urls, run_crawl
from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus
from eastmoneygubacrawler_spark.plans.audit import assert_no_cached_lineage
from eastmoneygubacrawler_spark.schema import PAGES, ROBOTS, SEEDS
from eastmoneygubacrawler_spark.storage import SnapshotStore


@pytest.fixture(scope="module")
def inputs(spark):
    corpus = build_corpus(FixtureConfig(n_stocks=1, max_count=60, adversarial=False))
    return (
        spark.createDataFrame(corpus["pages"], PAGES),
        spark.createDataFrame(corpus["seeds"], SEEDS),
        spark.createDataFrame(corpus["robots"], ROBOTS),
    )


def _cfg(max_depth: int) -> CrawlConfig:
    return CrawlConfig(n_shards=8, fetch_partitions=4, max_depth=max_depth)


def test_round_and_purge_leave_no_persisted_state(spark, inputs, tmp_path):
    """Two rounds (depth 1 and depth 2) and a purge: after each call the
    CacheManager is empty and the persisted-RDD count is back where it was."""
    pages, seeds, robots = inputs
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # the session is shared with other test modules: start from no cached
    # frames so the assertion is about this module's calls only
    spark.catalog.clearCache()

    def check(call):
        n0 = jsc.getPersistentRDDs().size()
        out = call()
        assert cache_manager.isEmpty()
        assert jsc.getPersistentRDDs().size() == n0
        return out

    store = SnapshotStore(str(tmp_path / "s"))
    check(lambda: run_crawl(spark, store, pages, seeds, robots, None, _cfg(1)))
    store2 = SnapshotStore(str(tmp_path / "s2"))
    m = check(lambda: run_crawl(spark, store2, pages, seeds, robots, None, _cfg(2)))
    assert m["posts_new"] > 0
    urls = store2.load(spark, "posts").select("url").orderBy("url").limit(3)
    pm = check(lambda: purge_urls(spark, store2, urls))
    assert pm["urls_purged"] == 3


def test_committed_frames_plan_only_their_stage(spark, inputs, tmp_path, monkeypatch):
    """Every frame a depth-2 round hands to SnapshotStore.commit reads
    released checkpoints, not a cached plan of the round so far."""
    pages, seeds, robots = inputs
    commit = SnapshotStore.commit
    audited = []

    def audit_commit(self, round_id, **kw):
        frames = [*(kw.get("snapshots") or {}).values(),
                  *(kw.get("appends") or {}).values()]
        for keyed in ("patches", "deletes"):
            frames += [df for df, _ in (kw.get(keyed) or {}).values()]
        for df in frames:
            assert_no_cached_lineage(df, max_plan_bytes=64 * 1024)
        audited.extend(frames)
        return commit(self, round_id, **kw)

    monkeypatch.setattr(SnapshotStore, "commit", audit_commit)
    store = SnapshotStore(str(tmp_path / "s"))
    m = run_crawl(spark, store, pages, seeds, robots, None, _cfg(2))
    assert m["posts_new"] > 0
    assert len(audited) >= 5
