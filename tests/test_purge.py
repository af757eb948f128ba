"""URL purge: Iceberg equality-delete files + in-place cuckoo deletion.

The north star's stated reason for a cuckoo-filter seen set is retiring URLs
without rebuilding the shard; these tests pin that whole path — storage
delete files, engine purge across every stateful table, the cuckoo-stays-
fresh / bloom-must-rebuild asymmetry, and refetchability with never-reused
crawl_seq.
"""

import pytest
from pyspark.sql import functions as F

from eastmoneygubacrawler_spark.engine import CrawlConfig, purge_urls, run_crawl
from eastmoneygubacrawler_spark.fixtures import (
    FixtureConfig,
    build_corpus,
    simulate_reference_crawl,
)
from eastmoneygubacrawler_spark.schema import PAGES, ROBOTS, SEEDS
from eastmoneygubacrawler_spark.storage import SnapshotStore


def test_equality_delete_files(spark, tmp_path):
    """Storage layer: a delete commit writes only keys; load anti-joins them
    out; compact folds them into the base and gc expires the delete dirs."""
    import os

    store = SnapshotStore(str(tmp_path / "s"))
    store.commit(0, appends={"t": spark.range(100).withColumnRenamed("id", "k")})
    dels = spark.createDataFrame([(5,), (50,), (99,)], ["k"])
    store.commit(1, deletes={"t": (dels, ["k"])})
    got = sorted(r.k for r in store.load(spark, "t").collect())
    assert len(got) == 97 and 5 not in got and 99 not in got
    # the delete commit wrote a tiny key file, not a table rewrite
    m = store.manifest()
    assert m["tables"]["t"]["deletes"]["paths"] == ["data/t/d000001"]
    assert len(m["tables"]["t"]["paths"]) == 1  # base untouched
    store.compact(spark, "t")
    assert store.manifest()["tables"]["t"]["deletes"]["paths"] == []
    assert store.load(spark, "t").count() == 97
    removed = store.gc()
    assert "data/t/d000001" in removed
    assert not os.path.exists(str(tmp_path / "s/data/t/d000001"))
    assert store.load(spark, "t").count() == 97


def test_delete_then_append_same_key_resurrects(spark, tmp_path):
    """Deletes apply to the base that existed when committed; a LATER append
    of the same key is a new row and must survive (refetch-after-purge)."""
    store = SnapshotStore(str(tmp_path / "s"))
    store.commit(0, appends={"t": spark.createDataFrame([(1, "old")], ["k", "v"])})
    store.commit(1, deletes={"t": (spark.createDataFrame([(1,)], ["k"]), ["k"])})
    assert store.load(spark, "t").count() == 0
    store.commit(2, appends={"t": spark.createDataFrame([(1, "new")], ["k", "v"])})
    rows = store.load(spark, "t").collect()
    # Iceberg sequence semantics: the round-1 delete hides only data files
    # of round ≤ 1, so the round-2 re-append survives — purged urls are
    # refetchable without waiting for a compaction
    assert [(r.k, r.v) for r in rows] == [(1, "new")]
    # and compaction folds to the same visible state
    store.compact(spark, "t")
    assert [(r.k, r.v) for r in store.load(spark, "t").collect()] == [(1, "new")]


@pytest.fixture(scope="module")
def corpus():
    return build_corpus(FixtureConfig(n_stocks=2, max_count=60, adversarial=False))


def _dfs(spark, corpus):
    return (
        spark.createDataFrame(corpus["pages"], PAGES),
        spark.createDataFrame(corpus["seeds"], SEEDS),
        spark.createDataFrame(corpus["robots"], ROBOTS),
    )


def test_engine_purge_bloom_flavor(spark, corpus, tmp_path):
    """Purge on the bloom flavor: rows leave every table, the bloom index is
    invalidated (blooms cannot delete), the url refetches next round with a
    crawl_seq that was never used before (high-water counter)."""
    pages, seeds, robots = _dfs(spark, corpus)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=True, max_depth=1)
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    posts0 = store.load(spark, "posts")
    max_seq0 = posts0.agg(F.max("crawl_seq")).first()[0]
    golden = simulate_reference_crawl(corpus)
    target = next(p["url"] for p in golden["posts"] if p["full_text"])
    row0 = posts0.filter(F.col("url") == target).collect()
    assert len(row0) == 1

    m = purge_urls(spark, store, spark.createDataFrame([(target,)], ["url"]))
    assert m["urls_purged"] == 1
    assert m["bloom_invalidated"] and not m["cuckoo_kept_fresh"]
    assert store.load(spark, "posts").filter(F.col("url") == target).count() == 0
    assert store.load(spark, "seen").filter(F.col("url") == target).count() == 0
    assert store.meta()["seen_bloom"]["round"] < store.current_round()
    # high-water counter untouched; maintain() tolerates actual < meta
    assert store.meta()["posts_rows"] == max_seq0
    assert store.maintain(spark)["reconciled"] == {}

    # next round refetches ONLY the purged url's text (it is unseen again)
    m2 = run_crawl(spark, store, pages, seeds, robots, None, cfg)
    back = store.load(spark, "posts").filter(F.col("url") == target).collect()
    assert len(back) == 1 and back[0].full_text == row0[0].full_text
    # purged sequence number is never reused: the refetched row continues
    # from the high-water mark
    assert back[0].crawl_seq > max_seq0
    assert m2["posts_new"] == 1


def test_engine_purge_cuckoo_stays_fresh(spark, corpus, tmp_path):
    """Purge on the cuckoo flavor: the stored index is updated IN PLACE
    (delete-capable — the structural reason the north star picked it); no
    false negatives for the surviving corpus; the purged url refetches."""
    from eastmoneygubacrawler_spark.operators.cuckoo import cuckoo_maybe_seen

    pages, seeds, robots = _dfs(spark, corpus)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(
        n_shards=8, fetch_partitions=4, use_bloom=True, seen_filter="cuckoo",
        max_depth=1,
    )
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    golden = simulate_reference_crawl(corpus)
    target = next(p["url"] for p in golden["posts"] if p["full_text"])

    m = purge_urls(spark, store, spark.createDataFrame([(target,)], ["url"]))
    assert m["cuckoo_kept_fresh"] and not m["bloom_invalidated"]
    # index meta advanced to the purge round: next crawl trusts it as-is
    assert store.meta()["seen_cuckoo"]["round"] == store.current_round()
    blobs = store.load(spark, "seen_cuckoo")
    survivors = store.load(spark, "seen")
    assert survivors.filter(F.col("url") == target).count() == 0
    # zero false negatives for every surviving seen url
    assert cuckoo_maybe_seen(survivors, blobs, 8).filter(
        "NOT maybe_seen"
    ).count() == 0

    m2 = run_crawl(spark, store, pages, seeds, robots, None, cfg)
    assert m2["posts_new"] == 1  # exactly the purged url came back
    assert store.load(spark, "posts").filter(
        F.col("url") == target
    ).count() == 1


def test_purge_unknown_urls_noop(spark, corpus, tmp_path):
    """URLs never crawled: the delete keys match nothing (harmless data
    no-op) and the cuckoo-delete input is empty (only actually-seen keys are
    safe to delete in place) — urls_purged reports the request size,
    urls_purged_seen reports zero."""
    pages, seeds, robots = _dfs(spark, corpus)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=False, max_depth=1)
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    n_before = store.load(spark, "posts").count()
    m = purge_urls(
        spark, store,
        spark.createDataFrame([("https://never.example.com/x",)], ["url"]),
    )
    assert m["urls_purged"] == 1
    assert m["urls_purged_seen"] == 0
    assert store.load(spark, "posts").count() == n_before


def test_purge_reaches_unseen_inflight_rows(spark, corpus, tmp_path):
    """ADVICE r4 (medium): a post whose text fetch has NOT yet succeeded has
    a metadata row in posts (text to be MoR-patched later) but its url never
    entered seen.  The purge contract is 'gone from every surface', so those
    in-flight rows must be deleted too — the old seen-semi-join skipped them
    and the host kept resurrecting."""
    golden = simulate_reference_crawl(corpus)
    target = next(p["url"] for p in golden["posts"] if p["full_text"])
    pages, seeds, robots = _dfs(spark, corpus)
    pages_broken = pages.filter(F.col("url") != target)  # text fetch misses
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=False, max_depth=1)
    run_crawl(spark, store, pages_broken, seeds, robots, None, cfg)
    # precondition: metadata row exists, url is NOT seen (fetch failed)
    assert store.load(spark, "posts").filter(F.col("url") == target).count() == 1
    assert store.load(spark, "seen").filter(F.col("url") == target).count() == 0

    m = purge_urls(spark, store, spark.createDataFrame([(target,)], ["url"]))
    assert m["urls_purged"] == 1 and m["urls_purged_seen"] == 0
    assert store.load(spark, "posts").filter(F.col("url") == target).count() == 0
    frontier = store.load(spark, "frontier")
    if frontier is not None:
        assert frontier.filter(F.col("url") == target).count() == 0
    ff = store.load(spark, "frontier_failed")
    if ff is not None:
        assert ff.filter(F.col("url") == target).count() == 0


def test_purge_hosts_retires_whole_host(spark, corpus, tmp_path):
    """The north star's 'purged hosts' case: every seen url of the host goes;
    other hosts (caifuhao art_urls) survive."""
    from eastmoneygubacrawler_spark.engine.purge import purge_hosts
    from eastmoneygubacrawler_spark.functions import urls as U

    pages, seeds, robots = _dfs(spark, corpus)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=False, max_depth=1)
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    seen = store.load(spark, "seen")
    hosts = {r[0] for r in seen.select(U.url_host(F.col("url"))).distinct().collect()}
    assert "guba.eastmoney.com" in hosts
    n_guba = seen.filter(
        U.url_host(F.col("url")) == "guba.eastmoney.com"
    ).count()
    m = purge_hosts(spark, store, ["guba.eastmoney.com"])
    # the request now unions every url-bearing surface (frontier rows that
    # never reached seen are retired too); the seen-matched subset is still
    # exactly the seen host slice
    assert m["urls_purged_seen"] == n_guba
    assert m["urls_purged"] >= n_guba
    left = store.load(spark, "seen")
    assert left.filter(
        U.url_host(F.col("url")) == "guba.eastmoney.com"
    ).count() == 0
    if len(hosts) > 1:  # caifuhao urls untouched
        assert left.count() > 0


def test_purge_recrawl_purge_cycles_cuckoo_endurance(spark, corpus, tmp_path):
    """r4 verdict item 7: purge → refetch → re-purge across 3 cycles on the
    cuckoo flavor.  The in-place-deleted index must stay fresh every cycle
    (no rebuild, meta round tracks the store), with zero false negatives for
    the surviving corpus, the purged url refetchable each time, and the
    delete files staying O(purge delta) bytes."""
    import os

    from eastmoneygubacrawler_spark.operators.cuckoo import cuckoo_maybe_seen

    pages, seeds, robots = _dfs(spark, corpus)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(
        n_shards=8, fetch_partitions=4, use_bloom=True, seen_filter="cuckoo",
        max_depth=1,
    )
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    golden = simulate_reference_crawl(corpus)
    targets = [p["url"] for p in golden["posts"] if p["full_text"]][:3]
    assert len(targets) == 3

    for cycle, target in enumerate(targets):
        m = purge_urls(spark, store, spark.createDataFrame([(target,)], ["url"]))
        assert m["cuckoo_kept_fresh"], f"cycle {cycle}: index had to rebuild"
        assert store.meta()["seen_cuckoo"]["round"] == store.current_round()
        # zero false negatives for every url still seen
        blobs = store.load(spark, "seen_cuckoo")
        survivors = store.load(spark, "seen")
        assert survivors.filter(F.col("url") == target).count() == 0
        assert cuckoo_maybe_seen(survivors, blobs, 8).filter(
            "NOT maybe_seen"
        ).count() == 0
        # refetch of exactly the purged url; index stays fresh through the
        # crawl round's incremental merge too
        m2 = run_crawl(spark, store, pages, seeds, robots, None, cfg)
        assert m2["posts_new"] == 1
        assert store.meta()["seen_cuckoo"]["round"] == store.current_round()
        assert store.load(spark, "posts").filter(
            F.col("url") == target
        ).count() == 1

    # delete files are key rows only — O(purge delta), never a rewrite
    m = store.manifest()
    for table in ("posts", "seen"):
        for rel in m["tables"][table].get("deletes", {}).get("paths", ()):
            d = os.path.join(str(tmp_path / "s"), rel)
            size = sum(
                os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
            )
            assert size < 64 * 1024, (table, rel, size)


def test_purge_removes_mor_patch_text(spark, corpus, tmp_path):
    """Text that arrived as a merge-on-read patch must not survive a purge —
    neither visibly nor by shadowing a post-purge refetch through the
    load-time coalesce.  Sequence rule: the purge hides patch rows from
    rounds <= purge round; a later refetch carries its own text."""
    golden = simulate_reference_crawl(corpus)
    target = next(p["url"] for p in golden["posts"] if p["full_text"])
    expected_text = next(
        p["full_text"] for p in golden["posts"] if p["url"] == target
    )
    pages, seeds, robots = _dfs(spark, corpus)
    pages_broken = pages.filter(F.col("url") != target)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=False, max_depth=1)

    run_crawl(spark, store, pages_broken, seeds, robots, None, cfg)  # r0: miss
    run_crawl(spark, store, pages, seeds, robots, None, cfg)         # r1: patch
    m = store.manifest()["tables"]["posts"]
    assert m.get("patch", {}).get("paths"), "precondition: text is an MoR patch"
    row1 = store.load(spark, "posts").filter(F.col("url") == target).collect()
    assert row1 and row1[0].full_text == expected_text

    purge_urls(spark, store, spark.createDataFrame([(target,)], ["url"]))
    assert store.load(spark, "posts").filter(F.col("url") == target).count() == 0

    run_crawl(spark, store, pages, seeds, robots, None, cfg)         # r3: refetch
    back = store.load(spark, "posts").filter(F.col("url") == target).collect()
    assert len(back) == 1 and back[0].full_text == expected_text
    # the refetched text came from its own delta, not the purged patch —
    # compaction folds to the same state (patch + delete files absorbed)
    store.compact(spark, "posts")
    after = store.load(spark, "posts").filter(F.col("url") == target).collect()
    assert len(after) == 1 and after[0].full_text == expected_text


def test_purged_in_seen_is_o_purge_delta(spark, tmp_path):
    """The purge's seen intersection streams the seen scan into a broadcast
    semi-join: no shuffle and no aggregate over the seen table, and a url
    stored in several seen deltas is still purged once."""
    from eastmoneygubacrawler_spark.engine.purge import purged_in_seen
    from eastmoneygubacrawler_spark.plans.audit import explain_str

    store = SnapshotStore(str(tmp_path / "s"))
    seen = spark.range(2000).select(
        F.concat(F.lit("https://h.example.com/"), F.col("id").cast("string")).alias("url")
    )
    store.commit(0, appends={"seen": seen})
    store.commit(1, appends={"seen": seen.filter(F.col("id") < 10)})
    purged = spark.createDataFrame(
        [("https://h.example.com/1",), ("https://h.example.com/500",),
         ("https://never.example.com/x",)],
        ["url"],
    ).withColumn("url_hash", F.xxhash64("url"))
    got = purged_in_seen(purged, store.load(spark, "seen"))
    plan = explain_str(got)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert sorted(r.url for r in got.collect()) == [
        "https://h.example.com/1", "https://h.example.com/500",
    ]
    assert got.columns == ["url", "url_hash"]
