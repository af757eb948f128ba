"""Stored-bloom-index integrity under config drift (ADVICE r2, medium).

The seen_bloom snapshot is only valid for the (n_shards, m, k) geometry it
was built with and the seen round it covers.  Probing a stale/mis-sized blob
set yields bloom FALSE NEGATIVES → previously-fetched URLs skip the exact
anti-join, get refetched, and emit duplicate MoR patch rows.  The manifest
now records the geometry + covered round; any drift forces a rebuild from
``seen_prev``.
"""

import pytest
from pyspark.sql import functions as F

from eastmoneygubacrawler_spark.engine import CrawlConfig, run_crawl
from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus
from eastmoneygubacrawler_spark.schema import PAGES, ROBOTS, SEEDS
from eastmoneygubacrawler_spark.storage import SnapshotStore


def _small_corpus(spark):
    corpus = build_corpus(FixtureConfig(n_stocks=1, max_count=40, adversarial=False))
    return (
        spark.createDataFrame(corpus["pages"], PAGES),
        spark.createDataFrame(corpus["seeds"], SEEDS),
        spark.createDataFrame(corpus["robots"], ROBOTS),
    )


def _assert_store_sane(spark, store):
    seen = store.load(spark, "seen")
    assert seen.count() == seen.select("url").distinct().count(), "duplicate seen rows"
    posts = store.load(spark, "posts")
    key = ["stock_code", "content_type", "url_id"]
    assert posts.count() == posts.select(*key).distinct().count(), "duplicate posts"


def test_bloom_meta_recorded(spark, tmp_path):
    pages, seeds, robots = _small_corpus(spark)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=True, max_depth=1)
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    bm = store.meta()["seen_bloom"]
    assert bm["n_shards"] == 8 and bm["round"] == 0
    assert bm["m"] > 0 and bm["k"] > 0
    assert store.meta()["posts_rows"] == store.load(spark, "posts").count()


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_nshards_drift_rebuilds_not_misprobes(spark, tmp_path, seen_filter):
    """Round 1 with a different --n-shards must not refetch/duplicate: the
    stale-geometry index is discarded and rebuilt from seen_prev."""
    pages, seeds, robots = _small_corpus(spark)
    store = SnapshotStore(str(tmp_path / "s"))
    run_crawl(spark, store, pages, seeds, robots, None,
              CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=True,
                          seen_filter=seen_filter, max_depth=1))
    posts_r0 = store.load(spark, "posts").count()
    m = run_crawl(spark, store, pages, seeds, robots, None,
                  CrawlConfig(n_shards=4, fetch_partitions=4, use_bloom=True,
                              seen_filter=seen_filter, max_depth=1))
    assert m["posts_new"] == 0  # static corpus: a recrawl adds nothing
    _assert_store_sane(spark, store)
    assert store.load(spark, "posts").count() == posts_r0
    # index re-keyed to the new geometry
    table = f"seen_{seen_filter}"
    bm = store.meta()[table]
    assert bm["n_shards"] == 4 and bm["round"] == 1
    blobs = store.load(spark, table)
    assert blobs.select(F.max("shard")).first()[0] <= 3


def test_posts_bloom_flavor_equals_exact(spark, tmp_path):
    """r4 verdict item 2: the posts-key bloom front-filter must be invisible
    to results.  Crawl a stock subset (start_code cursor), then the full
    seed list — the second round mixes fresh items (bloom misses) with
    re-listed stored items (suspects → exact confirm).  Bloom and exact
    flavors must produce identical posts tables, including crawl_seq."""
    corpus = build_corpus(FixtureConfig(n_stocks=2, max_count=40, adversarial=False))
    pages = spark.createDataFrame(corpus["pages"], PAGES)
    seeds = spark.createDataFrame(corpus["seeds"], SEEDS)
    robots = spark.createDataFrame(corpus["robots"], ROBOTS)
    codes = sorted(r[0] for r in seeds.select("stock_code").distinct().collect())
    assert len(codes) >= 2
    cursor = str(codes[1]).zfill(6)

    tables = {}
    for flavor, use_bloom in (("bloom", True), ("exact", False)):
        store = SnapshotStore(str(tmp_path / flavor))
        base = dict(n_shards=8, fetch_partitions=4, max_depth=1)
        run_crawl(spark, store, pages, seeds, robots, None,
                  CrawlConfig(use_bloom=use_bloom, start_code=cursor, **base))
        m = run_crawl(spark, store, pages, seeds, robots, None,
                      CrawlConfig(use_bloom=use_bloom, **base))
        assert m["posts_new"] > 0  # the uncursored round added the new stock
        _assert_store_sane(spark, store)
        tables[flavor] = {
            (r.stock_code, r.content_type, r.url_id): (r.crawl_seq, r.title)
            for r in store.load(spark, "posts").collect()
        }
    assert tables["bloom"] == tables["exact"]


def test_posts_bloom_meta_tracks_rounds(spark, tmp_path):
    """The posts-key index commits with geometry + covered round every bloom
    round (freshness contract), and a recrawl with the index fresh adds
    nothing and keeps the store duplicate-free (all-suspects path)."""
    pages, seeds, robots = _small_corpus(spark)
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=True, max_depth=1)
    run_crawl(spark, store, pages, seeds, robots, None, cfg)
    pbm = store.meta()["posts_bloom"]
    assert pbm["n_shards"] == 8 and pbm["round"] == 0
    m = run_crawl(spark, store, pages, seeds, robots, None, cfg)
    assert m["posts_new"] == 0
    _assert_store_sane(spark, store)
    assert store.meta()["posts_bloom"]["round"] == 1


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_bloom_off_round_marks_index_stale(spark, tmp_path, seen_filter):
    """A use_bloom=False round appends to seen without updating the index;
    the next bloom-on round must detect the lag and rebuild instead of
    probing blobs that miss that round's URLs."""
    pages, seeds, robots = _small_corpus(spark)
    store = SnapshotStore(str(tmp_path / "s"))
    on = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=True,
                     seen_filter=seen_filter, max_depth=1)
    off = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=False, max_depth=1)
    table = f"seen_{seen_filter}"
    run_crawl(spark, store, pages, seeds, robots, None, on)
    run_crawl(spark, store, pages, seeds, robots, None, off)
    assert store.meta()[table]["round"] == 0  # index lags seen (round 1)
    m2 = run_crawl(spark, store, pages, seeds, robots, None, on)
    assert m2["posts_new"] == 0
    _assert_store_sane(spark, store)
    assert store.meta()[table]["round"] == 2  # rebuilt + fresh
    # posts kept exactly one text per url: no duplicate MoR patch ever landed
    posts = store.load(spark, "posts")
    assert posts.filter(F.col("full_text").isNull()).count() == 0
