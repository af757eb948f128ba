"""End-to-end crawl vs the pure-Python reference-semantics simulator.

Asserts the three north-rule invariants on the fixture corpus:
1. final posts set == simulator's (every projected field),
2. canonical crawl ordering == simulator's insertion order (crawl_seq),
3. URL-seen set equality,
4. byte-identical extracted full_text per url,
plus recrawl incrementality (round 2 adds nothing, J4 early-stops).
"""

import pytest
from pyspark.sql import functions as F

from eastmoneygubacrawler_spark.engine import CrawlConfig, run_crawl
from eastmoneygubacrawler_spark.fixtures import simulate_reference_crawl
from eastmoneygubacrawler_spark.storage import SnapshotStore


@pytest.fixture(scope="module")
def crawl_result(spark, corpus, corpus_dir, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("store")))
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    politeness = spark.read.parquet(f"{corpus_dir}/politeness.parquet")
    cfg = CrawlConfig(n_shards=16, fetch_partitions=8)
    metrics = run_crawl(spark, store, pages, seeds, robots, politeness, cfg)
    golden = simulate_reference_crawl(corpus)
    return {
        "store": store, "metrics": metrics, "golden": golden,
        "pages": pages, "seeds": seeds, "robots": robots,
        "politeness": politeness, "cfg": cfg,
    }


def test_posts_set_matches_simulator(spark, crawl_result):
    got = {
        (r.stock_code, r.content_type, r.url_id): r
        for r in crawl_result["store"].load(spark, "posts").collect()
    }
    exp = {
        (p["stock_code"], p["content_type"], p["url_id"]): p
        for p in crawl_result["golden"]["posts"]
    }
    assert set(got) == set(exp)
    for k, p in exp.items():
        r = got[k]
        assert r.title == p["title"], k
        assert r.url == p["url"], k
        assert r.read_count == p["read_count"], k
        assert r.comment_count == p["comment_count"], k
        assert r.publish_time == p["publish_time"], k
        assert r.author == p["author"], k
        assert r.grade == p["grade"], k
        assert r.institution == p["institution"], k
        assert r.notice_type == p["notice_type"], k
        assert r.summary == p["summary"], k
        assert r.source == "official", k


def test_crawl_ordering_matches_simulator(spark, crawl_result):
    got = [
        (r.stock_code, r.content_type, r.url_id)
        for r in crawl_result["store"]
        .load(spark, "posts")
        .orderBy("crawl_seq")
        .collect()
    ]
    exp = [
        (p["stock_code"], p["content_type"], p["url_id"])
        for p in crawl_result["golden"]["posts"]
    ]
    assert got == exp
    seqs = [
        r.crawl_seq
        for r in crawl_result["store"].load(spark, "posts").orderBy("crawl_seq").collect()
    ]
    assert seqs == list(range(1, len(exp) + 1))


def test_seen_set_matches_simulator(spark, crawl_result):
    got = {r.url for r in crawl_result["store"].load(spark, "seen").collect()}
    assert got == crawl_result["golden"]["seen_urls"]


def test_full_text_byte_identical(spark, crawl_result):
    """Engine full_text must equal the pages-table ground truth per url."""
    posts = crawl_result["store"].load(spark, "posts")
    pages = crawl_result["pages"]
    joined = posts.filter(F.col("full_text").isNotNull()).join(
        pages.select("url", F.col("text").alias("gt")), on="url", how="left"
    )
    bad = joined.filter(
        F.col("gt").isNull() | (F.col("full_text") != F.col("gt"))
    ).count()
    assert bad == 0
    # and the simulator's view agrees (incl. which rows have no text at all)
    exp = {p["url"]: p["full_text"] for p in crawl_result["golden"]["posts"]}
    got = {r.url: r.full_text for r in posts.collect()}
    assert got == exp


def test_full_text_time_matches(spark, crawl_result):
    exp = {p["url"]: p["full_text_time"] for p in crawl_result["golden"]["posts"]}
    got = {r.url: r.full_text_time for r in crawl_result["store"].load(spark, "posts").collect()}
    assert got == exp


def test_robots_denied_never_fetched(spark, crawl_result, corpus):
    denied = corpus["robots_denied"]
    assert denied  # fixture must exercise robots
    seen = {r.url for r in crawl_result["store"].load(spark, "seen").collect()}
    assert not (seen & denied)
    posts = crawl_result["store"].load(spark, "posts")
    got = {r.url: r.full_text for r in posts.collect() if r.url in denied}
    assert got and all(v is None for v in got.values())


def test_horizon_pruned_pages_not_seen(spark, crawl_result, corpus):
    """Pages beyond the J4 early-stop (stock 0 news pages 5-6) are never consumed."""
    from eastmoneygubacrawler_spark.fixtures.generator import list_url

    stock0 = sorted(corpus["stocks"])[0]
    seen = {r.url for r in crawl_result["store"].load(spark, "seen").collect()}
    assert list_url(stock0, "news", 4) in seen
    assert list_url(stock0, "news", 5) not in seen
    assert list_url(stock0, "news", 6) not in seen


def test_recrawl_round_is_incremental(spark, crawl_result):
    """Round 2 over unchanged site: early-stops everywhere, adds 0 posts."""
    c = crawl_result
    n_before = c["store"].load(spark, "posts").count()
    m2 = run_crawl(
        spark, c["store"], c["pages"], c["seeds"], c["robots"], c["politeness"], c["cfg"]
    )
    assert m2["round"] == 1
    assert m2["posts_new"] == 0
    posts_after = c["store"].load(spark, "posts")
    assert posts_after.count() == n_before
    golden2 = simulate_reference_crawl(
        c["golden"] and _corpus_of(c), preexisting_keys=_keys_of(c["golden"])
    )
    assert golden2["posts"] == []


def _keys_of(golden):
    return {(p["stock_code"], p["content_type"], p["url_id"]) for p in golden["posts"]}


def _corpus_of(c):
    # corpus fixture is session-scoped; re-derive via the module fixture chain
    from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus

    return build_corpus(FixtureConfig())


def test_shj_text_merge_identical(spark, crawl_result, tmp_path_factory):
    """The large-round shuffled-hash text-merge path (normally gated on
    >100k fetched texts) commits bit-identical posts to the default
    broadcast/SMJ path — forced on here via shj_text_merge_threshold=0."""
    import dataclasses

    c = crawl_result
    store2 = SnapshotStore(str(tmp_path_factory.mktemp("store_shj")))
    cfg2 = dataclasses.replace(c["cfg"], shj_text_merge_threshold=0)
    m2 = run_crawl(
        spark, store2, c["pages"], c["seeds"], c["robots"], c["politeness"], cfg2
    )
    assert m2["posts_new"] > 0
    ref = c["store"].load(spark, "posts")
    got = store2.load(spark, "posts")
    cols = ref.columns
    assert got.columns == cols
    assert ref.exceptAll(got).isEmpty() and got.exceptAll(ref).isEmpty()


def test_shj_text_merge_hint_gate():
    """The shuffled-hash text merge is hinted only past the text threshold,
    only while the per-partition build estimate fits the budget, and never
    on an unmeasured mean text size."""
    from eastmoneygubacrawler_spark.engine.crawl import shj_text_merge_hint

    budget = 256 * 2**20

    def hint(n, mean, parts):
        return shj_text_merge_hint(n, mean, parts, 100_000, budget)

    assert not hint(100_000, 3000.0, 8)  # at the threshold: broadcast wins
    assert hint(200_000, 3000.0, 8)  # 75 MB per partition
    assert not hint(800_000, 3000.0, 8)  # 300 MB per partition: over budget
    assert hint(800_000, 3000.0, 16)  # the same texts over more partitions
    assert not hint(200_000, None, 8)  # unmeasured: no guessed size


def test_coalesce_floor_follows_aqe(spark):
    """The SHJ estimate divides by the fewest partitions AQE may coalesce
    the shuffle to, not by the static shuffle partition count."""
    from eastmoneygubacrawler_spark.engine.crawl import _coalesce_floor

    keys = ("spark.sql.adaptive.coalescePartitions.minPartitionNum",
            "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.unset(keys[0])
        spark.conf.set(keys[1], "true")
        assert _coalesce_floor(spark) == spark.sparkContext.defaultParallelism
        spark.conf.set(keys[0], "3")
        assert _coalesce_floor(spark) == 3
        spark.conf.set(keys[1], "false")
        assert _coalesce_floor(spark) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_metrics_and_lineage(spark, crawl_result):
    m = crawl_result["metrics"]
    assert m["posts_new"] > 500
    assert m["urls_fetched"] > 0 and m["throughput_urls_per_s"] > 0
    log = crawl_result["store"].load(spark, "crawl_log")
    stages = {r.stage for r in log.select("stage").distinct().collect()}
    assert {"list_fetch", "text_fetch"} <= stages
    assert log.filter(F.col("fetched") > 0).count() > 0


def test_round_threads_carry_the_session(spark, tmp_path):
    """The round's driver threads (the depth-1/depth-2 overlap and the
    per-wave concurrent materialization) are wrapped with the session, so
    pyspark never warns that job tags will not be inherited."""
    import warnings

    from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus
    from eastmoneygubacrawler_spark.schema import PAGES, ROBOTS, SEEDS

    corpus = build_corpus(FixtureConfig(n_stocks=1, max_count=40, adversarial=False))
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_shards=8, fetch_partitions=4, use_bloom=False, max_depth=2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        m = run_crawl(
            spark, store,
            spark.createDataFrame(corpus["pages"], PAGES),
            spark.createDataFrame(corpus["seeds"], SEEDS),
            spark.createDataFrame(corpus["robots"], ROBOTS),
            None, cfg,
        )
    assert m["posts_new"] > 0
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
