"""Incremental cross-wave maintenance of the broadcast seen-bloom
(driver._bloom_for_wave): the bitmap is built once and each wave ORs in
only the frontier delta, so the per-wave cost tracks wave size instead
of crawl history.  Correctness property: the held bitmap is always a
superset of the pinned frontier's url_hash set (false positives are
fine — the exact anti-join re-checks them; false negatives would
duplicate-enqueue)."""

import shutil
import tempfile

import numpy as np
import pytest

from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
from pink_spider_spark.sources.synth import (build_catalog_items,
                                             gen_pages_spark, robots_rows,
                                             seed_urls)
from pink_spider_spark.sources.tables import TableStore


@pytest.fixture()
def driver(spark):
    items = build_catalog_items()
    pages = gen_pages_spark(spark, 120, items).cache()
    pages.count()
    robots = spark.createDataFrame(robots_rows())
    root = tempfile.mkdtemp(prefix="bloom_incr_")
    d = CrawlDriver(spark, TableStore(root), pages, robots, items,
                    CrawlConfig(max_depth=2, max_waves=20))
    yield d
    pages.unpersist()
    shutil.rmtree(root, ignore_errors=True)


def _bloom_covers_frontier(spark, d: CrawlDriver) -> bool:
    """The held bitmap must contain every frontier row with
    discovered_wave <= _bloom_covers (the delta for the newest wave is
    absorbed at the start of the NEXT wave, before any prune reads it)."""
    from pyspark.sql import functions as F

    from pink_spider_spark.sources import schemas

    hashes = (d._pinned("frontier", schemas.FRONTIER_SCHEMA)
              .filter(F.col("discovered_wave") <= d._bloom_covers)
              .select("url_hash").toPandas()["url_hash"]
              .to_numpy(dtype=np.int64))
    return bool(d._bloom.contains_many(hashes).all())


def test_bloom_reused_and_superset_across_waves(spark, driver):
    driver.bootstrap(seed_urls(6))
    assert driver._bloom is None  # bootstrap holds no bitmap
    driver.run_wave()
    first = driver._bloom
    assert first is not None and driver._bloom_covers == 0
    assert _bloom_covers_frontier(spark, driver)
    cap = driver._bloom_capacity
    driver.run_wave()
    # same bitmap object, incrementally extended — not a rebuild
    assert driver._bloom is first and driver._bloom_capacity == cap
    assert driver._bloom_covers == 1
    assert _bloom_covers_frontier(spark, driver)


def test_bloom_rebuilds_when_estimate_outgrows_capacity(spark, driver):
    driver.bootstrap(seed_urls(6))
    driver.run_wave()
    first = driver._bloom
    # force the growth trigger: pretend the bitmap was sized for almost
    # nothing, so the next wave's estimate exceeds capacity
    driver._bloom_capacity = 1
    driver.run_wave()
    assert driver._bloom is not first  # full rebuild at 4x estimate
    assert driver._bloom_capacity >= 100_000
    assert _bloom_covers_frontier(spark, driver)


def test_recrawl_invalidates_held_bloom(spark, driver):
    driver.bootstrap(seed_urls(6))
    driver.run_wave()
    assert driver._bloom is not None
    # recrawl inserts a brand-new url whose discovered_wave the held
    # bitmap already claims to cover — the driver must drop the bitmap
    driver.recrawl(["http://host0.example/brand-new-page"])
    assert driver._bloom is None and driver._bloom_covers == -1
    driver.run_wave()  # rebuild path, still a superset afterwards
    assert _bloom_covers_frontier(spark, driver)


def test_fresh_driver_resume_rebuilds(spark, driver):
    driver.bootstrap(seed_urls(6))
    driver.run_wave()
    # a resuming process holds no bitmap: simulate with a second driver
    # over the same store — its first wave must full-build and stay exact
    d2 = CrawlDriver(spark, driver.store, driver.pages, driver.robots,
                     driver.catalog_items, driver.config)
    d2.run_wave()
    assert d2._bloom is not None
    assert _bloom_covers_frontier(spark, d2)


# --------------------------- sharded-regime incremental twin
def _shards_cover_frontier(spark, d: CrawlDriver) -> bool:
    """Reconstruct each shard bitmap and check every covered frontier
    hash is a member of its shard's filter."""
    from pyspark.sql import functions as F

    from pink_spider_spark.crawl.bloom import _U64, BloomFilter
    from pink_spider_spark.sources import schemas

    shards = {r.shard: BloomFilter(r.m_bits, r.k,
                                   np.frombuffer(bytes(r.bitmap), dtype=_U64))
              for r in d._bloom_shards.collect()}
    n_shards = d._shards_n
    rows = (d._pinned("frontier", schemas.FRONTIER_SCHEMA)
            .filter(F.col("discovered_wave") <= d._shards_covers)
            .select("url_hash").toPandas()["url_hash"]
            .to_numpy(dtype=np.int64))
    for h in rows:
        # python % matches Spark pmod for negative hashes
        bf = shards.get(int(h % n_shards))
        if bf is None or not bf.contains_many(np.array([h], dtype=np.int64))[0]:
            return False
    return True


@pytest.fixture()
def sharded_driver(spark, sharded_seen_filter):
    items = build_catalog_items()
    pages = gen_pages_spark(spark, 120, items).cache()
    pages.count()
    robots = spark.createDataFrame(robots_rows())
    root = tempfile.mkdtemp(prefix="bloom_shard_incr_")
    d = CrawlDriver(spark, TableStore(root), pages, robots, items,
                    CrawlConfig(max_depth=2, max_waves=20))
    yield d
    pages.unpersist()
    shutil.rmtree(root, ignore_errors=True)


def test_sharded_bloom_incremental_across_waves(spark, sharded_driver):
    d = sharded_driver
    d.bootstrap(seed_urls(6))
    assert d._bloom_shards is None
    d.run_wave()
    first = d._bloom_shards
    assert first is not None and d._shards_covers == 0
    # shard count = the session's shuffle partitions, carried by the rows
    assert d._shards_n == int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert {r.n_shards for r in first.select("n_shards").collect()} \
        == {d._shards_n}
    assert _shards_cover_frontier(spark, d)
    d.run_wave()
    # a new (update) DataFrame each wave, built ON the held one — covers
    # advances and the superset property holds over both waves' rows
    assert d._bloom_shards is not first and d._shards_covers == 1
    assert _shards_cover_frontier(spark, d)


def test_sharded_bloom_matches_full_crawl_parity(spark, sharded_driver):
    """End-to-end: a full crawl on the incremental sharded path yields the
    identical seen set as the (already parity-pinned) broadcast path."""
    d = sharded_driver
    d.run(seed_urls(6))
    assert d._bloom_shards is not None and d._bloom is None
    seen_shard = {(r.url, r.first_wave, r.seq)
                  for r in d.store.table("seen").read(spark).collect()}

    # the reference crawl takes the broadcast regime: lift the lowered
    # limit (the fixture restores its own setting afterwards)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    root2 = tempfile.mkdtemp(prefix="bloom_bcast_ref_")
    d2 = CrawlDriver(spark, TableStore(root2), d.pages, d.robots,
                     d.catalog_items,
                     CrawlConfig(max_depth=2, max_waves=20))
    d2.run(seed_urls(6))
    assert d2._bloom is not None and d2._bloom_shards is None
    seen_bcast = {(r.url, r.first_wave, r.seq)
                  for r in d2.store.table("seen").read(spark).collect()}
    shutil.rmtree(root2, ignore_errors=True)
    assert seen_shard == seen_bcast


def test_update_skips_unchanged_shards_jvm_side(spark):
    """r5 unchanged-shard skip: shards without delta keys must NOT pass
    through the pandas cogroup — the plan carries exactly ONE
    FlatMapCoGroupsInPandas plus a JVM-side anti-join passthrough — and
    the semantics are unchanged: touched shards gain the new keys,
    untouched shards' bitmaps stay byte-identical."""
    from pyspark.sql import functions as F

    from pink_spider_spark.crawl.bloom import (BloomFilter, _U64,
                                               build_bloom_shards,
                                               cover_all_shards,
                                               update_bloom_shards)

    base = spark.createDataFrame([(i * 8,) for i in range(64)],
                                 ["url_hash"])  # all in shard 0 (mod 8)
    shards = cover_all_shards(
        build_bloom_shards(base, "url_hash", 1000, n_shards=8), 8) \
        .localCheckpoint(eager=True)
    before = {r.shard: bytes(r.bitmap) for r in shards.collect()}

    delta = spark.createDataFrame([(3,), (11,)], ["url_hash"])  # shard 3
    out = update_bloom_shards(shards, delta, "url_hash", 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    after = {r.shard: bytes(r.bitmap) for r in out.collect()}
    assert set(after) == set(range(8))
    for s in range(8):
        if s != 3:
            assert after[s] == before[s], f"shard {s} was rewritten"
    assert after[3] != before[3]
    import numpy as np
    bf = BloomFilter(
        int(shards.select("m_bits").first()[0]),
        int(shards.select("k").first()[0]),
        np.frombuffer(after[3], dtype=_U64))
    assert bf.contains_many(np.array([3, 11], dtype=np.int64)).all()
