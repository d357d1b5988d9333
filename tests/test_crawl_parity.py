"""Crawl parity + resumability — the north-rule correctness gate.

The Spark wave pipeline (set-wise, partition-parallel) must match the
sequential reference-semantics simulator on: final URL-seen set, crawl
ordering (wave, seq), enclosure link sets, and byte-identical extracted
text per url (BASELINE.json north_rule / input_hint).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
from pink_spider_spark.crawl.simulator import simulate
from pink_spider_spark.sources.synth import (
    build_catalog_items,
    gen_pages_local,
    gen_pages_spark,
    robots_rows,
    seed_urls,
)
from pink_spider_spark.sources.tables import TableStore

N_PAGES = 120
MAX_DEPTH = 2
N_SEEDS = 6


@pytest.fixture(scope="module")
def corpus(spark):
    items = build_catalog_items()
    pages_df = gen_pages_spark(spark, N_PAGES, items).cache()
    pages_df.count()
    robots_pdf = robots_rows()
    robots_df = spark.createDataFrame(robots_pdf)
    pages_local = gen_pages_local(N_PAGES, items)
    pages_map = dict(zip(pages_local.url, pages_local.html))
    robots_map = {
        r["host"]: {"disallow_prefixes": list(r["disallow_prefixes"]),
                    "max_per_wave": int(r["max_per_wave"])}
        for _, r in robots_pdf.iterrows()
    }
    return items, pages_df, robots_df, pages_map, robots_map


@pytest.fixture(scope="module")
def crawl_results(spark, corpus):
    items, pages_df, robots_df, pages_map, robots_map = corpus
    root = tempfile.mkdtemp(prefix="crawl_parity_")
    store = TableStore(root)
    driver = CrawlDriver(spark, store, pages_df, robots_df, items,
                         CrawlConfig(max_depth=MAX_DEPTH, max_waves=20))
    driver.run(seed_urls(N_SEEDS))
    sim = simulate(pages_map, robots_map, items, seed_urls(N_SEEDS),
                   max_depth=MAX_DEPTH, max_waves=20)
    yield store, sim
    shutil.rmtree(root, ignore_errors=True)


def test_seen_set_and_ordering_parity(spark, crawl_results):
    store, sim = crawl_results
    seen_spark = {r.url: (r.first_wave, r.seq)
                  for r in store.table("seen").read(spark).collect()}
    seen_sim = {u: (w, s) for (u, w, s) in sim.seen}
    assert seen_spark == seen_sim
    assert len(seen_spark) > N_SEEDS  # discovery actually happened


def test_enclosure_set_parity(spark, crawl_results):
    store, sim = crawl_results
    enc_spark = {(r.url, r.kind, r.provider, r.identifier)
                 for r in store.table("enclosures").read(spark).collect()}
    assert enc_spark == set(sim.enclosures)
    assert len(enc_spark) > 0


def test_extracted_text_byte_identical(spark, crawl_results):
    store, sim = crawl_results
    ent_spark = {r.url: r.text for r in store.table("entries").read(spark).collect()}
    assert set(ent_spark) == set(sim.entries)
    for u, e in sim.entries.items():
        assert ent_spark[u] == e["text"], f"text mismatch for {u}"


def test_golden_text_column_matches(spark, crawl_results, corpus):
    # entries.text must equal the pages table's golden text column
    store, _sim = crawl_results
    _items, pages_df, *_ = corpus
    entries = store.table("entries").read(spark)
    joined = entries.alias("e").join(pages_df.alias("p"), "url")
    assert joined.filter(F.col("e.text") != F.col("p.text")).count() == 0


def test_robots_exclusion(spark, crawl_results):
    store, _sim = crawl_results
    frontier = store.table("frontier").read(spark)
    excluded = frontier.filter(F.col("status") == "excluded")
    # /private links are planted by synth and must be excluded, never seen
    assert excluded.filter(F.col("url").contains("/private/")).count() > 0
    seen = store.table("seen").read(spark)
    assert seen.filter(F.col("url").contains("/private/")).count() == 0


def test_entity_dims_find_or_create(spark, crawl_results, corpus):
    """tracks/playlists/albums dims: one row per distinct (provider,
    identifier) ever extracted, enriched from the catalog; playlist_tracks
    from catalog child lists (reference: src/model/entry.rs:336-381,
    src/model/playlist_track.rs:72-90)."""
    store, sim = crawl_results
    items = corpus[0]
    for kind, table in (("track", "tracks"), ("playlist", "playlists"),
                        ("album", "albums")):
        rows = store.table(table).read(spark).collect()
        keys = {(r.provider, r.identifier) for r in rows}
        expected = {(p, i) for (_u, k, p, i) in sim.enclosures if k == kind}
        assert keys == expected, f"{table} dim key mismatch"
        assert len(rows) == len(keys), f"{table} has duplicate keys"
        for r in rows:
            item = items.get((r.provider, kind, r.identifier))
            if item is not None:
                assert r.title == item["title"]
            else:
                assert r.title == r.identifier  # fetch-miss default
    pt = store.table("playlist_tracks").read(spark).collect()
    expected_pt = set()
    for (_u, k, p, i) in sim.enclosures:
        if k == "playlist":
            item = items.get((p, "playlist", i))
            for pos, child in enumerate((item or {}).get("child_identifiers") or []):
                expected_pt.add((p, i, pos, child))
    assert {(r.provider, r.playlist_identifier, r.pos, r.track_identifier)
            for r in pt} == expected_pt


def test_metrics_lineage_written(spark, crawl_results):
    store, sim = crawl_results
    metrics = store.table("metrics").read(spark)
    total_fetched = metrics.agg(F.sum("fetched")).collect()[0][0]
    assert total_fetched == len(sim.entries)
    # wave-commit observability: every wave carries a driver row
    # (partition_id = -1) whose stage_secs map exposes the fixed/variable
    # stage split, and the checkpoint counters carry the full tick map
    drv = {r.wave: r.stage_secs
           for r in metrics.filter("partition_id = -1").collect()}
    n_waves = int(store.read_checkpoint()["wave"])
    assert set(drv) == set(range(1, n_waves + 1))
    for secs in drv.values():
        assert {"dequeue", "entries_write"} <= set(secs)
        assert all(v >= 0 for v in secs.values())
    full = store.read_checkpoint()["counters"]["stage_secs"]
    assert {"dequeue", "entries_write", "table_writes"} <= set(full)


def test_resume_from_checkpoint(spark, corpus):
    """Kill after wave 1, resume with a fresh driver: final state identical
    to an uninterrupted run."""
    items, pages_df, robots_df, pages_map, robots_map = corpus
    root_a = tempfile.mkdtemp(prefix="crawl_resume_a_")
    root_b = tempfile.mkdtemp(prefix="crawl_resume_b_")
    try:
        cfg = CrawlConfig(max_depth=MAX_DEPTH, max_waves=20)
        # uninterrupted
        da = CrawlDriver(spark, TableStore(root_a), pages_df, robots_df, items, cfg)
        da.run(seed_urls(N_SEEDS))
        # interrupted after wave 1 + resumed by a NEW driver instance
        store_b = TableStore(root_b)
        db1 = CrawlDriver(spark, store_b, pages_df, robots_df, items, cfg)
        db1.bootstrap(seed_urls(N_SEEDS))
        db1.run_wave()
        db2 = CrawlDriver(spark, TableStore(root_b), pages_df, robots_df, items, cfg)
        db2.run(resume=True)

        seen_a = {(r.url, r.first_wave, r.seq)
                  for r in TableStore(root_a).table("seen").read(spark).collect()}
        seen_b = {(r.url, r.first_wave, r.seq)
                  for r in store_b.table("seen").read(spark).collect()}
        assert seen_a == seen_b
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


def test_sharded_bloom_path_parity(spark, corpus, sharded_seen_filter):
    """A broadcast limit below the bloom's size forces the sharded
    seen-filter (cogroup probe, no broadcast bitmap, no driver bitmap).
    Final seen set/ordering and extracted text must be identical to the
    simulator."""
    items, pages_df, robots_df, pages_map, robots_map = corpus
    root = tempfile.mkdtemp(prefix="crawl_shardbloom_")
    try:
        store = TableStore(root)
        driver = CrawlDriver(
            spark, store, pages_df, robots_df, items,
            CrawlConfig(max_depth=MAX_DEPTH, max_waves=20))
        driver.run(seed_urls(N_SEEDS))
        assert driver._bloom_shards is not None and driver._bloom is None
        sim = simulate(pages_map, robots_map, items, seed_urls(N_SEEDS),
                       max_depth=MAX_DEPTH, max_waves=20)
        seen_spark = {r.url: (r.first_wave, r.seq)
                      for r in store.table("seen").read(spark).collect()}
        assert seen_spark == {u: (w, s) for (u, w, s) in sim.seen}
        ent_spark = {r.url: r.text
                     for r in store.table("entries").read(spark).collect()}
        assert set(ent_spark) == set(sim.entries)
        for u, e in sim.entries.items():
            assert ent_spark[u] == e["text"]
    finally:
        shutil.rmtree(root, ignore_errors=True)
