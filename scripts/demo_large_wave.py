"""Demonstration: one crawl wave over a >=1M-row frontier with ZERO URLs
materialized on the driver.

The scale path exercised end-to-end (the wave's only path; the batch
size picks the distributed wave order):
- seed bootstrap from a DataFrame (spark.range-derived, never a list)
- per-host budgeted dequeue (1000 hosts x 1500 budget)
- fetch-sim as a distributed left_semi join of pages x batch urls
- distributed wave_order (range-repartition + per-partition offsets,
  localCheckpoint-pinned) for the global seen sequence
- bloom-pruned enqueue of discovered links

Verifies: the wave commits, the seen table holds exactly batch_n rows
with a contiguous gap-free global sequence 1..batch_n.

Run: SPARK_GRAFT_CPUS=32 python scripts/demo_large_wave.py [n_urls]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    n_hosts = 1000
    n_pages = 100_000

    from pyspark.sql import functions as F

    from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
    from pink_spider_spark.session import get_spark
    from pink_spider_spark.sources.synth import build_catalog_items
    from pink_spider_spark.sources.tables import TableStore

    spark = get_spark(app_name="demo-large-wave")
    sc_par = spark.sparkContext.defaultParallelism

    def url_of(col):
        return F.concat(F.lit("https://host"), (col % n_hosts).cast("string"),
                        F.lit(".example.com/p/"), col.cast("string"))

    # distributed seed set: never a python list
    seeds = spark.range(0, n_urls, 1, sc_par).select(
        url_of(F.col("id")).alias("url"))
    # stored pages for the first n_pages urls: trivial html with one
    # discovered link each (enough to drive the enqueue path)
    pages = spark.range(0, n_pages, 1, sc_par).select(
        url_of(F.col("id")).alias("url"),
        F.encode(F.concat(
            F.lit("<html><body><p>Synthetic page body with enough text to "
                  "exercise the extractor scoring path. </p><a href=\""),
            url_of(F.col("id") + n_urls), F.lit("\">next</a></body></html>")),
            "utf-8").alias("html"))
    robots = spark.createDataFrame(
        [(f"host{h}.example.com", [], 1500) for h in range(n_hosts)],
        "host string, disallow_prefixes array<string>, max_per_wave int")

    root = tempfile.mkdtemp(prefix="demo_large_wave_")
    try:
        driver = CrawlDriver(
            spark, TableStore(root), pages, robots, build_catalog_items(),
            CrawlConfig(max_depth=1, max_waves=1))
        t0 = time.time()
        driver.bootstrap(seeds)
        t_boot = time.time() - t0
        t0 = time.time()
        stats = driver.run_wave()
        t_wave = time.time() - t0

        seen = driver.store.table("seen").read(spark)
        agg = seen.agg(
            F.count("*").alias("n"),
            F.countDistinct("seq").alias("n_seq"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi")).first()
        ok = (agg.n == stats["batch"] and agg.n_seq == agg.n
              and agg.lo == 1 and agg.hi == agg.n)
        print(json.dumps({
            "metric": "large_wave_demo",
            "frontier_rows": n_urls,
            "batch": stats["batch"],
            "fetched": stats["fetched"],
            "missing": stats["missing"],
            "bootstrap_sec": round(t_boot, 1),
            "wave_sec": round(t_wave, 1),
            "urls_per_sec": round(stats["batch"] / t_wave, 1),
            "seq_contiguous": bool(ok),
            "driver_url_materialization": "none",
        }))
        if not ok:
            sys.exit(1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
