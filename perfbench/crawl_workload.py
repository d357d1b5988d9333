"""``crawl_bulk``: repeated crawls of the weight-64 synthetic corpus.

Load model: one client, closed loop.  Each crawl bootstraps a fresh
table store from the seed URLs and calls ``CrawlDriver.run_wave`` until
the frontier is drained; the next wave starts when the previous one has
committed, the next crawl when the previous one has finished.  Budgets
are opened wide (``max_per_wave`` = 10^6), so every pending URL is
dequeued at once and the crawl is throughput-bound.

The workload seed picks the seed-URL sample from the fixed corpus
(``synth.SEED`` stays 42); the engine only sees the generated inputs.

Correctness, checked after every crawl outside the timed region:
- the (url -> (wave, seq)) seen map equals ``simulator.simulate`` on the
  same pages, robots and seeds (computed once in set-up);
- every committed entry's ``text`` is byte-identical to the corpus's
  golden ``text`` column;
- every wave satisfies ``batch == fetched + missing``.
"""

from __future__ import annotations

import random
import shutil
import tempfile
import time

from harness import median

N_PAGES = 200
WEIGHT = 64
N_SEEDS = 100
MAX_DEPTH = 1
SETUP_REPS = 3
# warm-up: one wave from a small disjoint seed set on a throwaway store,
# so every wave-job shape is compiled and every Python worker forked
# before timing
WARM_SEEDS = 24
# in-process extractor probe and the extract-UDF probe share this sample
PROBE_PAGES = 96


def _corpus(spark, items):
    from pink_spider_spark.sources.synth import gen_pages_spark

    pages = gen_pages_spark(spark, N_PAGES, items, weight=WEIGHT).cache()
    pages.count()
    return pages


def _robots(spark):
    from pink_spider_spark.sources.synth import robots_rows

    pdf = robots_rows()
    pdf["max_per_wave"] = 1_000_000
    robots_map = {r["host"]: {"disallow_prefixes": list(r["disallow_prefixes"]),
                              "max_per_wave": int(r["max_per_wave"])}
                  for _, r in pdf.iterrows()}
    return spark.createDataFrame(pdf), robots_map


def _seed_urls(seed: int) -> list:
    from pink_spider_spark.sources.synth import page_url

    ids = random.Random(seed).sample(range(N_PAGES), N_SEEDS)
    return [page_url(i) for i in sorted(ids)]


def _crawl(spark, store, pages, robots, items, seeds, tracer, op):
    """One crawl to quiescence.  Returns the committed waves (stats,
    wall seconds, the checkpoint before and after), the bootstrap-to-last-
    commit wall time, the number of run_wave calls and the wave number of
    the call that raised, if one did (it ends the crawl)."""
    from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver

    driver = CrawlDriver(spark, store, pages, robots, items,
                         CrawlConfig(max_depth=MAX_DEPTH, max_waves=100))
    waves, raised, calls = [], None, 0
    t0 = time.perf_counter()
    with tracer.span("crawl", op=op):
        with tracer.span("crawl.driver.bootstrap", op=op):
            driver.bootstrap(seeds)
        t_end = time.perf_counter()
        while True:
            before = store.read_checkpoint()
            calls += 1
            tw = time.perf_counter()
            try:
                with tracer.span("crawl.driver.run_wave", op=op,
                                 wave=int(before["wave"]) + 1) as sp:
                    stats = driver.run_wave()
                    if sp is not None:  # the empty wave that ends a crawl
                        sp["done"] = bool(stats.get("done"))
            except Exception as e:  # a failed wave ends this crawl
                print(f"crawl {op}: run_wave raised {e!r}", flush=True)
                raised = calls
                break
            wall = time.perf_counter() - tw
            if stats.get("done"):
                break
            t_end = time.perf_counter()
            waves.append({"stats": stats, "wall": wall, "before": before,
                          "after": store.read_checkpoint()})
    return waves, t_end - t0, raised, calls


def _check(spark, store, waves, expected_seen, expected_entries,
           golden) -> set:
    """Numbers of the waves of one crawl that fail a check (seen map,
    entry set, text identity, wave-count conservation), each mismatch
    attributed to the wave it belongs to."""
    from pyspark.sql import functions as F

    seen = {r.url: (r.first_wave, r.seq)
            for r in store.table("seen").read(spark).collect()}
    bad = set()
    for url in set(seen) | set(expected_seen):
        if seen.get(url) != expected_seen.get(url):
            bad.add((seen.get(url) or expected_seen.get(url))[0])
    entries = (store.table("entries").read(spark)
               .select("url", "text", F.col("crawled_wave")).collect())
    for r in entries:
        if r.text != golden.get(r.url):
            bad.add(r.crawled_wave)
    for url in expected_entries ^ {r.url for r in entries}:
        bad.add(expected_seen.get(url, (0,))[0])
    for w in waves:
        s = w["stats"]
        if s["batch"] != s["fetched"] + s["missing"]:
            bad.add(s["wave"])
    n_expected = max((w for w, _ in expected_seen.values()), default=0)
    if len(waves) != n_expected:  # a missing or extra wave fails too
        bad.add(len(waves) + 1)
    return bad


def run(spark, args, work, tracer):
    """Set up, run the timed closed loop, check every crawl.  Returns a
    dict of end-to-end figures and the raw records the traced run folds
    into per-layer metrics."""
    from crawl_bench import host_capacity_probe
    from harness import cores
    from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
    from pink_spider_spark.crawl.simulator import simulate
    from pink_spider_spark.sources.synth import build_catalog_items
    from pink_spider_spark.sources.tables import TableStore

    items = build_catalog_items()
    robots, robots_map = _robots(spark)
    seeds = _seed_urls(args.seed)

    # set-up 1: the corpus (distributed generation, golden extract per
    # page), built SETUP_REPS times; the last build is the one crawled
    data_reps = []
    pages = None
    for _ in range(SETUP_REPS):
        if pages is not None:
            pages.unpersist(blocking=True)
        t = time.perf_counter()
        with tracer.span("setup.corpus"):
            pages = _corpus(spark, items)
        data_reps.append(time.perf_counter() - t)

    # set-up 2: the oracle — golden text and the simulator's crawl trace
    t = time.perf_counter()
    with tracer.span("setup.oracle"):
        pdf = pages.select("url", "html", "text").toPandas()
        golden = dict(zip(pdf.url, pdf.text))
        html = dict(zip(pdf.url, pdf.html))
        sim = simulate(html, robots_map, items, seeds, max_depth=MAX_DEPTH)
        expected_seen = {u: (w, s) for (u, w, s) in sim.seen}
        expected_entries = set(sim.entries)
    oracle_s = time.perf_counter() - t

    # set-up 3: warm-up crawl on seeds disjoint from the timed ones
    t = time.perf_counter()
    with tracer.span("setup.warmup"):
        timed_seeds = set(seeds)
        warm_seeds = [u for u in _seed_urls(args.seed + 1)
                      if u not in timed_seeds][:WARM_SEEDS]
        warm_root = tempfile.mkdtemp(dir=work.state, prefix="warm_")
        CrawlDriver(spark, TableStore(warm_root), pages, robots, items,
                    CrawlConfig(max_depth=MAX_DEPTH, max_waves=1)).run(warm_seeds)
        shutil.rmtree(warm_root, ignore_errors=True)
    warmup_s = time.perf_counter() - t

    # capacity probe in the same window as the timed loop (before and
    # after it; the mean is recorded)
    probes = [host_capacity_probe(cores(), dur=0.5)]

    crawls, attempted, failed, timed = [], 0, 0, 0.0
    last_root = None
    while timed < args.seconds or not crawls:
        root = tempfile.mkdtemp(dir=work.state, prefix="crawl_")
        store = TableStore(root)
        op = f"crawl-{len(crawls)}"
        waves, wall, raised, calls = _crawl(
            spark, store, pages, robots, items, seeds, tracer, op)
        timed += wall
        attempted += calls
        bad = _check(spark, store, waves, expected_seen, expected_entries,
                     golden)
        if raised:
            bad.add(raised)
        # a wave the crawl never reached was not attempted
        failed += sum(1 for w in bad if w <= calls)
        crawls.append({"op": op, "wall": wall, "waves": waves,
                       "urls": sum(w["stats"]["batch"] for w in waves)})
        if last_root:
            shutil.rmtree(last_root, ignore_errors=True)
        last_root = root
    probes.append(host_capacity_probe(cores(), dur=0.5))

    urls = sum(c["urls"] for c in crawls)
    wave_walls = [w["wall"] for c in crawls for w in c["waves"]]
    out = {
        "attempted": attempted, "failed": failed,
        "throughput_per_s": urls / timed,
        "op_s": median(wave_walls),
        "pass_s": median([c["wall"] for c in crawls]),
        "setup": {"data_s": median(data_reps), "data_reps": data_reps,
                  "oracle_s": oracle_s, "warmup_s": warmup_s},
        "host_loops_per_s": sum(probes) / len(probes),
        "detail": {"crawls": len(crawls), "waves": len(wave_walls),
                   "urls": urls, "crawl_urls_per_s": urls / timed,
                   "wave_s_p50": median(wave_walls)},
        "crawls": crawls,
    }
    if tracer.enabled:
        out["probes"] = _layer_probes(spark, pages, items, html,
                                      crawls[-1], last_root, tracer)
    shutil.rmtree(last_root, ignore_errors=True)
    pages.unpersist()
    return out


def _layer_probes(spark, pages, items, html, crawl, root, tracer) -> dict:
    """Traced-run-only layer measurements, outside the timed loop:
    the in-process extractor on one core, the same pages through the
    ``mapInPandas`` UDF, a replay of each wave's bloom prune, and the
    bytes the table store wrote."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from harness import cores
    from pink_spider_spark.crawl.bloom import build_bloom
    from pink_spider_spark.extract import extract
    from pink_spider_spark.functions.udfs import (canonicalize_url,
                                                  extract_pages,
                                                  with_url_hash)
    from pink_spider_spark.htmldom import parse_html
    from pink_spider_spark.providers import Catalog
    from pink_spider_spark.sources import schemas
    from pink_spider_spark.sources.synth import page_url
    from pink_spider_spark.sources.tables import TableStore

    sample = [page_url(i) for i in range(PROBE_PAGES)]
    catalog = Catalog(items)
    with tracer.span("extract.parse_html", pages=len(sample)):
        t = time.perf_counter()
        for u in sample:
            parse_html(html[u])
        parse_s = time.perf_counter() - t
    with tracer.span("extract.extract", pages=len(sample)):
        t = time.perf_counter()
        for u in sample:
            extract(html[u], u, catalog)
        extract_s = time.perf_counter() - t

    sample_df = pages.filter(F.col("url").isin(sample))
    with tracer.span("functions.udfs.extract_pages", pages=len(sample)):
        t = time.perf_counter()
        extract_pages(sample_df, items).write.mode("overwrite") \
            .format("noop").save()
        udf_s = time.perf_counter() - t

    store = TableStore(root)
    bloom = {"build_s": 0.0, "candidates": 0, "suspects": 0, "present": 0}
    for w in crawl["waves"]:
        before, after = w["before"], w["after"]
        wave = int(after["wave"])
        frontier = store.table("frontier").read(
            spark, schema=schemas.FRONTIER_SCHEMA,
            snapshot=before["snapshots"]["frontier"])
        entries = store.table("entries").read(
            spark, schema=schemas.ENTRY_SCHEMA,
            snapshot=after["snapshots"]["entries"]) \
            .filter(F.col("crawled_wave") == wave)
        # the wave's enqueue candidates, as the driver derives them
        cand = (entries.select("url", F.explode("links").alias("raw"))
                .join(frontier.select("url", "depth"), "url")
                .select(canonicalize_url(F.col("raw")).alias("url"),
                        (F.col("depth") + 1).alias("depth"))
                .filter(F.col("url").startswith("http"))
                .filter(F.col("depth") <= MAX_DEPTH)
                .select("url").distinct())
        cand = with_url_hash(cand).cache()
        estimate = int(before["counters"].get("frontier_estimate", 1000))
        with tracer.span("crawl.bloom.build_bloom", wave=wave):
            t = time.perf_counter()
            bf = build_bloom(frontier, "url_hash", max(4 * max(1000, estimate),
                                                       100_000))
            bloom["build_s"] += time.perf_counter() - t
        hashes = cand.select("url_hash").toPandas()["url_hash"]
        bloom["candidates"] += len(hashes)
        bloom["suspects"] += int(np.count_nonzero(
            bf.contains_many(hashes.to_numpy(dtype=np.int64))))
        bloom["present"] += cand.join(frontier.select("url"), "url",
                                      "left_semi").count()
        cand.unpersist()

    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))

    return {
        "extract": {"pages": len(sample), "parse_s": parse_s,
                    "extract_s": extract_s, "udf_s": udf_s,
                    "cores": cores()},
        "bloom": bloom,
        "tables": {"bytes": n_bytes, "files": n_files, "urls": crawl["urls"]},
    }
