"""``query_mix``: passes over a fixed list of headline analytics queries.

Load model: one client, closed loop.  A pass runs every query in the
list once, each written to a ``noop`` sink (which materialises every
output column); the next query starts when the previous one has
finished.  The workload only reads: its input is a copy of the sf0.01
synthetic TPC-H-ish tables these queries read (customer, orders,
lineitem, documents, embeddings) under ``perfbench/data/sf0.01``.

The workload seed picks the query order; every seed runs the same list.

Correctness: in the warm-up pass (set-up, outside the timed region)
every query's collected output must hash-match its DuckDB oracle under
both canons of ``scripts/verify_oracle.py``.  A timed execution fails
when it raises or when its query failed that check.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from harness import BENCH_DIR, median

DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
# A cross-section of bench.py's HEADLINE list, one per operator family:
# relational join/aggregate, window top-k, the extract UDF, text hashing,
# search, vector LSH and iterative graph.  The full 40-query list needs
# ~52 s per warm pass at sf0.01 on a 4-core host; this one ~8 s, so a
# run fits a warm-up pass and two timed passes.
QUERIES = (
    "revenue_by_segment",
    "lineitem_top3_per_order",
    "docs_extract_provider_counts",
    "docs_simhash",
    "docs_bm25_topk",
    "emb_near_dup_pairs_lsh_banded",
    "graph_pagerank",
)
SETUP_REPS = 3
# the first timed pass still runs ~15% slower than later ones, so a run
# always times at least two and reports their median
MIN_PASSES = 2


def _oracle(con, sql):
    """The DuckDB side of verify_oracle's two canons."""
    from verify_oracle import pandas_canon_hash, value_hash

    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return {"rows": len(rows), "cols": sorted(cols),
            "hash": value_hash(rows, cols),
            "pandas_hash": pandas_canon_hash(con.execute(sql).fetch_df())}


def _matches(df, want) -> bool:
    """The Spark side, compared against a precomputed oracle digest."""
    import pandas as pd

    from verify_oracle import pandas_canon_hash, value_hash

    rows = [tuple(r) for r in df.collect()]
    cols = df.columns
    if len(rows) != want["rows"] or sorted(cols) != want["cols"]:
        return False
    try:
        pandas_hash = pandas_canon_hash(
            pd.DataFrame.from_records(rows, columns=cols))
    except TypeError:  # unhashable cells fail the driver-path canon
        return False
    return (value_hash(rows, cols) == want["hash"]
            and pandas_hash == want["pandas_hash"])


def run(spark, args, work, tracer):
    """Set up, check every query once, then time passes over the list."""
    import duckdb

    from crawl_bench import host_capacity_probe
    from harness import cores
    from pink_spider_spark import queries as Q
    from verify_oracle import TABLES

    order = list(QUERIES)
    random.Random(args.seed).shuffle(order)
    tables = [t for t in TABLES
              if os.path.exists(os.path.join(DATA, f"{t}.parquet"))]

    # set-up 1: load every input table (scan + count), SETUP_REPS times
    data_reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        with tracer.span("setup.load"):
            for name in tables:
                spark.read.parquet(os.path.join(DATA, f"{name}.parquet")) \
                    .count()
        data_reps.append(time.perf_counter() - t)

    # set-up 2: the DuckDB oracle digest of every query
    t = time.perf_counter()
    with tracer.span("setup.oracle"):
        con = duckdb.connect()
        for name in tables:
            path = os.path.join(DATA, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        oracle = {}
        for n in order:
            try:
                oracle[n] = _oracle(con, Q.ORACLES[n])
            except duckdb.Error as e:  # no reference: the check fails
                print(f"query {n}: oracle raised {e!r}", flush=True)
                oracle[n] = None
        con.close()
    oracle_s = time.perf_counter() - t

    # set-up 3: the warm-up pass, which is also the correctness check
    t = time.perf_counter()
    bad = set()
    with tracer.span("setup.warmup"):
        for n in order:
            try:
                ok = oracle[n] is not None and _matches(
                    Q.QUERY_BUILDERS[n](spark, DATA), oracle[n])
            except Exception as e:
                print(f"query {n}: check raised {e!r}", flush=True)
                ok = False
            if not ok:
                print(f"query {n}: output does not match its oracle",
                      flush=True)
                bad.add(n)
    warmup_s = time.perf_counter() - t

    probes = [host_capacity_probe(cores(), dur=0.5)]
    passes, per_query = [], {n: [] for n in order}
    attempted = failed = 0
    timed = 0.0
    while timed < args.seconds or len(passes) < MIN_PASSES:
        op = f"pass-{len(passes)}"
        t0 = time.perf_counter()
        with tracer.span("queries.pass", op=op):
            for n in order:
                attempted += 1
                tq = time.perf_counter()
                try:
                    with tracer.span(f"queries.{n}", op=op):
                        Q.QUERY_BUILDERS[n](spark, DATA).write \
                            .mode("overwrite").format("noop").save()
                except Exception as e:
                    print(f"query {n}: raised {e!r}", flush=True)
                    failed += 1
                    continue
                per_query[n].append(time.perf_counter() - tq)
                failed += n in bad
        wall = time.perf_counter() - t0
        timed += wall
        passes.append(wall)
    probes.append(host_capacity_probe(cores(), dur=0.5))

    per_query_s = {n: median(xs) for n, xs in per_query.items() if xs}
    return {
        "attempted": attempted, "failed": failed,
        "throughput_per_s": sum(map(len, per_query.values())) / timed,
        # the queries differ ~10x in cost, so their median would jump
        # between queries; the geometric mean weighs each query alike
        "op_s": (statistics.geometric_mean(per_query_s.values())
                 if per_query_s else 0.0),
        "pass_s": median(passes),
        "setup": {"data_s": median(data_reps), "data_reps": data_reps,
                  "oracle_s": oracle_s, "warmup_s": warmup_s},
        "host_loops_per_s": sum(probes) / len(probes),
        "detail": {"passes": len(passes), "queries": len(order),
                   "query_suite_s": median(passes), "pass_walls": passes,
                   "order": order, "check_failed": sorted(bad)},
        "per_query_s": per_query_s,
    }
