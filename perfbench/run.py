"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Workloads (see each module's docstring for load model and checks):
  crawl_bulk  crawls of the weight-64 synthetic corpus (crawl_workload.py)
  query_mix   passes over headline analytics queries (query_workload.py)

It runs from the root of a checkout, on local[<cores>] with the driver
heap sized from /proc/meminfo, and writes only under perfbench/out/.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
  throughput_per_s  crawl_bulk: URLs dequeued per second of timed crawl
                    wall time (bootstrap through the last committed wave);
                    query_mix: queries finished per second of timed passes
  op_s              wall time of one operation: the median run_wave call
                    (crawl_bulk); the geometric mean over queries of each
                    query's median (query_mix)
  pass_s            median wall time of one whole crawl (crawl_bulk), of
                    one pass over the query list (query_mix)
  setup_s           session start + data set-up (median of several builds)
                    + oracle + warm-up
  peak_rss_mb       peak resident memory of the process tree (this
                    interpreter, the JVM, Python workers), summed as
                    proportional set size so forked processes' shared
                    pages count once
With ``--trace 1`` the Spark event log is on, spans are recorded and the
last line carries the per-layer metrics folded by report.py from the
artifacts it saves under perfbench/out/artifacts/.

The line before the last holds the run's detail (workload-specific names
such as crawl_urls_per_s, wave_s_p50 and query_suite_s, the error rate,
sample counts).  Without the engine package beside perfbench/ the command
exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("crawl_bulk", "query_mix")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not harness.engine_available():
        print("perfbench: the pink_spider_spark package is not beside "
              "perfbench/; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    harness.import_paths()
    if args.workload == "crawl_bulk":
        import crawl_workload as workload
    else:
        import query_workload as workload
    from query_workload import QUERIES

    trace = bool(args.trace)
    work = harness.Workdir(args.workload, args.seed, trace)
    tracer = harness.Tracer(trace)
    eventlog = None
    if trace:
        eventlog = os.path.join(work.artifacts, "eventlog")
        shutil.rmtree(eventlog, ignore_errors=True)
    try:
        with harness.MemSampler() as rss:
            t = time.perf_counter()
            with tracer.span("setup.session"):
                spark = harness.start_spark(work, eventlog)
            session_s = time.perf_counter() - t
            try:
                res = workload.run(spark, args, work, tracer)
            finally:
                _stop(spark)
    finally:
        work.cleanup()

    res["workload"], res["seed"] = args.workload, args.seed
    setup = res["setup"]
    setup["session_s"] = session_s
    e2e = {
        "throughput_per_s": (res["throughput_per_s"], "1/s"),
        "op_s": (res["op_s"], "s"),
        "pass_s": (res["pass_s"], "s"),
        "setup_s": (session_s + setup["data_s"] + setup["oracle_s"]
                    + setup["warmup_s"], "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    res["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    with open(os.path.join(work.artifacts, "result.json"), "w") as f:
        json.dump(res, f)
    detail = dict(res["detail"], workload=args.workload, seed=args.seed,
                  error_rate=res["failed"] / max(1, res["attempted"]),
                  host_loops_per_s=res["host_loops_per_s"], setup=setup)
    if trace:
        import report

        tracer.dump(os.path.join(work.artifacts, "spans.jsonl"))
        metrics, notes = report.per_layer(work.artifacts, QUERIES)
        detail["per_layer_notes"] = notes
    else:
        metrics = e2e
    print(json.dumps({"detail": detail}))
    print(harness.result_line(res["failed"] == 0, res["attempted"],
                              res["failed"], metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
