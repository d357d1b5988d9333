"""Per-layer metrics, folded from a traced run's saved artifacts.

A traced run (``run.py --trace 1``) leaves, in
``perfbench/out/artifacts/<workload>-seed<n>-trace1/``:

- ``result.json``: the run's records (every committed wave's stats, wall
  time and checkpoints, per-query times, layer probes, set-up parts);
- ``spans.jsonl``: the bench's spans around its calls into each layer;
- ``eventlog/``: the Spark event log of the run's session.

``per_layer(artifact_dir, query_names)`` turns them into the metrics in
``BENCHMARK.json``; no Spark session is needed, so the numbers can be
regenerated and diffed later:

    python3 perfbench/report.py perfbench/out/artifacts/crawl_bulk-seed1-trace1

A layer the workload does not run reports 0 and is listed under "not
exercised" in the printed report.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

STAGES = ("dequeue", "entries_write", "entries_merge", "table_writes",
          "checkpoint")
# a wave whose unaccounted share of its wall time exceeds this is flagged
UNACCOUNTED_FLAG = 0.10


def _crawl_layers(res: dict) -> tuple:
    """Wave-stage seconds summed from each committed checkpoint's
    ``stage_secs`` plus the unaccounted rest of the run_wave wall time,
    and the wave counts; with notes on stage-second conservation."""
    waves = [w for c in res.get("crawls", []) for w in c["waves"]]
    totals = dict.fromkeys(STAGES, 0.0)
    wall = 0.0
    flagged = overcounted = 0
    for w in waves:
        ticks = {k: float(v) for k, v in
                 w["after"]["counters"].get("stage_secs", {}).items()}
        for s in STAGES:
            totals[s] += ticks.get(s, 0.0)
        unacc = w["wall"] - sum(ticks.values())
        # ticks are rounded to ms, so allow a few ms of slack
        overcounted += unacc < -0.005 * (1 + len(ticks))
        flagged += unacc > UNACCOUNTED_FLAG * w["wall"]
        wall += w["wall"]
    m = {f"crawl.stage.{s}_s": (totals[s], "s") for s in STAGES}
    unaccounted = wall - sum(totals.values())
    m["crawl.stage.unaccounted_s"] = (unaccounted, "s")
    m["crawl.stage.unaccounted_share"] = (
        unaccounted / wall if wall else 0.0, "ratio")
    m["crawl.stage.flagged_waves"] = (flagged, "count")
    m["crawl.stage.overcounted_waves"] = (overcounted, "count")
    stats = [w["stats"] for w in waves]
    m["crawl.urls_dequeued"] = (sum(s["batch"] for s in stats), "count")
    m["crawl.fetched"] = (sum(s["fetched"] for s in stats), "count")
    m["crawl.missing"] = (sum(s["missing"] for s in stats), "count")
    m["crawl.links_found"] = (sum(
        w["after"]["counters"]["frontier_estimate"]
        - w["before"]["counters"]["frontier_estimate"] for w in waves),
        "count")
    m["crawl.waves"] = (len(waves), "count")
    notes = {}
    if waves:
        share = m["crawl.stage.unaccounted_share"][0]
        notes["crawl.stage"] = (
            f"stage ticks + unaccounted = {wall:.3f} s of run_wave wall; "
            f"unaccounted {100 * share:.1f}% "
            f"({'FLAGGED, over' if share > UNACCOUNTED_FLAG else 'within'} "
            f"{100 * UNACCOUNTED_FLAG:.0f}%); {flagged} wave(s) over "
            f"{100 * UNACCOUNTED_FLAG:.0f}%, {overcounted} wave(s) whose "
            "ticks exceed their wall time.  The checkpoint tick is taken "
            "before commit_checkpoint runs, so commit time lands in "
            "unaccounted_s.")
    return m, notes


def _probe_layers(res: dict) -> dict:
    p = res.get("probes") or {}
    ex = p.get("extract")
    m = {}
    if ex:
        n = ex["pages"]
        per_core = n / ex["extract_s"]
        udf = n / ex["udf_s"]
        m["extract.parse_ms_per_page"] = (1e3 * ex["parse_s"] / n, "ms")
        m["extract.total_ms_per_page"] = (1e3 * ex["extract_s"] / n, "ms")
        m["extract.post_parse_share"] = (
            1 - ex["parse_s"] / ex["extract_s"], "ratio")
        m["extract.pages_per_s_core"] = (per_core, "1/s")
        m["functions.udfs.extract_pages_per_s"] = (udf, "1/s")
        m["functions.udfs.overhead_share"] = (
            1 - udf / (per_core * ex["cores"]), "ratio")
    else:
        for k, u in (("extract.parse_ms_per_page", "ms"),
                     ("extract.total_ms_per_page", "ms"),
                     ("extract.post_parse_share", "ratio"),
                     ("extract.pages_per_s_core", "1/s"),
                     ("functions.udfs.extract_pages_per_s", "1/s"),
                     ("functions.udfs.overhead_share", "ratio")):
            m[k] = (0.0, u)
    b = p.get("bloom") or {"build_s": 0.0, "candidates": 0, "suspects": 0,
                           "present": 0}
    absent = b["candidates"] - b["present"]
    m["crawl.bloom.build_s"] = (b["build_s"], "s")
    m["crawl.bloom.candidates"] = (b["candidates"], "count")
    m["crawl.bloom.negative_share"] = (
        1 - b["suspects"] / b["candidates"] if b["candidates"] else 0.0,
        "ratio")
    m["crawl.bloom.observed_fpp"] = (
        (b["suspects"] - b["present"]) / absent if absent else 0.0, "ratio")
    t = p.get("tables") or {"bytes": 0, "files": 0, "urls": 0}
    m["sources.tables.bytes_written"] = (t["bytes"], "bytes")
    m["sources.tables.files_written"] = (t["files"], "count")
    m["sources.tables.bytes_per_url"] = (
        t["bytes"] / t["urls"] if t["urls"] else 0.0, "bytes")
    return m


def _eventlog(path: str) -> list:
    """Every event of the run's (uncompressed, unrolled) Spark event log;
    a log still marked ``.inprogress`` is read as it is."""
    events = []
    for f in glob.glob(os.path.join(path, "local-*")):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _within(t_ms: float, spans: list) -> bool:
    return any(s["start"] * 1e3 <= t_ms <= s["end"] * 1e3 for s in spans)


def _spark_layers(events: list, spans: list) -> dict:
    """Jobs are attributed to the timed loop's spans by submission time;
    task metrics count only stages of those jobs."""
    timed = [s for s in spans if s["name"] in ("crawl", "queries.pass")]
    waves = [s for s in spans if s["name"] == "crawl.driver.run_wave"
             and not s.get("done")]
    timed_stages: set = set()
    jobs = wave_jobs = 0
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        t = e["Submission Time"]
        if _within(t, timed):
            jobs += 1
            timed_stages.update(e["Stage IDs"])
        wave_jobs += _within(t, waves)
    task_ms = gc_ms = spill = rd = wr = 0
    per_stage: dict = {}
    for e in events:
        if (e.get("Event") != "SparkListenerTaskEnd"
                or e["Stage ID"] not in timed_stages):
            continue
        tm = e.get("Task Metrics") or {}
        task_ms += tm.get("Executor Run Time", 0)
        gc_ms += tm.get("JVM GC Time", 0)
        spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics", {})
        rd += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        wr += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        info = e["Task Info"]
        per_stage.setdefault(e["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"])
    skew = 0.0
    for durs in per_stage.values():
        mid = statistics.median(durs)
        if len(durs) > 1 and mid > 0:
            skew = max(skew, max(durs) / mid)
    return {
        "spark.jobs": (jobs, "count"),
        "spark.jobs_per_wave": (wave_jobs / len(waves) if waves else 0.0,
                                "count"),
        "spark.task_s": (task_ms / 1e3, "s"),
        "spark.shuffle_read_bytes": (rd, "bytes"),
        "spark.shuffle_write_bytes": (wr, "bytes"),
        "spark.spill_bytes": (spill, "bytes"),
        "spark.gc_s": (gc_ms / 1e3, "s"),
        "spark.task_skew": (skew, "ratio"),
    }


def _overhead(artifact_dir: str, res: dict):
    """Traced vs untraced end-to-end throughput of the same workload,
    from the untraced runs saved beside this one (same seed preferred)."""
    base = os.path.dirname(os.path.abspath(artifact_dir))
    wl = res["workload"]
    same = os.path.join(base, f"{wl}-seed{res['seed']}-trace0", "result.json")
    paths = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(base, f"{wl}-seed*-trace0", "result.json")))
    vals = []
    for p in paths:
        with open(p) as f:
            vals.append(json.load(f)["end_to_end"]["throughput_per_s"])
    if not vals:
        return 0.0, "no untraced run of this workload saved beside it"
    return 1 - res["end_to_end"]["throughput_per_s"] / statistics.median(
        vals), None


def per_layer(artifact_dir: str, query_names) -> tuple:
    """(metrics name -> (value, unit), notes) for one traced run."""
    with open(os.path.join(artifact_dir, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(artifact_dir, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    setup = res["setup"]
    m = {f"setup.{k}": (setup[k], "s")
         for k in ("session_s", "data_s", "oracle_s", "warmup_s")}
    crawl, notes = _crawl_layers(res)
    m.update(crawl)
    m.update(_probe_layers(res))
    m.update(_spark_layers(_eventlog(os.path.join(artifact_dir, "eventlog")),
                           spans))
    per_q = res.get("per_query_s", {})
    for n in query_names:
        m[f"queries.{n}_s"] = (per_q.get(n, 0.0), "s")
    m["host.loops_per_s"] = (res["host_loops_per_s"], "1/s")
    share, why = _overhead(artifact_dir, res)
    m["trace.overhead_share"] = (share, "ratio")
    if why:
        notes["trace.overhead_share"] = why
    if not res.get("crawls"):
        notes["crawl.*, extract.*, functions.udfs.*, sources.tables.*"] = (
            "not exercised: this workload runs no crawl")
    if not per_q:
        notes["queries.*"] = "not exercised: this workload runs no query"
    return m, notes


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from query_workload import QUERIES

    metrics, notes = per_layer(argv[1], QUERIES)
    for name, (value, unit) in metrics.items():
        print(f"{name:45s} {value:>16.6g} {unit}")
    for k, v in notes.items():
        print(f"# {k}: {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
