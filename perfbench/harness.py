"""Shared machinery of the benchmark: paths, the Spark session it runs on,
the span tracer, the process-tree RSS sampler and the result line.

Everything the benchmark writes goes under ``perfbench/out/`` inside the
checkout (Spark's local dirs, the JVM and Python temp dirs, crawl state,
traced-run artifacts), so a run never touches the rest of the host.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
OUT = os.path.join(BENCH_DIR, "out")


def engine_available() -> bool:
    """True when the checkout holds the engine package next to the bench."""
    return os.path.isfile(os.path.join(REPO, "pink_spider_spark", "__init__.py"))


def import_paths() -> None:
    """Make the engine and its ``scripts/`` helpers importable."""
    for p in (REPO, os.path.join(REPO, "scripts")):
        if p not in sys.path:
            sys.path.insert(0, p)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Spark driver heap sized from physical RAM: 1/8 of MemTotal, kept
    within [1 GiB, 2 GiB] (the benchmark's inputs are a few MB).  The
    engine's own default (24 GiB) exceeds the RAM of small hosts, so the
    benchmark never relies on it."""
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:
            raise RuntimeError("MemTotal missing from /proc/meminfo")
    return f"{min(2048, max(1024, total_mb // 8))}m"


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workdir:
    """Per-run scratch space under ``perfbench/out/run-<pid>``, removed at
    the end, plus the artifact directory the run leaves for the offline
    report (``report.py``)."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.root = os.path.join(OUT, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.root, "tmp")
        self.state = os.path.join(self.root, "state")
        self.spark_local = os.path.join(self.root, "spark-local")
        for d in (self.tmp, self.state, self.spark_local):
            os.makedirs(d, exist_ok=True)
        self.artifacts = os.path.join(
            OUT, "artifacts", f"{workload}-seed{seed}-trace{int(trace)}")
        os.makedirs(self.artifacts, exist_ok=True)
        # Python temp files (the engine's package zip, crawl scratch) and
        # every process started from here inherit the in-checkout temp dir
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.spark_local

    def cleanup(self) -> None:
        import shutil
        shutil.rmtree(self.root, ignore_errors=True)


def start_spark(work: Workdir, eventlog_dir: str | None = None):
    """The engine's canonical session (``get_spark``) on local[cores],
    with the driver heap sized from /proc/meminfo and all scratch kept
    inside the checkout.  The Spark event log is on only when
    ``eventlog_dir`` is given (the traced run)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    from pink_spider_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": work.spark_local,
        # no /tmp/hsperfdata_* file: the JVM writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + eventlog_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tracer:
    """In-memory spans around the bench's calls into each engine layer:
    name, start, end (epoch seconds), parent span id and the operation
    id shared by every span of one crawl or query pass.  Disabled, it
    records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _proc_mem_bytes(pid: int) -> int:
    """Proportional set size of one process: its resident pages, with
    each page shared among N processes counted 1/N.  Summing plain RSS
    over a tree of forked processes counts the shared pages many times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_mem_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _proc_mem_bytes(pid)
        todo.extend(children.get(pid, ()))
    return total


class MemSampler:
    """Samples the resident memory of the bench's process tree (this
    interpreter, the JVM, the Python workers) every ``period`` seconds
    and keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_mem_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict) -> str:
    """The result record printed as the last stdout line; ``metrics``
    maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
