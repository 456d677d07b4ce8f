"""Process-level plumbing shared by every workload: the environment a
run starts Spark in, its scratch directory, the peak-memory sampler, the
closed-loop timer and the final JSON line.

Everything a run writes goes under ``<checkout>/.perfbench_work`` and
is removed when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every temp and scratch location of Spark, the JVM and the
    Python workers into the run's own directory. Must run before the
    JVM starts."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["TSP_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, the launcher spark-submit starts first included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: peak memory then measures what the
        # code controls (Python driver and workers, JVM native memory)
        # rather than how far G1 chose to grow the heap, which follows
        # GC time and so the host's load
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        # one closed-loop run submits at most a few hundred Spark jobs;
        # keep all of them for the traced read-out
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall through to a hard kill
            proc.kill()
            proc.wait(timeout=30)


# -- process tree ------------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        out[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes are split
    among them, so forked Python workers, and a JVM child caught between
    fork and exec, are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class MemorySampler:
    """Peak of the summed PSS of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: dict[int, tuple[int, str]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = {p: _pss_kb(p) for p in [me, *descendants(me)]}
            total = sum(sizes.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_parts = {p: (kb, _comm(p)) for p, kb in sizes.items()}
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_children_gone(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has exited; kill any
    left at the deadline."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants(os.getpid()):
            return
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- one run's record ----------------------------------------------------

@dataclass
class Job:
    """One timed unit of work and what its check found."""

    latency_s: float
    rows_in: int
    ok: bool
    traced: bool = False
    detail: str = ""
    extra: dict = field(default_factory=dict)


def closed_loop(seconds: float, run_one, min_jobs: int = 1) -> list[Job]:
    """One client, next request only after the previous one completed.
    Requests start while the window is open (and until ``min_jobs``
    ran); the one in flight at the deadline completes and counts."""
    jobs: list[Job] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(jobs) < min_jobs:
        jobs.append(run_one(len(jobs)))
    return jobs


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
