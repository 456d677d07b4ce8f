"""TSP job benchmark: one workload, one closed-loop client, every output
checked. Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship_service --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with every other request traced and prints the per-layer
metrics. The last line of standard output is one JSON object; progress
goes to standard error. Exits 1 if any output is wrong, 2 on a usage or
checkout error. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()


def _process_age_s() -> float:
    """Seconds since this process was created, so set-up time includes
    interpreter start."""
    import os

    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE0 = _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.harness import (  # noqa: E402
    WORK_ROOT, Job, MemorySampler, closed_loop, cores, emit, fresh_dir, log,
    median, metric, prepare_env, spark_conf, stop_spark, wait_children_gone,
)

from perfbench.workloads import WORKLOADS, Context  # noqa: E402


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args, work: Path, mem: MemorySampler) -> tuple[list[Job], dict]:
    from tsp_spark.session import get_spark

    from perfbench.trace import SparkStatus, Tracer

    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work))
    session_s = time.perf_counter() - t
    tracer = Tracer()
    if args.trace:
        tracer.install()
    wl = WORKLOADS[args.workload](Context(spark, work, args.seed, tracer, cores()))
    try:
        wl.setup()
        setup_s = AGE0 + time.perf_counter() - T0
        log(f"{args.workload}: set up in {setup_s:.3f} s (session {session_s:.3f} s)")

        def one(i: int) -> Job:
            # in a traced run, every other request runs traced so the
            # untraced ones measure what tracing costs
            tracer.enabled = bool(args.trace) and i % 2 == 0
            t0 = time.perf_counter()
            try:
                job = wl.run_one(i)
            except Exception as e:  # noqa: BLE001 — a failed request is a result
                job = Job(time.perf_counter() - t0, 0, False, detail=f"{type(e).__name__}: {e}")
            finally:
                tracer.enabled = False
            log(f"request {i + 1}: {job.latency_s:.3f} s{' traced' if job.traced else ''}")
            return job

        jobs = closed_loop(
            args.seconds, one, min_jobs=max(wl.MIN_REQUESTS, 2 if args.trace else 1)
        )
        peak_mb = mem.peak_mb
        log("peak PSS parts: " + ", ".join(
            f"{c}:{kb // 1024}" for kb, c in sorted(mem.peak_parts.values(), reverse=True)))
        for i, job in enumerate(jobs):
            if job.ok:
                job.detail = wl.check(job)
                job.ok = not job.detail
            if not job.ok:
                log(f"request {i + 1} WRONG: {job.detail}")

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "latency_p50_s": median(wl.latency_samples(jobs)),
                "rows_per_s": median(j.rows_in / j.latency_s for j in jobs),
                "peak_pss_mb": peak_mb,
            }
            return jobs, {k: metric(values[k], u) for k, u in metric_units("end_to_end").items()}

        status = SparkStatus(spark)
        groups = status.jobs_by_group()
        traced = [j for j in jobs if j.traced and j.ok]
        rows = [wl.layers(j, status, groups) for j in traced]
        units = metric_units("per_layer")
        values = {k: median(r[k] for r in rows if k in r) for k in units}
        values["session.start_s"] = session_s
        untraced = [j.latency_s for j in jobs if not j.traced and j.ok]
        if traced and untraced:
            values["trace.overhead_frac"] = (
                median(j.latency_s for j in traced) / median(untraced) - 1.0
            )
        tracer.write(ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.jsonl")
        return jobs, {k: metric(values[k], u) for k, u in units.items()}
    finally:
        wl.close()
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "tsp_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no tsp_spark package in {ROOT}; run from a checkout "
            "of the repository",
            file=sys.stderr,
        )
        return 2
    work = fresh_dir(WORK_ROOT / f"{args.workload}-{args.seed}")
    prepare_env(work)
    try:
        with MemorySampler() as mem:
            jobs, metrics = run(args, work, mem)
    finally:
        wait_children_gone()
        shutil.rmtree(work, ignore_errors=True)
        if WORK_ROOT.is_dir() and not any(WORK_ROOT.iterdir()):
            WORK_ROOT.rmdir()
    failed = sum(1 for j in jobs if not j.ok)
    log(f"fail_frac {failed}/{len(jobs)}")
    for name, m in metrics.items():
        log(f"{name:28s} {m['value']:.6g} {m['unit']}")
    emit(failed == 0, len(jobs), failed, metrics)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
