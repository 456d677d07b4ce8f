"""Per-query plan-build vs execution profile + py4j round-trip census.

For each query: time the DataFrame CONSTRUCTION (QUERIES[name] call),
then the action (count), warm (second build+run reported). Counts py4j
round trips during the warm build by monkeypatching
ClientServerConnection.send_command, and the Spark jobs the warm build
submits (eager localCheckpoint / probe jobs, which build_s includes)
from statusTracker under a per-query job group. Attribute wall time to
driver plan work vs eager jobs vs executor work before touching
anything.

Usage: python tools/profile_build.py [query ...]  (default: bench list)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TRIPS = {"n": 0}


def install_counter():
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command

    def counted(self, command):
        TRIPS["n"] += 1
        return orig(self, command)

    ClientServerConnection.send_command = counted


def main() -> None:
    from bench import BENCH_QUERIES
    from tsp_spark.queries import QUERIES, _load
    from tsp_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or BENCH_QUERIES
    spark = get_spark("profile_build")
    _load(spark, sf_dir, "events").count()
    install_counter()

    sc = spark.sparkContext
    print(
        f"{'query':28s} {'build_s':>8s} {'exec_s':>8s} {'total':>8s} "
        f"{'trips':>7s} {'jobs':>5s}"
    )
    import gc

    for name in names:
        fn = QUERIES[name]
        # cold pass (warms code paths), not reported
        df = fn(spark, sf_dir)
        df.count()
        gc.collect()
        group = f"profile_build {name}"
        sc.setJobGroup(group, f"warm build of {name}")
        t0 = time.perf_counter()
        n0 = TRIPS["n"]
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        trips = TRIPS["n"] - n0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        t1 = time.perf_counter()
        df.count()
        t_exec = time.perf_counter() - t1
        gc.collect()
        print(
            f"{name:28s} {t_build:8.3f} {t_exec:8.3f} "
            f"{t_build + t_exec:8.3f} {trips:7d} {jobs:5d}"
        )


if __name__ == "__main__":
    main()
