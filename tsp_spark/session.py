"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with settings that carry to a real cluster:
AQE on (runtime re-plan, skew-join mitigation, partition coalescing),
Arrow for the Pandas-UDF slow path, UTC session time zone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tsp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get or create the session with the defaults below.

    ``SPARK_GRAFT_CPUS`` (cores, default 32) and ``TSP_SPARK_DRIVER_MEM``
    (default 8g) are deployment settings read from the environment; every
    other setting is a constant here. Tuning overrides go through
    ``extra_conf``: it is applied after the defaults and before
    ``getOrCreate``, so when this call creates the session it also sets
    static confs such as ``spark.python.sql.dataFrameDebugging.enabled``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # On local[N] one JVM does everything; shuffle partitions should match
    # cores, not the 200 default. On a real cluster this is overridden by
    # AQE coalescing anyway.
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r14: AQE's coalescing floor sizes partitions by SHUFFLE BYTES,
        # but keyed window chains (CEP islands/timers/frame aggregates)
        # are CPU-bound: ~3 MB of (key, ts, value) rows carry seconds of
        # per-row window work, and the default 1 MB floor coalesced them
        # onto 2 tasks (measured: the 7-pattern stacked materialization
        # ran 2.0 s on 2 of 32 cores; 16k floor -> 3.45 s vs 4.08 s
        # end-to-end). The floor only governs how far SMALL shuffles
        # coalesce — with parallelismFirst (default on) the target is
        # bytes/parallelism when that stays above the floor, so this
        # adapts to the session's core count instead of pinning a
        # partition count, and advisory-sized large shuffles at
        # production scale are unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r14: PySpark 4's DataFrame debugging captures a Python call
        # site (inspect.stack walk + a py4j round trip into
        # PySparkCurrentOrigin) on EVERY DataFrame/Column API call —
        # measured ~5-10% of wall on plan-construction-heavy queries
        # (the 7-pattern compile makes ~3k such calls per run). Off by
        # default here; errors lose only the Python-side call-site
        # enrichment (JVM stack traces are unaffected). Static conf —
        # pass it as "true" in extra_conf to re-enable when debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("TSP_SPARK_DRIVER_MEM", "8g"))
        # r14: Spark's ContextCleaner frees dead shuffle files, broadcast
        # blocks and (local)checkpointed RDDs via WEAK REFERENCES — the
        # driver must run a full GC before anything is reclaimed, and the
        # default periodic-GC interval (30 min) is longer than many whole
        # jobs, so a multi-query session accumulates every dead
        # checkpoint/shuffle until memory pressure forces a GC mid-query
        # (measured: late-session legs of a ~15-min run inflate 2-5×
        # while the same legs standalone match their round-over-round
        # baselines). 2 min bounds the garbage window; a driver full GC
        # on an idle 8 GB heap costs ~100 ms.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
