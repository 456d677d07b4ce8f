"""The workloads: each drives the engine through a public entry point
the way its users do, times one unit of work per request, and checks
every output after the timed window."""

from __future__ import annotations

import json
import threading
import time
import urllib.request
import uuid as uuidlib
from pathlib import Path

import numpy as np

from perfbench import inputs, oracles
from perfbench.harness import Job, log, median
from perfbench.trace import SparkStatus, Tracer, jobs_within, layer_self_time, total

POLL_S = 0.02


class Context:
    def __init__(self, spark, work: Path, seed: int, tracer: Tracer, cores: int):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.cores = cores


class Workload:
    """``setup`` makes the inputs and runs one untimed warm-up request,
    ``run_one`` times one request, ``check`` compares one request's
    output with an independent computation (returning what differed),
    and ``layers`` gives the per-layer numbers of one traced request."""

    # requests a run makes even when they outlast the window
    MIN_REQUESTS = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def run_one(self, i: int) -> Job:
        raise NotImplementedError

    def check(self, job: Job) -> str:
        raise NotImplementedError

    def layers(self, job: Job, status: SparkStatus, groups: dict) -> dict:
        raise NotImplementedError

    def latency_samples(self, jobs: list[Job]) -> list[float]:
        """What ``latency_p50_s`` is the median of."""
        return [j.latency_s for j in jobs]

    def close(self) -> None:
        pass


# -- REST flagship job -------------------------------------------------------

FLAGSHIP_PATTERNS = [
    # q_cep_incidents_wide's seven patterns, verbatim
    (1, "value > 100"),
    (2, "value > 60 for 12 hr"),
    (3, "value > 150 andThen event_type = 'error'"),
    (4, "value > 80 for 48 hr > 2 times"),
    (5, "wait(48 hr, value > 150)"),
    (6, "avg(value, 6 hr) > 100.3"),
    (7, "lag(value) > 120"),
]


class FlagshipService(Workload):
    """The seven-pattern flagship job submitted over localhost HTTP to
    the job-queue service and polled until finished, each job over its
    own small events file into its own parquet sink: heavy on parse,
    compile and plan build, light on data."""

    ROWS, USERS, DAYS = 5_000, 50, 30
    MIN_REQUESTS = 2

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.entered: dict[str, float] = {}
        self.exited: dict[str, float] = {}

    def setup(self) -> None:
        from wsgiref.simple_server import WSGIRequestHandler, make_server

        from tsp_spark.queries import GAP_MS, ORACLES
        from tsp_spark.service import JobQueueService, make_spark_runner, make_wsgi_app

        self.oracle = ORACLES["cep_incidents_multi"]
        self.source = {
            "partitionFields": ["user_id"],
            "datetimeField": "ts",
            "eventsMaxGapMs": GAP_MS,
            "defaultEventsGapMs": 2_000,
        }
        runner = make_spark_runner(self.ctx.spark)
        tracer = self.ctx.tracer

        def timed_runner(request: dict):
            uid = request["uuid"]
            self.entered[uid] = time.time()
            try:
                with tracer.request(uid), tracer.span("service.run"):
                    return runner(request)
            finally:
                self.exited[uid] = time.time()

        timed_runner.cancel = runner.cancel

        class Quiet(WSGIRequestHandler):
            def log_message(self, *args):
                pass

        self.service = JobQueueService(timed_runner)
        self.httpd = make_server(
            "127.0.0.1", 0, make_wsgi_app(self.service), handler_class=Quiet
        )
        self.server = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.server.start()
        self.base = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.run_one(-1)  # warm-up, untimed

    def close(self) -> None:
        if not hasattr(self, "httpd"):
            return
        self.service.shutdown()
        self.httpd.shutdown()
        self.httpd.server_close()
        self.server.join(timeout=10)

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        req = urllib.request.Request(
            self.base + path,
            data=None if body is None else json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method=method,
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def run_one(self, i: int) -> Job:
        src = self.ctx.work / "src" / f"job{i + 1}"
        sink = self.ctx.work / "sink" / f"job{i + 1}"
        inputs.write_events(src, self.ctx.rng, self.ROWS, self.USERS, self.DAYS)
        uid = str(uuidlib.uuid4())
        request = {
            "uuid": uid,
            "source": {"parquetPath": str(src), **self.source},
            "patterns": [{"id": p, "sourceCode": s} for p, s in FLAGSHIP_PATTERNS],
            "sinks": [{"parquetPath": str(sink)}],
        }
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        with tracer.request(uid), tracer.span("service.submit"):
            self._call("POST", "/job/submit", request)
        submitted = time.time()
        while True:
            status = self._call("GET", f"/job/{uid}/status")
            if status["status"] in ("finished", "failed", "stopped"):
                break
            time.sleep(POLL_S)
        latency = time.perf_counter() - t0
        seen = time.time()
        ok = status["status"] == "finished"
        return Job(
            latency, self.ROWS, ok, traced=tracer.enabled,
            detail="" if ok else status.get("error", status["status"]),
            extra={"uid": uid, "src": src, "sink": sink, "submitted": submitted,
                   "seen": seen, "rows_written": status.get("rowsWritten", 0)},
        )

    def check(self, job: Job) -> str:
        return oracles.check_incidents(
            job.extra["sink"], job.extra["src"] / "part-0.parquet", self.oracle
        )

    def layers(self, job: Job, status: SparkStatus, groups: dict) -> dict:
        uid = job.extra["uid"]
        spans = self.ctx.tracer.of_request(uid)
        jobs = groups.get(uid, [])
        build = [s for s in spans if s["name"] == "api.build"]
        out = {
            "service.submit_s": total(spans, "service.submit"),
            "service.queue_wait_s": self.entered[uid] - job.extra["submitted"],
            "service.finish_lag_s": job.extra["seen"] - self.exited[uid],
            "dsl.parse_s": total(spans, "dsl.parse"),
            "dsl.parse_calls": sum(1 for s in spans if s["name"] == "dsl.parse"),
            "compile.build_s": layer_self_time(spans, "compile."),
            "api.build_s": total(spans, "api.build"),
            "api.build_py4j_calls": sum(s["py4j"] for s in build),
            "api.build_spark_jobs": jobs_within(jobs, spans, "api.build"),
            "api.probe_s": total(spans, "api.probe"),
            "io.sink_s": total(spans, "io.sink"),
            "io.post_write_count_s": sum(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == "df.count" and s["parent_name"] == "service.run"
            ),
            "io.rows_written": job.extra["rows_written"],
        }
        out.update(status.summarize(jobs, job.latency_s, self.ctx.cores))
        return out


# -- stateful stream ---------------------------------------------------------

STREAM_PATTERNS = [
    (1, "value > 150 for 30 sec"),
    (2, "value > 100 for 60 sec > 45 times"),
    (3, "avg(value, 10 sec) > 130"),
    (4, "lag(value) > 150"),
]


class StreamStateful(Workload):
    """``stateful_incidents`` over a backlogged parquet file source, one
    file per micro-batch, into a parquet file sink. Each request drains
    the whole backlog with a fresh checkpoint; the next batch starts
    when the previous one ends."""

    # more, smaller batches give the batch-latency median more samples;
    # a batch's cost is mostly fixed, so this adds little drain time
    USERS, FILES, SECONDS_PER_FILE = 100, 4, 500
    WARM_SECONDS = 100

    def _backlog(self, path: Path, files: int, seconds_per_file: int) -> int:
        """Write ``files`` chronological files, then a far-future row per
        key that closes every open run and window; return the row count."""
        import pandas as pd

        rows = inputs.sensor_rows(self.ctx.rng, self.USERS, files * seconds_per_file)
        flush = pd.DataFrame(
            {
                "user_id": np.arange(self.USERS, dtype=np.int64),
                "ts": (rows["ts"].max() + pd.Timedelta(days=12)).as_unit("us"),
                "value": np.zeros(self.USERS),
            }
        )
        cuts = np.linspace(0, len(rows), files + 1).astype(int)
        for d in range(files):
            inputs.write_frame(path / f"b{d:03d}", rows.iloc[cuts[d]:cuts[d + 1]])
        inputs.write_frame(path / f"b{files:03d}", flush)
        return len(rows) + len(flush)

    def setup(self) -> None:
        from tsp_spark.api import RawPattern
        from tsp_spark.streaming.job import StreamingPatternJob

        spark = self.ctx.spark
        self.src = self.ctx.work / "src"
        self.rows = self._backlog(self.src, self.FILES, self.SECONDS_PER_FILE)
        warm = self.ctx.work / "warm"
        self._backlog(warm, 1, self.WARM_SECONDS)
        self.patterns = [RawPattern(p, s) for p, s in STREAM_PATTERNS]
        self.fields = {"value": "float64"}
        self.job = StreamingPatternJob(
            self.patterns, ["user_id"], "ts", fields_types=self.fields,
            watermark_delay="5 seconds",
        )
        self.schema = spark.read.parquet(str(self.src / "*")).schema
        self.want: set | None = None
        self._drain(warm, "warm")  # warm-up, untimed

    def run_one(self, i: int) -> Job:
        job = self._drain(self.src, f"q{i + 1}")
        log("  batches: " + " ".join(f"{x:.3f}" for x in self.latency_samples([job])))
        return job

    def _drain(self, src: Path, tag: str) -> Job:
        from tsp_spark.streaming.job import stateful_incidents

        spark, tracer = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        with tracer.request(tag), tracer.span("streaming.build"):
            incidents = stateful_incidents(stream, self.job)
        sink = self.ctx.work / "sink" / tag
        query = (
            incidents.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(self.ctx.work / "chk" / tag))
            .outputMode("append")
            .start()
        )
        try:
            query.processAllAvailable()
            latency = time.perf_counter() - t0
            progress = [json.loads(p.json) for p in query.recentProgress]
        finally:
            query.stop()
        return Job(
            latency, self.rows, True, traced=tracer.enabled,
            extra={"tag": tag, "run_id": str(query.runId), "sink": sink,
                   "progress": progress},
        )

    def batches(self, job: Job) -> list[dict]:
        return [p for p in job.extra["progress"] if p["numInputRows"] > 0]

    def latency_samples(self, jobs: list[Job]) -> list[float]:
        """Micro-batch latencies: ``triggerExecution`` of every data batch."""
        return [
            p["durationMs"]["triggerExecution"] / 1e3
            for j in jobs
            for p in self.batches(j)
        ]

    def _incidents(self, df) -> set:
        from pyspark.sql import functions as F

        return {
            tuple(r)
            for r in df.select(
                "pattern_id", "user_id",
                F.unix_millis("from_ts"), F.unix_millis("to_ts"),
            ).collect()
        }

    def check(self, job: Job) -> str:
        from tsp_spark.api import search_incidents
        from tsp_spark.ops.sessionize import sessionize_intervals

        spark = self.ctx.spark
        if self.want is None:
            # the batch engine over the same rows, computed once
            self.want = self._incidents(
                search_incidents(
                    spark.read.parquet(str(self.src / "*")), self.patterns,
                    ["user_id"], "ts", fields_types=self.fields,
                )
            )
        emitted = spark.read.parquet(str(job.extra["sink"]))
        job.extra["emitted_rows"] = emitted.count()
        merged = sessionize_intervals(
            emitted, ["pattern_id", "subunit", "user_id"], gap_ms=2_000
        )
        got = self._incidents(merged)
        if not self.want:
            return "batch reference found no incidents: the input exercises nothing"
        if got != self.want:
            return (
                f"stream {len(got)} incidents, batch {len(self.want)}, "
                f"missing {len(self.want - got)}, extra {len(got - self.want)}"
            )
        return ""

    def layers(self, job: Job, status: SparkStatus, groups: dict) -> dict:
        batches = self.batches(job)

        def med(key: str) -> float:
            return median(p["durationMs"].get(key, 0) for p in batches) / 1e3

        states = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
        spans = self.ctx.tracer.of_request(job.extra["tag"])
        out = {
            "streaming.build_s": total(spans, "streaming.build"),
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.planning_s": med("queryPlanning"),
            "streaming.commit_s": median(
                p["durationMs"].get("commitOffsets", 0)
                + p["durationMs"].get("walCommit", 0)
                for p in batches
            ) / 1e3,
            "streaming.state_rows": max(s["numRowsTotal"] for s in states),
            "streaming.state_mb": max(s["memoryUsedBytes"] for s in states) / 1e6,
            "streaming.emitted_rows": job.extra["emitted_rows"],
            "dsl.parse_s": total(spans, "dsl.parse"),
            "dsl.parse_calls": sum(1 for s in spans if s["name"] == "dsl.parse"),
            "compile.build_s": layer_self_time(spans, "compile."),
            "io.rows_written": job.extra["emitted_rows"],
        }
        out.update(
            status.summarize(groups.get(job.extra["run_id"], []), job.latency_s, self.ctx.cores)
        )
        return out


# -- near-dup pipeline -------------------------------------------------------

# text_fingerprint is left out: its cold start alone (~17 s) would not
# fit the time budget of a run (see README.md)
NEARDUP_OPS = ("dedup_simhash", "dedup_jaccard", "dedup_minhash_lsh")


class NeardupDocs(Workload):
    """The near-dup operators over a seeded document table, called
    through ``tsp_spark.queries.QUERIES``, each result written to
    parquet. One request runs all three operators."""

    DOCS = 500
    MIN_REQUESTS = 2

    def setup(self) -> None:
        from tsp_spark.queries import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.docs_dir = self.ctx.work / "docs"
        inputs.write_documents(self.docs_dir, self.ctx.rng, self.DOCS)
        self.run_one(-1)  # warm-up, untimed

    def run_one(self, i: int) -> Job:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        sc = spark.sparkContext
        uid = str(uuidlib.uuid4())
        out = self.ctx.work / "sink" / f"job{i + 1}"
        sc.setJobGroup(uid, f"perfbench neardup {i + 1}")
        t0 = time.perf_counter()
        try:
            with tracer.request(uid):
                for op in NEARDUP_OPS:
                    with tracer.span("pipeline.build", op=op):
                        df = self.queries[op](spark, str(self.docs_dir))
                    df.write.parquet(str(out / op))
                    log(f"  {op}: {time.perf_counter() - t0:.3f} s")
            latency = time.perf_counter() - t0
        finally:
            sc.setJobGroup("", "")
        return Job(latency, self.DOCS, True, traced=tracer.enabled,
                   extra={"uid": uid, "out": out})

    def check(self, job: Job) -> str:
        docs = self.docs_dir / "documents.parquet"
        problems = []
        rows = 0
        for op in NEARDUP_OPS:
            diff = oracles.check_table(job.extra["out"] / op, docs, self.oracles[op])
            if diff:
                problems.append(f"{op}: {diff}")
            rows += oracles.row_count(job.extra["out"] / op)
        job.extra["rows_written"] = rows
        return "; ".join(problems)

    def layers(self, job: Job, status: SparkStatus, groups: dict) -> dict:
        uid = job.extra["uid"]
        spans = self.ctx.tracer.of_request(uid)
        jobs = groups.get(uid, [])
        out = {
            "pipeline.build_s": total(spans, "pipeline.build"),
            "pipeline.build_spark_jobs": jobs_within(jobs, spans, "pipeline.build"),
            "io.sink_s": total(spans, "io.sink"),
            "io.rows_written": job.extra["rows_written"],
        }
        out.update(status.summarize(jobs, job.latency_s, self.ctx.cores))
        return out


WORKLOADS = {
    "flagship_service": FlagshipService,
    "stream_stateful": StreamStateful,
    "neardup_docs": NeardupDocs,
}
