"""Tracing from outside the program.

``Tracer`` replaces the public functions each layer exposes with
wrappers that record a span (name, start, end, parent, request id and
the py4j round trips made on the calling thread) while tracing is
enabled; nothing inside ``tsp_spark`` changes. ``SparkStatus`` reads
what Spark's own status store recorded for each job group, which the
service sets to the job uuid and a streaming query to its run id.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _py4j(self) -> int:
        return getattr(self._tls, "py4j", 0)

    @contextmanager
    def request(self, rid: str):
        """Tag every span opened on this thread with ``rid``."""
        prev = getattr(self._tls, "request", None)
        self._tls.request = rid
        try:
            yield
        finally:
            self._tls.request = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "parent_name": stack[-1]["name"] if stack else None,
            "request": getattr(self._tls, "request", None),
            "start": time.time(),
            **attrs,
        }
        py4j0 = self._py4j()
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = self._py4j() - py4j0
            with self._lock:
                self.spans.append(rec)

    # -- wrappers --------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap each layer's public entry points (call once, before the
        timed work)."""
        from py4j.clientserver import ClientServerConnection
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        import tsp_spark.api
        import tsp_spark.dsl.parser
        import tsp_spark.service
        from tsp_spark.compile.compiler import PatternCompiler

        send = ClientServerConnection.send_command
        tls = self._tls

        def counted(conn, command):
            tls.py4j = getattr(tls, "py4j", 0) + 1
            return send(conn, command)

        ClientServerConnection.send_command = counted

        # parse_pattern is bound by name in several modules; wrap each
        parse = tsp_spark.dsl.parser.parse_pattern
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("tsp_spark") and (
                getattr(mod, "parse_pattern", None) is parse
            ):
                self._wrap(mod, "parse_pattern", "dsl.parse")
        for meth in (
            "compile_intervals", "compile_intervals_multi", "compile_bool",
            "with_series",
        ):
            self._wrap(PatternCompiler, meth, f"compile.{meth}")
        self._wrap(tsp_spark.service, "search_incidents", "api.build")
        self._wrap(tsp_spark.api, "_cached_auto_shard", "api.probe")
        self._wrap(DataFrameReader, "parquet", "io.source")
        self._wrap(DataFrameWriter, "parquet", "io.sink")
        self._wrap(DataFrame, "count", "df.count")

    # -- read-out --------------------------------------------------------
    def of_request(self, rid: str) -> list[dict]:
        return [s for s in self.spans if s["request"] == rid]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def layer_self_time(spans: list[dict], prefix: str) -> float:
    """Time in spans named ``prefix*`` whose parent is not one of them,
    so a nested call is not counted twice."""
    return sum(
        s["end"] - s["start"]
        for s in spans
        if s["name"].startswith(prefix)
        and not (s["parent_name"] or "").startswith(prefix)
    )


class SparkStatus:
    """Spark's AppStatusStore, read through py4j after the timed work:
    jobs by group, and per completed stage its task, time, GC, shuffle
    and input counters."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._gw = spark.sparkContext._gateway
        self._stages: dict[int, dict] | None = None

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            if group.isEmpty():
                continue
            sub = j.submissionTime()
            ids = j.stageIds()
            out.setdefault(group.get(), []).append(
                {
                    "job_id": j.jobId(),
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    "stage_ids": [ids.apply(k) for k in range(ids.size())],
                }
            )
        return out

    def _all_stages(self) -> dict[int, dict]:
        if self._stages is None:
            gw = self._gw
            stages = self._store.stageList(
                None, False, False, gw.new_array(gw.jvm.double, 0),
                gw.jvm.java.util.ArrayList(),
            )
            self._stages = {}
            for i in range(stages.size()):
                s = stages.apply(i)
                if s.status().toString() != "COMPLETE":
                    continue
                self._stages[s.stageId()] = {
                    "stage_id": s.stageId(),
                    "attempt": s.attemptId(),
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "input_records": s.inputRecords(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                }
        return self._stages

    def _skew(self, stage: dict) -> float:
        gw = self._gw
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage["stage_id"], stage["attempt"], q)
        if summary.isEmpty():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def summarize(self, jobs: list[dict], wall_s: float, cores: int) -> dict:
        """The spark.* layer numbers of one request from its jobs."""
        all_stages = self._all_stages()
        stage_ids = {sid for j in jobs for sid in j["stage_ids"]}
        stages = [all_stages[sid] for sid in sorted(stage_ids) if sid in all_stages]
        run_s = sum(s["run_ms"] for s in stages) / 1e3
        longest = max(stages, key=lambda s: s["run_ms"], default=None)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
            "spark.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
            "spark.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.task_skew": self._skew(longest) if longest else 1.0,
            "io.rows_read": sum(s["input_records"] for s in stages),
        }


def jobs_within(jobs: list[dict], spans: list[dict], name: str) -> int:
    """Spark jobs submitted while a span called ``name`` was open."""
    windows = [(s["start"], s["end"]) for s in spans if s["name"] == name]
    return sum(
        1 for j in jobs if any(a - 0.001 <= j["submitted"] <= b + 0.001 for a, b in windows)
    )
