"""Job queue REST service tests — full lifecycle through the WSGI app."""

from __future__ import annotations

import io
import json
import time

from tsp_spark.service import (
    JobQueueService,
    make_spark_runner,
    make_wsgi_app,
    validate_patterns,
)


def wsgi_call(app, method, path, body=None):
    payload = json.dumps(body or {}).encode()
    status_headers = {}

    def start_response(code, headers):
        status_headers["code"] = code

    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "CONTENT_LENGTH": str(len(payload)),
        "wsgi.input": io.BytesIO(payload),
    }
    out = b"".join(app(environ, start_response))
    return status_headers["code"], json.loads(out)


def test_validate_patterns():
    fields = {"speed": "float64", "mode": "string"}
    res = validate_patterns(
        [
            {"id": 1, "sourceCode": "speed > 10 for 5 sec"},
            {"id": 2, "sourceCode": "speed >>>> nonsense"},
        ],
        fields,
    )
    assert res[0]["success"] is True
    assert res[1]["success"] is False and res[1]["error"]


def test_job_lifecycle(spark, events_small, tmp_path):
    src = tmp_path / "events"
    events_small.write.parquet(str(src))
    service = JobQueueService(make_spark_runner(spark), dequeue_interval_s=0.05)
    app = make_wsgi_app(service, fields_types={"value": "float64"})

    code, resp = wsgi_call(
        app,
        "POST",
        "/job/submit",
        {
            "uuid": "j1",
            "source": {
                "parquetPath": str(src),
                "datetimeField": "ts",
                "partitionFields": ["user_id"],
            },
            "patterns": [{"id": 1, "sourceCode": "value > 150 for 10 sec"}],
        },
    )
    assert code == "200 OK" and resp["uuid"] == "j1"

    deadline = time.time() + 60
    status = None
    while time.time() < deadline:
        code, status = wsgi_call(app, "GET", "/job/j1/status")
        if status.get("status") in ("finished", "failed"):
            break
        time.sleep(0.2)
    assert status["status"] == "finished", status
    assert status["rowsWritten"] > 0
    # r12: the resolved skew decision is surfaced in status — on this
    # tiny source the plan-stats gate declines, so no probe scan ran
    assert status["autoShard"]["mode"] == "auto"
    assert status["autoShard"]["eligible"] is True
    assert status["autoShard"]["probed"] is False
    assert status["autoShard"]["shard_ms"] is None

    code, ov = wsgi_call(app, "GET", "/jobs/overview")
    assert code == "200 OK" and ov[0]["uuid"] == "j1"

    code, rq = wsgi_call(app, "GET", "/job/j1/request")
    assert rq["patterns"][0]["id"] == 1

    code, ver = wsgi_call(app, "GET", "/metainfo/getVersion")
    assert "version" in ver

    # queued job can be removed before it runs
    service2 = JobQueueService(make_spark_runner(spark), dequeue_interval_s=30)
    app2 = make_wsgi_app(service2)
    wsgi_call(app2, "POST", "/job/submit", {"uuid": "j2", "source": {}, "patterns": []})
    code, q = wsgi_call(app2, "GET", "/queue/show")
    assert [j["uuid"] for j in q] == ["j2"]
    code, rm = wsgi_call(app2, "POST", "/queue/j2/remove")
    assert rm["removed"] is True
    code, st = wsgi_call(app2, "GET", "/job/j2/status")
    assert st["status"] == "stopped"
    service.shutdown()
    service2.shutdown()


def test_priority_overtakes_fifo():
    """QueueableRequest priority parity (Request.scala:10-13): a
    higher-priority submit overtakes queued lower-priority jobs; equal
    priorities keep FIFO order."""
    ran: list[str] = []
    service = JobQueueService(lambda req: ran.append(req["uuid"]) or 0,
                              dequeue_interval_s=30)
    try:
        service.submit({"uuid": "lo1", "priority": 0})
        service.submit({"uuid": "lo2", "priority": 0})
        service.submit({"uuid": "hi", "priority": 10})
        service.submit({"uuid": "mid", "priority": 5})
        order = [j["uuid"] for j in service.queue_show()]
        assert order == ["hi", "mid", "lo1", "lo2"]
        assert [j["priority"] for j in service.queue_show()] == [10, 5, 0, 0]
    finally:
        service.shutdown()


def test_priority_run_order():
    """End-to-end: with the worker paced slower than the submits, the
    high-priority job runs before earlier-submitted low-priority ones."""
    ran: list[str] = []
    service = JobQueueService(lambda req: ran.append(req["uuid"]) or 0,
                              dequeue_interval_s=0.2)
    try:
        service.submit({"uuid": "low", "priority": 0})
        service.submit({"uuid": "high", "priority": 1})
        deadline = time.time() + 10
        while len(ran) < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert ran == ["high", "low"]
    finally:
        service.shutdown()


def test_coordinator_notifications():
    """CoordinatorService parity (CoordinatorService.scala:48-120): the
    service POSTs register / jobstarted / jobcompleted JSON to
    /api/tspinteraction/* on a stub WSGI coordinator."""
    import threading
    from wsgiref.simple_server import WSGIServer, make_server

    from tsp_spark.service import CoordinatorClient

    received: list[tuple[str, dict]] = []

    def coord_app(environ, start_response):
        n = int(environ.get("CONTENT_LENGTH") or 0)
        body = json.loads(environ["wsgi.input"].read(n) or b"{}")
        received.append((environ["PATH_INFO"], body))
        start_response("200 OK", [("Content-Type", "application/json")])
        return [b"{}"]

    httpd = make_server("127.0.0.1", 0, coord_app)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        coord = CoordinatorClient(f"http://127.0.0.1:{port}",
                                  register_interval_s=3600)
        service = JobQueueService(lambda req: 7, dequeue_interval_s=0.1,
                                  coordinator=coord)
        service.submit({"uuid": "cj"})
        deadline = time.time() + 10
        while time.time() < deadline:
            paths = [p for p, _ in received]
            if "/api/tspinteraction/jobcompleted" in paths:
                break
            time.sleep(0.05)
        service.shutdown()
        paths = [p for p, _ in received]
        assert "/api/tspinteraction/register" in paths
        assert "/api/tspinteraction/jobstarted" in paths
        assert "/api/tspinteraction/jobcompleted" in paths
        started = next(b for p, b in received if p.endswith("jobstarted"))
        assert started == {"jobId": "cj"}
        completed = next(b for p, b in received if p.endswith("jobcompleted"))
        assert completed == {"jobId": "cj", "success": True, "error": "",
                             "rowsRead": 0, "rowsWritten": 7}
    finally:
        httpd.shutdown()


def test_coordinator_http_error_logged_not_raised(capsys):
    """r4 ADVICE: urlopen raises HTTPError for 4xx/5xx, so the status
    log must live in an HTTPError handler — the old `resp.status >= 400`
    branch was dead code and misreported errors as connect failures."""
    import threading
    from wsgiref.simple_server import make_server

    from tsp_spark.service import CoordinatorClient

    def failing_app(environ, start_response):
        start_response("503 Service Unavailable", [("Content-Type", "text/plain")])
        return [b"down"]

    httpd = make_server("127.0.0.1", 0, failing_app)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        coord = CoordinatorClient(f"http://127.0.0.1:{port}")
        coord.notify_job_started("j1")  # must not raise
        err = capsys.readouterr().err
        assert "coordinator returned 503" in err
        assert "cannot connect" not in err
    finally:
        httpd.shutdown()


def test_validate_accepts_bare_json_array():
    """r6d (review-caught): a bare JSON array body crashed with 500
    (list.get before the isinstance fallback could apply)."""
    svc = JobQueueService(runner=lambda req: 0, dequeue_interval_s=60)
    try:
        app = make_wsgi_app(svc, {"speed": "float64"})
        code, out = wsgi_call(
            app, "POST", "/patterns/validate",
            [{"id": 1, "sourceCode": "speed > 10"}],
        )
        assert code.startswith("200"), out
        assert out[0]["success"] is True
    finally:
        svc.shutdown()


def test_submit_same_uuid_is_idempotent_while_live():
    """r6d (review-caught): re-POSTing an in-flight uuid used to
    enqueue the uid twice (the worker ran the job twice) and clobber
    the record."""
    svc = JobQueueService(runner=lambda req: 0, dequeue_interval_s=60)
    try:
        first = svc.submit({"uuid": "j-dup", "priority": 1})
        again = svc.submit({"uuid": "j-dup", "priority": 5})
        assert first["uuid"] == again["uuid"] == "j-dup"
        assert again["priority"] == 1  # original record, not clobbered
        assert [j["uuid"] for j in svc.queue_show()].count("j-dup") == 1
    finally:
        svc.shutdown()


def test_stop_flag_cleared_and_runner_cancel_called():
    """r6d (review-caught): the stop flag leaked when the runner
    raised; and stop() now calls the runner's cancel hook so running
    Spark work is actually interrupted."""
    import threading

    cancelled = []
    started = threading.Event()
    release = threading.Event()

    def runner(req):
        started.set()
        release.wait(timeout=10)
        raise RuntimeError("torn down by stop")

    runner.cancel = lambda uid: (cancelled.append(uid), release.set())
    svc = JobQueueService(runner=runner, dequeue_interval_s=0.05)
    try:
        svc.submit({"uuid": "j-stop"})
        assert started.wait(timeout=10)
        assert svc.stop("j-stop") is True
        deadline = time.time() + 10
        while time.time() < deadline:
            if svc.status("j-stop")["status"] == "stopped":
                break
            time.sleep(0.05)
        st = svc.status("j-stop")
        # the raise after a requested stop reports 'stopped', not
        # 'failed', and the flag set is drained
        assert st["status"] == "stopped" and "error" not in st
        assert cancelled == ["j-stop"]
        assert svc.stop_requested("j-stop") is False
    finally:
        svc.shutdown()


def test_sink_rows_render_utc_under_any_session_tz(spark):
    """r6d (review-caught): $IncidentStart/$IncidentEnd must render the
    reference's UTC form (Time.scala:26) regardless of
    spark.sql.session.timeZone — to_utc_timestamp(col,'UTC') was an
    identity that only looked right under a UTC session."""
    from tsp_spark.io.sink_schema import (
        NewRowSchema,
        StringESValue,
        compile_sink_row,
    )

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        inc = spark.sql(
            "select 1 pattern_id, 'u' unit, 0 subunit, 'i1' incident_id, "
            "timestamp_millis(0) from_ts, timestamp_millis(3600000) to_ts"
        )
        out = compile_sink_row(
            inc,
            NewRowSchema(
                {"started": StringESValue("string", "$IncidentStart")}
            ),
        ).collect()[0]
        assert out["started"] == "1970-01-01 00:00:00.000"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_unsupported_sink_conf_fails_loudly(spark, tmp_path):
    """r6d (review-caught): a declared sink the runner can't express
    must fail the job, not silently drop the data while reporting
    'finished'."""
    import pytest

    from tsp_spark.service import make_spark_runner

    src_path = str(tmp_path / "src")
    spark.sql(
        "select 1 user_id, timestamp_millis(0) ts, 200.0 value"
    ).write.parquet(src_path)
    run = make_spark_runner(spark)
    req = {
        "uuid": "j-sink",
        "source": {
            "parquetPath": src_path,
            "datetimeField": "ts",
            "partitionFields": ["user_id"],
        },
        "patterns": [{"id": 1, "sourceCode": "value > 100"}],
        "sinks": [{"elasticUrl": "http://nope"}],
    }
    with pytest.raises(ValueError, match="unsupported sink conf"):
        run(req)


def test_and_then_mode_selectable_per_job(spark, tmp_path):
    """r8: a submitted job selects the reference-exact andThen
    consumption via `andThenMode` — on an overlap shape where the two
    modes provably differ (B runs nested inside one long A run, see
    docs/SEMANTICS.md §17), exact mode merges through the union+rewind
    consumption while the fused default pairs earliest-B-per-A."""
    import datetime as dt

    import pytest

    rows = []
    for i in range(15):
        rows.append(
            (
                1,
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
                1.0 if i <= 10 else 0.0,
                1.0 if i in (3, 4, 7, 8) else 0.0,
            )
        )
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "k bigint, ts timestamp, a double, b double"
    ).write.parquet(src_path)
    run = make_spark_runner(spark)
    captured = {}

    def sink(incidents, request):
        captured[request["uuid"]] = sorted(
            (r["from_ts"].second, r["to_ts"].second)
            for r in incidents.collect()
        )
        return len(captured[request["uuid"]])

    base = {
        "source": {
            "parquetPath": src_path,
            "datetimeField": "ts",
            "partitionFields": ["k"],
            "defaultEventsGapMs": 0,
        },
        "patterns": [{"id": 1, "sourceCode": "a > 0 andThen b > 0"}],
    }
    run_sinked = make_spark_runner(spark, sink=sink)
    run_sinked({"uuid": "fused", **base})
    run_sinked({"uuid": "exact", "andThenMode": "exact", **base})
    assert captured["fused"] == [(0, 4)]
    assert captured["exact"] == [(0, 11)]
    with pytest.raises(ValueError, match="andthen_mode"):
        run_sinked({"uuid": "bad", "andThenMode": "nope", **base})


def test_shard_ms_selectable_per_job(spark, tmp_path):
    """r9: a submitted job opts into the sharded islandization via
    `shardMs`; the incident set is identical to the default path
    (row-local pattern, series gap straddling a shard seam)."""
    import datetime as dt

    rows = []
    for i in range(40):
        t = i if i < 20 else i + 300  # 5-min gap mid-series
        rows.append(
            (1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t),
             1.0 if (i // 4) % 2 == 0 else 0.0)
        )
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "k bigint, ts timestamp, a double"
    ).write.parquet(src_path)
    captured = {}

    def sink(incidents, request):
        captured[request["uuid"]] = sorted(
            (r["from_ts"], r["to_ts"]) for r in incidents.collect()
        )
        return len(captured[request["uuid"]])

    base = {
        "source": {
            "parquetPath": src_path,
            "datetimeField": "ts",
            "partitionFields": ["k"],
            "defaultEventsGapMs": 0,
        },
        "patterns": [{"id": 1, "sourceCode": "a > 0"}],
    }
    run_sinked = make_spark_runner(spark, sink=sink)
    run_sinked({"uuid": "plain", **base})
    run_sinked({"uuid": "sharded", "shardMs": 10_000, **base})
    assert captured["plain"] == captured["sharded"]
    assert len(captured["plain"]) > 1


def test_window_agg_selectable_per_job(spark, tmp_path):
    """r12: a submitted job selects the windowed-aggregate plan form
    via `windowAgg` — identical incidents across frame/prefix/auto on
    a long-window aggregate pattern (the >=5 min auto threshold)."""
    import datetime as dt

    rows = []
    for i in range(60):
        rows.append(
            (1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i * 90),
             float((i * 7) % 10))
        )
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "k bigint, ts timestamp, a double"
    ).write.parquet(src_path)
    captured = {}

    def sink(incidents, request):
        captured[request["uuid"]] = sorted(
            (r["from_ts"], r["to_ts"]) for r in incidents.collect()
        )
        return len(captured[request["uuid"]])

    base = {
        "source": {
            "parquetPath": src_path,
            "datetimeField": "ts",
            "partitionFields": ["k"],
        },
        "patterns": [
            {"id": 1, "sourceCode": "avg(a, 6 min) > 4.5"},
            {"id": 2, "sourceCode": "max(a, 6 min) > 8"},
        ],
    }
    run_sinked = make_spark_runner(spark, sink=sink)
    run_sinked({"uuid": "auto", **base})
    run_sinked({"uuid": "frame", "windowAgg": "frame", **base})
    run_sinked({"uuid": "prefix", "windowAgg": "prefix", **base})
    assert captured["auto"] == captured["frame"] == captured["prefix"]
    assert len(captured["auto"]) > 0


def test_status_surfaces_window_forms(spark, tmp_path):
    """r14 (VERDICT r13 Next #8): job status reports WHICH physical
    form each windowed aggregate compiled to ("frame" / "prefix" /
    "block"), so the r13 wrong-form-at-scale class is visible to an
    operator. A 6-min avg under the default auto gate must report the
    block form (float avg whose frames are dense: 10 Hz × 6 min =
    3,600 rows ≥ the 1,000-row gate — since the r14 both-direction
    rate gate, wall-clock width alone no longer forces the O(n)
    forms); a 10-sec max (100 rows/frame) reports the frame form."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(milliseconds=i * 100),
         float((i * 7) % 10))
        for i in range(2000)
    ]
    src_path = str(tmp_path / "src_forms")
    spark.createDataFrame(
        rows, "k bigint, ts timestamp, a double"
    ).write.parquet(src_path)
    service = JobQueueService(
        make_spark_runner(spark, sink=lambda inc, req: inc.count()),
        dequeue_interval_s=0.05,
    )
    app = make_wsgi_app(service, fields_types={"a": "float64"})
    wsgi_call(app, "POST", "/job/submit", {
        "uuid": "wf1",
        "source": {
            "parquetPath": src_path,
            "datetimeField": "ts",
            "partitionFields": ["k"],
        },
        "patterns": [
            {"id": 1, "sourceCode": "avg(a, 6 min) > 4.5"},
            {"id": 2, "sourceCode": "max(a, 10 sec) > 8"},
        ],
    })
    deadline = time.time() + 60
    status = None
    while time.time() < deadline:
        code, status = wsgi_call(app, "GET", "/job/wf1/status")
        if status.get("status") in ("finished", "failed"):
            break
        time.sleep(0.2)
    service.shutdown()
    assert status["status"] == "finished", status
    forms = {(f["kind"], f["form"]) for f in status["windowForms"]}
    assert ("avg", "block") in forms
    assert ("max", "frame") in forms
    # the decision blob itself stays de-duplicated: forms live in the
    # dedicated key, not inside autoShard
    assert "window_forms" not in status["autoShard"]


def test_request_echo_keeps_client_underscore_fields():
    """r13 (ADVICE r12): request_of strips only the KNOWN runner-
    internal keys — a client field that happens to start with "_"
    round-trips; _autoShard (written by the runner) does not."""
    def runner(request):
        request["_autoShard"] = {"mode": "auto", "eligible": False}
        return 0

    service = JobQueueService(runner, dequeue_interval_s=0.05)
    try:
        service.submit({"uuid": "u1", "_clientField": 7, "x": 1})
        deadline = time.time() + 10
        while service.status("u1")["status"] != "finished":
            assert time.time() < deadline
            time.sleep(0.05)
        echo = service.request_of("u1")
        assert echo["_clientField"] == 7 and echo["x"] == 1
        assert "_autoShard" not in echo
        # ...but the decision IS surfaced in status/overview
        assert service.status("u1")["autoShard"]["mode"] == "auto"
    finally:
        service.shutdown()


def test_overview_surfaces_probe_decision_age(spark, tmp_path, monkeypatch):
    """r13 (VERDICT r12 Next #8): an operator debugging a stale cached
    shard decision can read the probe memo's age from job status /
    /jobs/overview — probe_age_s is 0.0 on a fresh probe and grows for
    memo-served decisions (the TTL is AUTO_PROBE_CACHE_TTL_S)."""
    import datetime as dt

    import tsp_spark.api as api

    monkeypatch.setattr(api, "AUTO_PROBE_MIN_BYTES", 1)
    monkeypatch.setattr(api, "AUTO_HOT_ROWS_MIN", 10)
    api.clear_auto_probe_cache()
    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), float(i % 5))
        for i in range(200)
    ]
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "k bigint, ts timestamp, a double"
    ).write.parquet(src_path)
    base = {
        "source": {
            "parquetPath": src_path,
            "datetimeField": "ts",
            "partitionFields": ["k"],
        },
        "patterns": [{"id": 1, "sourceCode": "a > 2"}],
    }
    run = make_spark_runner(spark, sink=lambda inc, req: inc.count())
    service = JobQueueService(run, dequeue_interval_s=0.05)
    try:
        for uid in ("p1", "p2"):
            service.submit({"uuid": uid, **base})
            deadline = time.time() + 60
            while service.status(uid)["status"] not in ("finished", "failed"):
                assert time.time() < deadline
                time.sleep(0.05)
            assert service.status(uid)["status"] == "finished", (
                service.status(uid)
            )
        briefs = {b["uuid"]: b for b in service.overview()}
        d1, d2 = briefs["p1"]["autoShard"], briefs["p2"]["autoShard"]
        assert d1["probed"] and not d1["probe_cached"]
        assert d1["probe_age_s"] == 0.0
        assert d2["probe_cached"] and d2["probe_age_s"] >= 0.0
        assert d2["shard_ms"] == d1["shard_ms"]
    finally:
        service.shutdown()
        api.clear_auto_probe_cache()


def _wait_status(service, uid, timeout=60):
    deadline = time.time() + timeout
    while service.status(uid)["status"] not in ("finished", "failed", "stopped"):
        assert time.time() < deadline, service.status(uid)
        time.sleep(0.02)
    return service.status(uid)


def test_idle_service_starts_submit_at_once():
    """A worker idle for longer than the dequeue interval starts a new
    job on submit, without waiting out another interval."""
    import threading

    started = threading.Event()
    service = JobQueueService(lambda req: started.set() or 0,
                              dequeue_interval_s=1.0)
    try:
        time.sleep(1.2)
        t0 = time.monotonic()
        service.submit({"uuid": "now"})
        assert started.wait(timeout=5)
        # well inside the 1 s interval a sleep-poll would have waited
        assert time.monotonic() - t0 < 0.5
    finally:
        service.shutdown()


def test_queued_jobs_start_an_interval_apart():
    """The reference's rate holds under a backlog: at most one job
    starts per dequeue interval, counted from construction for the
    first."""
    interval = 0.3
    starts: list[float] = []
    t_built = time.monotonic()
    service = JobQueueService(lambda req: starts.append(time.monotonic()) or 0,
                              dequeue_interval_s=interval)
    try:
        service.submit({"uuid": "a"})
        service.submit({"uuid": "b"})
        _wait_status(service, "b", timeout=10)
        # 10 ms covers the runner recording its start a moment after
        # the dequeue it measures
        assert starts[0] - t_built >= interval - 0.01
        assert starts[1] - starts[0] >= interval - 0.01
    finally:
        service.shutdown()


def test_finished_status_always_carries_rows_written(monkeypatch):
    """rowsWritten is set before the terminal status: a status read
    racing the worker never sees 'finished' without it."""
    import threading

    from tsp_spark.service import Job

    def slow_finish(job, name, value):
        object.__setattr__(job, name, value)
        if name == "status" and value == "finished":
            # hold the worker right after the status write, so a
            # poller lands behind it if the fields are published in
            # the wrong order
            time.sleep(0.002)

    monkeypatch.setattr(Job, "__setattr__", slow_finish)
    service = JobQueueService(lambda req: 5, dequeue_interval_s=0)
    uids = [f"r{i}" for i in range(100)]
    bad: list[dict] = []
    done = threading.Event()

    def poll():
        while not done.is_set():
            for uid in uids:
                st = service.status(uid)
                if st and st["status"] == "finished" and "rowsWritten" not in st:
                    bad.append(st)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        for uid in uids:
            service.submit({"uuid": uid})
        _wait_status(service, uids[-1], timeout=30)
    finally:
        done.set()
        poller.join()
        service.shutdown()
    assert bad == []
    assert all(service.status(u)["rowsWritten"] == 5 for u in uids)


def test_overview_safe_under_concurrent_submits():
    """/jobs/overview, status and request reads snapshot under the
    queue lock; iterating the job table while submit() inserted raised
    'OrderedDict mutated during iteration'."""
    import threading

    service = JobQueueService(lambda req: 0, dequeue_interval_s=60)
    app = make_wsgi_app(service)
    errors: list[BaseException] = []
    done = threading.Event()

    def submitter(tag):
        try:
            for i in range(1500):
                service.submit({"uuid": f"{tag}-{i}", "priority": i % 3})
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def reader():
        try:
            while not done.is_set():
                code, ov = wsgi_call(app, "GET", "/jobs/overview")
                assert code == "200 OK", ov
                for brief in ov[-3:]:
                    service.status(brief["uuid"])
                    service.request_of(brief["uuid"])
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    writers = [threading.Thread(target=submitter, args=(t,)) for t in "abc"]
    readers = [threading.Thread(target=reader) for _ in range(2)]
    try:
        for t in readers + writers:
            t.start()
        for t in writers:
            t.join()
    finally:
        done.set()
        for t in readers:
            t.join()
        service.shutdown()
    assert errors == []
    assert len(service.overview()) == 4500


def test_shutdown_stops_worker_and_register_threads_promptly():
    """shutdown() wakes the worker out of a long dequeue interval and
    the register loop out of its heartbeat wait, then joins both."""
    import threading
    from wsgiref.simple_server import make_server

    from tsp_spark.service import CoordinatorClient

    def coord_app(environ, start_response):
        start_response("200 OK", [("Content-Type", "application/json")])
        return [b"{}"]

    httpd = make_server("127.0.0.1", 0, coord_app)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        coord = CoordinatorClient(f"http://127.0.0.1:{httpd.server_address[1]}",
                                  register_interval_s=60)
        service = JobQueueService(lambda req: 0, dequeue_interval_s=60,
                                  coordinator=coord)
        service.submit({"uuid": "waits"})  # worker in a timed wait
        time.sleep(0.2)
        t0 = time.monotonic()
        service.shutdown()
        assert time.monotonic() - t0 < 1.0
        assert not service._worker.is_alive()
        assert not service._register_thread.is_alive()
        assert service.status("waits")["status"] == "queued"
    finally:
        httpd.shutdown()


def _parquet_job(src, sinks, source_code="value > 150 for 10 sec"):
    return {
        "source": {
            "parquetPath": str(src),
            "datetimeField": "ts",
            "partitionFields": ["user_id"],
        },
        "patterns": [{"id": 1, "sourceCode": source_code}],
        "sinks": [{"parquetPath": str(s)} for s in sinks],
    }


def test_rows_written_counted_in_the_sink_pass(spark, events_small, tmp_path,
                                              monkeypatch):
    """rowsWritten comes from an observation on the sink write, not a
    second action: it equals the sink's rows, is 0 on a job with no
    incidents, and two sinks get the same rows without any count()."""
    from pyspark.sql.classic.dataframe import DataFrame

    src = tmp_path / "events"
    events_small.write.parquet(str(src))
    run = make_spark_runner(spark)

    one = tmp_path / "one"
    rows = run({"uuid": "s1", **_parquet_job(src, [one])})
    assert rows > 0
    assert rows == spark.read.parquet(str(one)).count()

    empty = tmp_path / "empty"
    assert run({"uuid": "s0", **_parquet_job(src, [empty], "value > 100000")}) == 0

    def no_count(self):
        raise AssertionError("the runner must not call DataFrame.count")

    a, b = tmp_path / "a", tmp_path / "b"
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "count", no_count)
        rows2 = run({"uuid": "s2", **_parquet_job(src, [a, b])})
    assert rows2 == rows
    got_a = sorted(map(tuple, spark.read.parquet(str(a)).collect()))
    got_b = sorted(map(tuple, spark.read.parquet(str(b)).collect()))
    assert got_a == got_b and len(got_a) == rows


def test_kafka_only_sinks_count_without_the_observation(spark, events_small,
                                                        tmp_path, monkeypatch):
    """Kafka's writer runs the plan's RDD outside a tracked action, which
    never completes an observation; a job whose only sinks are Kafka
    still returns rowsWritten instead of waiting on one forever, and a
    parquet sink beside it supplies the count."""
    import threading

    import tsp_spark.io.kafka as kafka

    produced: list = []

    def rdd_only_kafka_sink(df, conf):
        # the shape of KafkaWriter: an RDD pass over the encoded rows
        produced.extend(kafka.encode_json_row(df).rdd.collect())

    monkeypatch.setattr(kafka, "kafka_sink", rdd_only_kafka_sink)
    src = tmp_path / "events"
    events_small.write.parquet(str(src))
    run = make_spark_runner(spark)
    topic = {"brokers": "localhost:9092", "topic": "incidents"}

    def run_bounded(request):
        out: list = []
        t = threading.Thread(target=lambda: out.append(run(request)), daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "runner blocked on an observation"
        return out[0]

    only = {**_parquet_job(src, []), "sinks": [topic]}
    rows = run_bounded({"uuid": "k1", **only})
    assert rows == len(produced) == 3

    pq = tmp_path / "beside"
    both = {**_parquet_job(src, [pq]), "sinks": [topic, {"parquetPath": str(pq)}]}
    assert run_bounded({"uuid": "k2", **both}) == 3
    assert spark.read.parquet(str(pq)).count() == 3
