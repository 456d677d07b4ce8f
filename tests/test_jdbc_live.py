"""Live JDBC round trip over an embedded Derby database.

The reference's production contract is a real database round trip
(integration/correctness/.../SimpleCasesTest.scala:89-97, 312-412:
submit a FindPatternsRequest over HTTP, read the source rows from
ClickHouse over JDBC, sink incidents back over JDBC, query them back
and assert). The sandbox has no server database, but Spark bundles
Derby — a real JDBC engine with a file-backed embedded mode — so this
test drives the exact same path end-to-end with zero fakes:

    REST submit → jdbc_source scan → search_incidents → jdbc_sink
    batch insert → jdbc_source query-back → value assertions

Identifier note: Spark's JDBC writer quotes column names (they become
case-sensitive lowercase in Derby) but passes table names through
unquoted — so queries use `SELECT * FROM t` and quoted "col" refs.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from io import BytesIO

import pytest

from tsp_spark.api import RawPattern, search_incidents
from tsp_spark.io.conf import JDBCInputConf, JDBCOutputConf
from tsp_spark.io.jdbc import infer_fields_types, jdbc_sink, jdbc_source
from tsp_spark.service import JobQueueService, make_spark_runner, make_wsgi_app

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "tspdb"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture(scope="module")
def seeded(spark, derby_url, events_small):
    """Copy the synthetic events into a real Derby table over JDBC."""
    (
        events_small.write.format("jdbc")
        .option("url", derby_url)
        .option("driver", DRIVER)
        .option("dbtable", "events_src")
        .option("batchsize", 100)
        .mode("overwrite")
        .save()
    )
    return "events_src"


def _source_conf(derby_url, **kw) -> JDBCInputConf:
    return JDBCInputConf(
        source_id=1,
        jdbc_url=derby_url,
        query="SELECT * FROM events_src",
        driver_name=DRIVER,
        datetime_field="ts",
        partition_fields=["user_id"],
        **kw,
    )


def test_jdbc_source_roundtrip(spark, derby_url, seeded, events_small):
    got = jdbc_source(spark, _source_conf(derby_url))
    assert got.count() == events_small.count()
    # values survive the write/read cycle exactly
    a = sorted(map(tuple, events_small.select("user_id", "ts", "value").collect()))
    b = sorted(map(tuple, got.select("user_id", "ts", "value").collect()))
    assert a == b


def test_jdbc_partitioned_scan(spark, derby_url, seeded, events_small):
    """The cluster scale path: Spark splits the query into range
    predicates on partitionColumn — same rows, parallel connections."""
    conf = _source_conf(
        derby_url,
        partition_column='"user_id"',
        num_partitions=3,
        lower_bound=0,
        upper_bound=4,
    )
    got = jdbc_source(spark, conf)
    assert got.rdd.getNumPartitions() == 3
    assert got.count() == events_small.count()


def test_schema_inference(spark, derby_url, seeded):
    """JdbcService.scala:9-25 parity: field → wire type tag."""
    fields = infer_fields_types(spark, _source_conf(derby_url))
    assert fields["user_id"] == "int64"
    assert fields["value"] == "float64"
    assert fields["ts"] == "timestamp"
    assert fields["event_type"] == "string"


def _wsgi(app, method, path, body=None):
    raw = json.dumps(body).encode() if body is not None else b""
    status = {}

    def start_response(st, _hd):
        status["code"] = st

    env = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": BytesIO(raw),
    }
    out = b"".join(app(env, start_response))
    return status["code"], json.loads(out)


def test_submit_to_sink_roundtrip(spark, derby_url, seeded, events_small):
    """The full reference contract: REST submit → JDBC source →
    incidents → JDBC sink → query the sink table back and compare with
    the direct batch result."""
    out_conf = JDBCOutputConf(
        table_name="incidents_out", jdbc_url=derby_url, driver_name=DRIVER
    )

    def sink(incidents, _request) -> int:
        flat = incidents.select(
            "pattern_id", "user_id", "from_ts", "to_ts"
        )
        jdbc_sink(flat, out_conf, mode="overwrite")
        return flat.count()

    service = JobQueueService(make_spark_runner(spark, sink=sink), 0.05)
    app = make_wsgi_app(service, {"value": "float64"})
    try:
        code, resp = _wsgi(
            app,
            "POST",
            "/job/submit",
            {
                "uuid": "it-derby-1",
                "source": {
                    "jdbcUrl": derby_url,
                    "query": "SELECT * FROM events_src",
                    "driverName": DRIVER,
                    "datetimeField": "ts",
                    "partitionFields": ["user_id"],
                    "eventsMaxGapMs": 60_000,
                    "defaultEventsGapMs": 2_000,
                },
                "patterns": [{"id": 7, "sourceCode": "value > 150 for 10 sec"}],
            },
        )
        assert code == "200 OK" and resp["uuid"] == "it-derby-1"
        deadline = time.time() + 180
        while time.time() < deadline:
            code, st = _wsgi(app, "GET", "/job/it-derby-1/status")
            if st["status"] in ("finished", "failed"):
                break
            time.sleep(0.2)
        assert st["status"] == "finished", st
        assert st["rowsWritten"] == 3  # one held stretch per user
    finally:
        service.shutdown()

    # query the sink table back over JDBC and compare against a direct
    # batch run on the same source rows
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("driver", DRIVER)
        .option("query", "SELECT * FROM incidents_out")
        .load()
    )
    src = jdbc_source(spark, _source_conf(derby_url))
    want = search_incidents(
        src,
        [RawPattern(7, "value > 150 for 10 sec")],
        ["user_id"],
        "ts",
        max_gap_ms=60_000,
        session_gap_ms=2_000,
    ).select("pattern_id", "user_id", "from_ts", "to_ts")
    got_rows = sorted(map(tuple, back.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(got_rows) == 3


def test_runner_jdbc_sink_counts_rows_written(spark, derby_url, seeded, tmp_path):
    """The runner's declared JDBC sink reports rowsWritten from the
    write itself: alone, and beside a parquet sink on the cached plan,
    the count equals the rows the sink table holds."""
    run = make_spark_runner(spark)
    base = {
        "source": {
            "jdbcUrl": derby_url,
            "query": "SELECT * FROM events_src",
            "driverName": DRIVER,
            "datetimeField": "ts",
            "partitionFields": ["user_id"],
        },
        "patterns": [{"id": 7, "sourceCode": "value > 150 for 10 sec"}],
    }

    def table_rows(table):
        return (
            spark.read.format("jdbc")
            .option("url", derby_url)
            .option("driver", DRIVER)
            .option("query", f"SELECT * FROM {table}")
            .load()
            .count()
        )

    def sink(table):
        return {"jdbcUrl": derby_url, "tableName": table, "driverName": DRIVER}

    assert run({"uuid": "obs-1", **base, "sinks": [sink("obs_one")]}) == 3
    assert table_rows("obs_one") == 3

    pq = tmp_path / "beside"
    both = [sink("obs_two"), {"parquetPath": str(pq)}]
    assert run({"uuid": "obs-2", **base, "sinks": both}) == 3
    assert table_rows("obs_two") == 3
    assert spark.read.parquet(str(pq)).count() == 3
