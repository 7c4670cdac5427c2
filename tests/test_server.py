"""HTTP facade (REST parity): query POST, ETag/304, cancel DELETE, task
submit/status, error envelope over the wire. Multi-value dimension
groupBy. ETag invalidation on data change."""

import json
import urllib.error
import urllib.request

import pytest

from pyspark.sql import functions as F

from coolplaydruid_spark.server.http import DruidHttpServer


@pytest.fixture(scope="module")
def server(engine):
    srv = DruidHttpServer(engine, port=0).start()
    yield srv
    srv.shutdown()


def _req(srv, method, path, body=None, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(body).encode() if body is not None else None,
        method=method,
        headers=headers or {},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


TS_QUERY = {
    "queryType": "timeseries",
    "dataSource": "events",
    "granularity": "day",
    "aggregations": [{"type": "count", "name": "rows"}],
    "intervals": ["2024-01-01T00:00:00/2024-01-04T00:00:00"],
}


def test_query_roundtrip_and_etag(server):
    status, headers, body = _req(server, "POST", "/druid/v2", TS_QUERY)
    assert status == 200
    rows = json.loads(body)
    assert len(rows) == 3 and rows[0]["result"]["rows"] > 0
    etag = headers.get("ETag")
    assert etag

    # replay with If-None-Match → 304, no body
    status2, headers2, body2 = _req(
        server, "POST", "/druid/v2", TS_QUERY, {"If-None-Match": etag}
    )
    assert status2 == 304 and body2 == b""

    # different query → different etag
    q2 = dict(TS_QUERY, granularity="hour")
    _, headers3, _ = _req(server, "POST", "/druid/v2", q2)
    assert headers3.get("ETag") != etag


def test_error_envelope_http_500(server):
    status, _, body = _req(server, "POST", "/druid/v2", {"queryType": "bogus"})
    assert status == 500
    env = json.loads(body)
    assert set(env) == {"error", "errorMessage", "errorClass", "host"}


def test_cancel_endpoint(server):
    status, _, body = _req(server, "DELETE", "/druid/v2/some-query-id")
    assert status == 202
    assert json.loads(body) == {"cancelled": "some-query-id"}


def test_task_submit_and_status(server, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("http_ingest") / "tbl")
    from tests.conftest import SF_DIR

    status, _, body = _req(
        server,
        "POST",
        "/druid/indexer/v1/task",
        {
            "type": "index",
            "spec": {
                "source": {"format": "parquet", "path": f"{SF_DIR}/events.parquet"},
                "destPath": dest,
                "timeColumn": "ts",
            },
        },
    )
    assert status == 200
    task_id = json.loads(body)["task"]
    status, _, body = _req(server, "GET", f"/druid/indexer/v1/task/{task_id}/status")
    assert status == 200
    assert json.loads(body)["status"]["status"] == "SUCCESS"

    status, _, _ = _req(server, "GET", "/druid/indexer/v1/task/nope/status")
    assert status == 404


def test_health(server):
    status, _, body = _req(server, "GET", "/status")
    assert status == 200 and json.loads(body)["status"] == "ok"


def test_multivalue_dimension_groupby(spark, engine):
    """Multi-value dims: a row groups once per array element (public
    Druid 0.12 semantics)."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", ["a", "b"]),
            (2, "2024-01-01 01:00:00", ["b"]),
            (3, "2024-01-01 02:00:00", None),
        ],
        "id long, ts string, tags array<string>",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    engine.catalog.register("mv_events", df=df, time_column="ts")
    rows = engine.plan(
        {
            "queryType": "groupBy",
            "dataSource": "mv_events",
            "granularity": "all",
            "dimensions": ["tags"],
            "aggregations": [{"type": "count", "name": "n"}],
            "intervals": ["2024-01-01T00:00:00/2024-01-02T00:00:00"],
        }
    ).collect()
    got = {r["tags"]: r["n"] for r in rows}
    assert got == {"a": 1, "b": 2, None: 1}


def test_execute_stream_scan_matches_collect(engine):
    """Streamed scan (toLocalIterator) must yield exactly the rows the
    collected path returns — and be a true generator, not a list."""
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id", "event_type"],
        "intervals": ["2024-01-01T00:00:00/2024-01-08T00:00:00"],
    }
    gen = engine.execute_stream(q)
    assert not isinstance(gen, list)
    streamed = list(gen)
    collected = engine.execute(q)
    assert streamed == collected
    assert len(streamed) > 100  # no implicit limit on the streamed path


def test_http_scan_streams_chunked(server):
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id", "event_type"],
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
    }
    status, headers, body = _req(server, "POST", "/druid/v2", q)
    assert status == 200
    assert headers.get("Transfer-Encoding") == "chunked"
    rows = json.loads(body)
    assert len(rows) > 0 and "event_id" in rows[0]


def test_http_scan_full_table_unbounded(server, engine):
    """An unbounded scan of the WHOLE events table over HTTP: every row
    arrives through the chunked streamed path (toLocalIterator — one
    partition resident on the driver at a time, never the full table),
    so the payload size is bounded by the client, not driver memory."""
    q = {
        "queryType": "scan",
        "dataSource": "events",
        "columns": ["event_id", "event_type"],
        "intervals": ["1970-01-01T00:00:00/2100-01-01T00:00:00"],
    }
    status, headers, body = _req(server, "POST", "/druid/v2", q)
    assert status == 200
    assert headers.get("Transfer-Encoding") == "chunked"
    rows = json.loads(body)
    assert len(rows) == engine.catalog.table("events").count()


def test_http_scan_bad_spec_still_enveloped(server):
    q = {
        "queryType": "scan",
        "dataSource": "no_such_table",
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
    }
    status, _, body = _req(server, "POST", "/druid/v2", q)
    assert status == 500
    assert "error" in json.loads(body)


def test_result_cache_hits_and_invalidates(engine, spark, tmp_path):
    """useCache/populateCache: the second identical query returns the
    cached result without Spark jobs; rewriting the source files mints a
    new ETag so the cache self-invalidates."""
    import shutil

    src = tmp_path / "cache_tbl.parquet"
    shutil.copyfile("/root/testdata/sf0.001/events.parquet", src)
    engine.catalog.register("cache_tbl", path=str(src), time_column="ts",
                            as_view=False)
    q = {
        "queryType": "timeseries",
        "dataSource": "cache_tbl",
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        "context": {"skipEmptyBuckets": True},
    }
    first = engine.execute(q)
    second = engine.execute(q)
    assert second == first
    # bypass still correct
    assert engine.execute(dict(q, context={"useCache": False})) == first

    # touch the file -> new mtime -> new ETag -> cache miss (fresh read)
    import os, time as _t
    _t.sleep(0.01)
    os.utime(src)
    engine.catalog._frames.pop("cache_tbl", None)
    third = engine.execute(q)
    assert third == first


def test_result_cache_rekeys_on_reregistration_after_append(engine, spark,
                                                          tmp_path):
    """The ETag fingerprints the files the REGISTERED frame reads. A read
    between an append and the re-registration sees the registered
    snapshot and must not cache it under a key that claims the appended
    files — the read after re-registration returns the fresh count."""
    from coolplaydruid_spark.sources import batch
    from tests.conftest import SF_DIR

    dest = str(tmp_path / "ingested")
    src = {"format": "parquet", "path": f"{SF_DIR}/events.parquet"}
    batch.index_task(spark, src, dest, time_column="ts")
    batch.register_ingested(engine.catalog, "ingest_cache_tbl", dest, "ts")
    q = {
        "queryType": "timeseries", "dataSource": "ingest_cache_tbl",
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2000-01-01T00:00:00/2100-01-01T00:00:00"],
    }
    n0 = engine.execute(q)[0]["result"]["n"]
    assert n0 > 0
    batch.append_task(spark, src, dest, time_column="ts")
    assert engine.execute(q)[0]["result"]["n"] == n0
    batch.register_ingested(engine.catalog, "ingest_cache_tbl", dest, "ts")
    assert engine.execute(q)[0]["result"]["n"] == 2 * n0


def test_result_cache_eviction_is_thread_safe(spark, catalog):
    """Full-cache inserts from many handler threads: with a one-entry
    cache every populate evicts, and no query that succeeded may fail
    in the eviction, while the bound holds."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from coolplaydruid_spark.engine import DruidEngine

    eng = DruidEngine(spark, catalog, result_cache_entries=1)
    queries = [{
        "queryType": "timeseries", "dataSource": "events",
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": [f"2024-01-{d:02d}T00:00:00/2024-01-{d + 1:02d}T00:00:00"],
    } for d in range(1, 13)] * 4
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(eng.execute, queries))
    finally:
        sys.setswitchinterval(switch)
    assert len(eng._result_cache) <= 1
    by_query = {}
    for q, r in zip(queries, results):
        by_query.setdefault(q["intervals"][0], set()).add(r[0]["result"]["n"])
    assert all(len(v) == 1 for v in by_query.values())


def test_max_results_resource_limit(engine):
    """context.maxResults enforces the reference's groupBy resource
    limit (query-module-overview.md:86): overflow fails with the
    documented 'Resource limit exceeded' envelope; within-limit queries
    pass through untouched."""
    import pytest as _pt

    from coolplaydruid_spark.errors import DruidQueryError

    q = {
        "queryType": "groupBy", "dataSource": "events", "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "rows"}],
        "intervals": ["2024-01-01T00:00:00/2024-02-01T00:00:00"],
        "context": {"maxResults": 3, "useCache": False, "populateCache": False},
    }
    with _pt.raises(DruidQueryError) as ei:
        engine.execute(q)
    assert ei.value.envelope()["error"] == "Resource limit exceeded"

    q["context"]["maxResults"] = 100000
    assert len(engine.execute(q)) > 3


# ---- /druid/v2/sql (Druid SQL over HTTP) ---------------------------------


def test_sql_endpoint_object_format(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT event_type, count(*) AS n FROM events "
                 "GROUP BY event_type ORDER BY event_type",
    })
    assert status == 200
    rows = json.loads(body)
    assert len(rows) >= 2
    assert set(rows[0]) == {"event_type", "n"}


def test_sql_endpoint_array_format_with_header(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT event_type, count(*) AS n FROM events "
                 "GROUP BY event_type ORDER BY event_type",
        "resultFormat": "array",
        "header": True,
    })
    assert status == 200
    rows = json.loads(body)
    assert rows[0] == ["event_type", "n"]
    assert all(len(r) == 2 for r in rows[1:])


def test_sql_endpoint_positional_parameters(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT count(*) AS n FROM events WHERE event_type = ?",
        "parameters": [{"type": "VARCHAR", "value": "click"}],
    })
    assert status == 200
    rows = json.loads(body)
    assert len(rows) == 1 and rows[0]["n"] > 0


def test_sql_endpoint_druid_time_function(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT TIME_FLOOR(ts, 'P1D') AS d, count(*) AS n "
                 "FROM events GROUP BY 1 ORDER BY 1 LIMIT 3",
    })
    assert status == 200
    assert len(json.loads(body)) == 3


def test_sql_endpoint_error_envelope(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT * FROM no_such_table",
    })
    assert status == 500
    err = json.loads(body)
    assert "error" in err and "errorMessage" in err


def test_sql_endpoint_bad_result_format(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT 1", "resultFormat": "parquet",
    })
    assert status == 500
    assert "resultFormat" in json.loads(body)["errorMessage"]


def test_sql_endpoint_lines_and_csv_formats(server):
    q = ("SELECT event_type, count(*) AS n FROM events "
         "GROUP BY event_type ORDER BY event_type")
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": q, "resultFormat": "objectLines"})
    assert status == 200
    objs = [json.loads(ln) for ln in body.decode().splitlines() if ln]
    assert len(objs) >= 2 and set(objs[0]) == {"event_type", "n"}

    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": q, "resultFormat": "arrayLines"})
    arrs = [json.loads(ln) for ln in body.decode().splitlines() if ln]
    assert arrs == [[o["event_type"], o["n"]] for o in objs]

    status, headers, body = _req(server, "POST", "/druid/v2/sql", {
        "query": q, "resultFormat": "csv", "header": True})
    assert headers.get("Content-Type") == "text/csv"
    lines = body.decode().splitlines()
    assert lines[0] == "event_type,n"
    assert len(lines) == len(objs) + 1


def test_sql_endpoint_csv_quoting(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT 'a,b' AS x, 'q\"t' AS y, NULL AS z",
        "resultFormat": "csv"})
    assert status == 200
    assert body.decode().splitlines()[0] == '"a,b","q""t",'


def test_sql_endpoint_duplicate_output_names_positional(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT 1 AS x, 2 AS x", "resultFormat": "array"})
    assert status == 200
    assert json.loads(body) == [[1, 2]]


def test_sql_endpoint_timestamp_parameter_millis(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT count(*) AS n FROM events WHERE ts >= ?",
        # 2024-01-01T00:00:00Z as epoch millis (Druid's TIMESTAMP param form)
        "parameters": [{"type": "TIMESTAMP", "value": 1704067200000}]})
    assert status == 200
    assert json.loads(body)[0]["n"] > 0


def test_sql_endpoint_truncate_one_arg(server):
    status, _, body = _req(server, "POST", "/druid/v2/sql", {
        "query": "SELECT TRUNCATE(-12.789) AS a, TRUNCATE(-12.789, 2) AS b"})
    assert status == 200
    assert json.loads(body) == [{"a": -12.0, "b": -12.78}]


def test_query_metrics_emitted(engine):
    """emitLogsAndMetrics analogue (query/query-internal-procedure.md:
    143-189): one metrics row per execute — success, failure, cache hit."""
    q = {
        "queryType": "timeseries", "dataSource": "events",
        "granularity": "day",
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01T00:00:00/2024-01-03T00:00:00"],
        "context": {"queryId": "metrics-test-1"},
    }
    engine.execute(q)
    m = engine.metrics("metrics-test-1")
    assert len(m) == 1
    assert m[0]["success"] and m[0]["queryType"] == "timeseries"
    assert m[0]["rows"] == 2 and m[0]["queryTimeMs"] > 0
    assert not m[0]["cacheHit"]

    engine.execute(q)  # same ETag → cache hit
    m = engine.metrics("metrics-test-1")
    assert len(m) == 2 and m[1]["cacheHit"] and m[1]["rows"] == 2

    import pytest as _pytest

    from coolplaydruid_spark.errors import DruidQueryError

    with _pytest.raises(DruidQueryError):
        engine.execute({
            "queryType": "timeseries", "dataSource": "no_such_table",
            "granularity": "day",
            "aggregations": [{"type": "count", "name": "n"}],
            "context": {"queryId": "metrics-test-2"},
        })
    m = engine.metrics("metrics-test-2")
    assert len(m) == 1 and not m[0]["success"] and m[0]["error"]


def test_datasource_introspection_endpoints(server):
    """Broker dataSource endpoints: list, per-source dims+metrics,
    the /dimensions and /metrics sub-resources, 404 for unknown."""
    status, _h, body = _req(server, "GET", "/druid/v2/datasources")
    names = json.loads(body)
    assert status == 200 and "events" in names and "lineitem" in names

    status, _h, body = _req(server, "GET", "/druid/v2/datasources/events")
    assert status == 200
    info = json.loads(body)
    assert "event_type" in info["dimensions"]
    assert "value" in info["metrics"]
    assert "__time" not in info["dimensions"] + info["metrics"]

    _s, _h, dims = _req(server, "GET", "/druid/v2/datasources/events/dimensions")
    _s, _h, mets = _req(server, "GET", "/druid/v2/datasources/events/metrics")
    assert json.loads(dims) == info["dimensions"]
    assert json.loads(mets) == info["metrics"]

    status, _h, _b = _req(server, "GET", "/druid/v2/datasources/nope")
    assert status == 404
