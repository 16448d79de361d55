"""End-to-end HTTP façade tests: /ping, /write (line protocol, gzip,
precision), /query (JSON shape, multi-statement, errors) — the reference's
three routes (service/server.go:31-35)."""

import gzip
import json
import time
import urllib.error
import urllib.request

import pytest

from influxdb_ha_spark.http_server import serve
from influxdb_ha_spark.model import Catalog, PartitionKey
from influxdb_ha_spark.server import Engine


@pytest.fixture(scope="module")
def http(spark):
    cat = Catalog(spark)
    cat.partition_keys.append(PartitionKey("sharded", "treasures", ["type"]))
    engine = Engine(cat, database="sharded")
    srv, port = serve(engine)
    yield f"http://127.0.0.1:{port}", engine
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url) as r:
        return r.status, r.headers, r.read()


def _post(url, data, headers=None):
    req = urllib.request.Request(url, data=data, headers=headers or {})
    with urllib.request.urlopen(req) as r:
        return r.status, r.headers, r.read()


def test_ping(http):
    base, _ = http
    status, headers, _ = _get(base + "/ping")
    assert status == 204
    assert "influxdb" in headers["X-Influxdb-Version"].lower()


def test_write_then_query_roundtrip(http):
    base, _ = http
    body = (b"treasures,type=gold value=100 1500000000000000000\n"
            b"treasures,type=gold value=60 1500000000000000001\n"
            b"treasures,type=trash value=0 1500000000000000002\n")
    status, _, _ = _post(base + "/write?db=sharded", body)
    assert status == 204
    status, _, out = _get(base + "/query?db=sharded&q=" +
                          urllib.request.quote(
                              "SELECT sum(value) AS s FROM treasures "
                              "GROUP BY type"))
    assert status == 200
    res = json.loads(out)["results"][0]
    by_tag = {s["tags"]["type"]: s["values"][0] for s in res["series"]}
    assert by_tag["gold"][-1] == 160.0 and by_tag["trash"][-1] == 0.0


def test_write_gzip_and_precision(http):
    base, _ = http
    raw = b"treasures,type=silver value=5 1500000001\n"
    status, _, _ = _post(base + "/write?db=sharded&precision=s",
                         gzip.compress(raw),
                         {"Content-Encoding": "gzip"})
    assert status == 204
    status, _, out = _get(base + "/query?db=sharded&epoch=ns&q=" +
                          urllib.request.quote(
                              "SELECT value FROM treasures "
                              "WHERE type='silver'"))
    vals = json.loads(out)["results"][0]["series"][0]["values"]
    assert vals[0][0] == 1500000001_000_000_000  # seconds → ns


def test_write_missing_db_is_400(http):
    base, _ = http
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base + "/write", b"m v=1")
    assert e.value.code == 400


def test_write_partition_key_violation_is_400(http):
    base, _ = http
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base + "/write?db=sharded", b"treasures value=1 1500000000000000005")
    assert e.value.code == 400
    assert "partition key" in json.loads(e.value.read())["error"]


def test_rejected_write_writes_nothing(http):
    """A 400 for one measurement leaves every other one of the body
    unwritten: `aaa` sorts before `treasures`, which lacks its key tag."""
    base, _ = http
    show = base + "/query?db=sharded&q=" + urllib.request.quote(
        "SHOW MEASUREMENTS")
    before = json.loads(_get(show)[2])
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base + "/write?db=sharded",
              b"aaa v=1 1500000000000000006\n"
              b"treasures value=1 1500000000000000007")
    assert e.value.code == 400
    assert "partition key" in json.loads(e.value.read())["error"]
    assert json.loads(_get(show)[2]) == before


@pytest.mark.parametrize("value", [b"nan", b"-Infinity", b"1e400", b"1_5",
                                   b"9223372036854775808i"])
def test_invalid_number_write_is_400(http, value):
    """A field value outside the line-protocol number grammar or range is a
    400 "invalid number", and the body's valid lines are not written
    either."""
    base, _ = http
    read = base + "/query?db=sharded&epoch=ns&q=" + urllib.request.quote(
        "SELECT value FROM treasures WHERE type='numbers'")
    _post(base + "/write?db=sharded",
          b"treasures,type=numbers value=1 1500000000000000010")
    before = json.loads(_get(read)[2])
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base + "/write?db=sharded",
              b"treasures,type=numbers value=2 1500000000000000011\n"
              b"treasures,type=numbers value=" + value
              + b" 1500000000000000012")
    assert e.value.code == 400
    assert "invalid number" in json.loads(e.value.read())["error"]
    assert json.loads(_get(read)[2]) == before
    assert [v[0] for v in before["results"][0]["series"][0]["values"]] == [
        1500000000000000010]


def test_query_multi_statement_and_errors(http):
    base, _ = http
    q = "SELECT count(value) AS n FROM treasures; SHOW MEASUREMENTS"
    status, _, out = _get(base + "/query?db=sharded&q=" +
                          urllib.request.quote(q))
    res = json.loads(out)["results"]
    assert [r["statement_id"] for r in res] == [0, 1]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "/query?db=sharded&q=" +
             urllib.request.quote("DROP SHARD 1"))
    assert e.value.code == 400


def test_cq_http_roundtrip(http):
    """The full reference CQ lifecycle (importer.go:579-594) through the
    HTTP façade in one pass: /write raw points → CREATE CONTINUOUS QUERY
    via /query → scheduler tick (run_due — external cadence, like
    InfluxDB's CQ service) → /query the rolled-up measurement back with
    numeric epoch params."""
    base, engine = http
    h = 3_600_000_000_000  # 1h in ns
    t0 = 1_600_000_000_000_000_000  # aligned epoch base
    pts = []
    for i, v in enumerate((10, 30, 7, 9)):  # two points per hour bucket
        pts.append(f"cq_src,type=a value={v} {t0 + (i // 2) * h + i % 2}")
    status, _, _ = _post(base + "/write?db=sharded",
                         "\n".join(pts).encode())
    assert status == 204
    q = ("CREATE CONTINUOUS QUERY hourly_mean ON sharded BEGIN "
         "SELECT mean(value) AS value INTO cq_hourly FROM cq_src "
         "GROUP BY time(1h) fill(none) END")
    status, _, _ = _get(base + "/query?db=sharded&q=" +
                        urllib.request.quote(q))
    assert status == 200
    # the CQ shows through the HTTP surface
    status, _, out = _get(base + "/query?db=sharded&q=" +
                          urllib.request.quote("SHOW CONTINUOUS QUERIES"))
    assert b"hourly_mean" in out
    # scheduler tick — cadence driver is external (cron/stream trigger)
    ran = engine.cq.run_due(t0 + 2 * h)
    assert "hourly_mean" in ran
    status, _, out = _get(base + "/query?db=sharded&epoch=ns&q=" +
                          urllib.request.quote(
                              "SELECT value FROM cq_hourly ORDER BY time"))
    assert status == 200
    series = json.loads(out)["results"][0]["series"][0]
    assert series["name"] == "cq_hourly"
    got = {t: v for t, v in series["values"]}
    b0 = t0 - t0 % h  # bucket floor of the first two points
    assert got == {b0: 20.0, b0 + h: 8.0}


def test_auth_lifecycle(http):
    """Reference auth model (query_handler.go:90-114,
    query_handler_test.go:51-81): open until a user exists, then basic-auth
    + per-statement privileges. Runs LAST in this module (users persist on
    the shared engine)."""
    import base64
    base, engine = http
    # open access before any user exists
    _get(base + "/query?db=sharded&q=" +
         urllib.request.quote("SHOW MEASUREMENTS"))
    engine.admin.create_user("boss", "pw", admin=True)
    engine.admin.create_user("reader", "r", admin=False)
    engine.admin.grant("reader", "sharded", "READ")

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "/query?db=sharded&q=" +
             urllib.request.quote("SHOW MEASUREMENTS"))
    assert e.value.code == 401

    creds = base64.b64encode(b"reader:r").decode()
    req = urllib.request.Request(
        base + "/query?db=sharded&q=" +
        urllib.request.quote("SELECT count(value) AS n FROM treasures"),
        headers={"Authorization": f"Basic {creds}"})
    with urllib.request.urlopen(req) as r:
        assert r.status == 200

    # reader has no WRITE privilege
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base + "/write?db=sharded&u=reader&p=r",
              b"treasures,type=x value=1 1500000000000000009")
    assert e.value.code == 401
    # admin via u/p params can write
    status, _, _ = _post(base + "/write?db=sharded&u=boss&p=pw",
                         b"treasures,type=x value=1 1500000000000000009")
    assert status == 204


def test_chunked_response(http):
    base, engine = http
    # note: runs after test_auth_lifecycle → authenticate as boss
    q = "SHOW MEASUREMENTS; SHOW DATABASES"
    url = (base + "/query?db=sharded&chunked=true&u=boss&p=pw&q=" +
           urllib.request.quote(q))
    with urllib.request.urlopen(url) as r:
        body = r.read().decode().strip().splitlines()
    assert len(body) == 2
    docs = [json.loads(ln) for ln in body]
    assert [d["results"][0]["statement_id"] for d in docs] == [0, 1]


def test_chunk_size_partial_flag(http):
    """chunk_size splits a statement's values across docs with
    partial=true on every chunk but the last (query_utils.go:22-28
    Partial; reference/InfluxDB chunked semantics)."""
    base, engine = http
    q = "SELECT value FROM treasures"  # 4 points written by earlier tests
    url = (base + "/query?db=sharded&chunked=true&chunk_size=2&u=boss&p=pw"
           "&q=" + urllib.request.quote(q))
    with urllib.request.urlopen(url) as r:
        docs = [json.loads(ln) for ln in r.read().decode().strip().splitlines()]
    assert len(docs) >= 2
    n_vals = 0
    for i, d in enumerate(docs):
        res = d["results"][0]
        last = i == len(docs) - 1
        assert res.get("partial", False) == (not last)
        for s in res["series"]:
            assert len(s["values"]) <= 2
            n_vals += len(s["values"])
            assert s.get("partial", False) == (not last)
    assert n_vals >= 4


def test_bind_params(http):
    """InfluxQL bind parameters: $name placeholders resolved from the
    `params` JSON object (client-library surface; the reference forwards
    raw requests so InfluxDB resolves them — here the façade does)."""
    import urllib.parse

    base, engine = http
    _post(base + "/write?db=sharded&u=boss&p=pw",
          b"treasures,type=gold value=100 1500000000000000100")
    q = "SELECT count(value) AS n FROM treasures WHERE type = $t AND value > $lo"
    url = (base + "/query?db=sharded&u=boss&p=pw&q=" + urllib.request.quote(q)
           + "&params=" + urllib.parse.quote('{"t": "gold", "lo": 50}'))
    with urllib.request.urlopen(url) as r:
        body = json.loads(r.read())
    assert body["results"][0]["series"][0]["values"][0][-1] >= 1
    # missing parameter -> 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "/query?db=sharded&u=boss&p=pw&q=" +
             urllib.request.quote("SELECT value FROM treasures WHERE type = $nope"))
    assert e.value.code == 400

    from influxdb_ha_spark.http_server import bind_params
    assert bind_params("WHERE a = $x AND b = $y",
                       '{"x": "o\'brien", "y": 2.5}') == \
        "WHERE a = 'o\\'brien' AND b = 2.5"


def test_routing_parity_rejected_vs_added(http):
    """The exact statement list the reference rejects (routing.go:113-119)
    must 400 through /query with the reference's message, while the
    statements this engine ADDS beyond that list (EXPLAIN, SHOW QUERIES,
    KILL QUERY) must be reachable — the round-2 regression was KILL QUERY
    landing in both camps at once."""
    base, _ = http
    auth = "&u=boss&p=pw"
    for stmt in ("DROP SHARD 1", "SHOW SHARDS", "SHOW STATS",
                 "SHOW DIAGNOSTICS"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base + "/query?db=sharded" + auth + "&q=" +
                 urllib.request.quote(stmt))
        assert e.value.code == 400
        assert "not supported on cluster" in \
            json.loads(e.value.read())["error"]
    # added surface: reachable (SHOW QUERIES lists, EXPLAIN plans)
    status, _, out = _get(base + "/query?db=sharded" + auth + "&q=" +
                          urllib.request.quote("SHOW QUERIES"))
    assert status == 200
    cols = json.loads(out)["results"][0]
    status, _, out = _get(base + "/query?db=sharded" + auth + "&q=" +
                          urllib.request.quote(
                              "EXPLAIN SELECT count(value) FROM treasures"))
    assert status == 200
    plan = json.loads(out)
    assert "Physical Plan" in json.dumps(plan)
    # KILL QUERY parses and routes (unknown qid -> 400 with its own error,
    # NOT the rejected-statement message)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "/query?db=sharded" + auth + "&q=" +
             urllib.request.quote("KILL QUERY 424242"))
    assert e.value.code == 400
    assert "no such query id" in json.loads(e.value.read())["error"]


def _engine_server(spark, name, df, tags):
    """A fresh engine + server over one measurement (the module fixture's
    catalog is shared and is left untouched)."""
    cat = Catalog(spark)
    cat.register_dataframe("iso", name, df, time_col="time", tags=tags)
    srv, port = serve(Engine(cat, database="iso",
                             now_ns=1_700_000_000_000_000_000))
    return srv, f"http://127.0.0.1:{port}/query?db=iso&q="


def _kill_mid_query(spark, tmp_path, q):
    """Send `q` (over the slow table `slowtab`) on a thread, KILL QUERY it
    once its scan tasks run, and return (answer, job group of the killed
    query, engine). A filesystem latch keeps the scan in flight."""
    import os
    import threading
    import time as _time

    from pyspark.sql import functions as F

    started, release = str(tmp_path / "started"), str(tmp_path / "release")

    def hold(v):
        open(started, "a").close()
        for _ in range(1200):
            if os.path.exists(release):
                break
            _time.sleep(0.05)
        return float(v)

    df = spark.range(8).select(F.lit(0).cast("long").alias("time"),
                               F.lit("x").alias("type"),
                               F.udf(hold, "double")(F.col("id")).alias("value"))
    srv, url = _engine_server(spark, "slowtab", df, ["type"])
    got = {}

    def run():
        try:
            got["resp"] = _get(url + urllib.request.quote(q))
        except Exception as exc:  # noqa: BLE001 — asserted below
            got["exc"] = exc

    t = threading.Thread(target=run)
    t.start()
    try:
        deadline = _time.time() + 30
        while not os.path.exists(started):
            assert _time.time() < deadline, "scan tasks never started"
            _time.sleep(0.05)
        _, _, out = _get(url + urllib.request.quote("SHOW QUERIES"))
        rows = json.loads(out)["results"][0]["series"][0]["values"]
        qid = next(r[0] for r in rows if "slowtab" in r[1])
        _get(url + urllib.request.quote(f"KILL QUERY {qid}"))
        t.join(timeout=60)
        assert not t.is_alive(), "killed query never answered"
    finally:
        open(release, "a").close()
        t.join(timeout=90)
        srv.shutdown()
    assert "exc" not in got, got.get("exc")
    return got["resp"], f"influxql-q{qid}", srv.RequestHandlerClass.engine


def test_killed_query_answers_with_json_error(spark, tmp_path):
    """KILL QUERY cancels the statement's Spark jobs; the killed request
    gets an InfluxDB JSON error for its statement instead of a dropped
    connection."""
    (status, _, body), _, _ = _kill_mid_query(
        spark, tmp_path,
        "SELECT count(value) AS n FROM slowtab; SHOW MEASUREMENTS")
    assert status == 200
    # the error stops the request: the second statement is not run
    assert json.loads(body) == {"results": [
        {"statement_id": 0, "error": "query interrupted"}]}


def test_killed_finished_query_leaves_no_running_job(spark, tmp_path):
    """KILL QUERY during a statement the driver finishes (its aggregated
    frame runs in Spark, fill and shaping on the driver) answers `query
    interrupted`, and no job of its group is left running."""
    q = "SELECT count(value) AS n FROM slowtab WHERE time >= 0 AND " \
        f"time < {12 * 3_600_000_000_000} GROUP BY time(1h) fill(0)"
    (status, _, body), group, engine = _kill_mid_query(spark, tmp_path, q)
    assert "_influx_finish" in engine.query_df(q).__dict__
    assert status == 200
    assert json.loads(body) == {"results": [
        {"statement_id": 0, "error": "query interrupted"}]}
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert jobs
    for _ in range(50):   # the status tracker follows the listener bus
        running = [j for j in jobs
                   if getattr(st.getJobInfo(j), "status", None) == "RUNNING"]
        if not running:
            break
        time.sleep(0.2)
    assert not running, running
    assert not engine._running


def test_open_bounded_spine_cap_is_400(spark):
    """An open-bounded GROUP BY time(1ns) fill(0) over the spine cap fails
    inside the plan; over HTTP it reads exactly like the bounded path's
    400."""
    from influxdb_ha_spark.functions.fill import MAX_SPINE_BUCKETS
    hi = 2 * MAX_SPINE_BUCKETS
    df = spark.createDataFrame([(0, "x", 1.0), (hi, "x", 2.0)],
                               "time long, type string, value double")
    srv, url = _engine_server(spark, "wide", df, ["type"])
    q = "SELECT count(value) FROM wide WHERE {} GROUP BY time(1ns) fill(0)"
    try:
        errors = []
        for where in (f"time >= 0 AND time <= {hi}", "time >= 0"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(url + urllib.request.quote(q.format(where)))
            assert e.value.code == 400
            errors.append(json.loads(e.value.read())["error"])
    finally:
        srv.shutdown()
    assert errors[0] == errors[1]
    assert errors[0].startswith(f"GROUP BY time() would generate {hi + 1} buckets")


@pytest.mark.parametrize("source", ["udf", "rdd"])
def test_failed_execution_error_names_cause(spark, source):
    """A statement whose Spark job fails answers with the failure's cause.
    A failing UDF arrives as PySpark's PythonException; a failing RDD
    stage as an unconverted Py4JJavaError whose own text names only the
    py4j call."""
    from pyspark.sql import functions as F

    def boom(v):
        raise ValueError(f"cannot read value {v}")

    if source == "udf":
        df = spark.range(2).select(F.col("id").alias("time"),
                                   F.lit("x").alias("type"),
                                   F.udf(boom, "double")("id").alias("value"))
    else:
        df = spark.createDataFrame(
            spark.sparkContext.parallelize([0, 1], 2).map(
                lambda i: (i, "x", boom(i))),
            "time long, type string, value double")
    srv, url = _engine_server(spark, "broken", df, ["type"])
    try:
        status, _, body = _get(url + urllib.request.quote(
            "SELECT count(value) FROM broken"))
    finally:
        srv.shutdown()
    assert status == 200
    (res,) = json.loads(body)["results"]
    assert res["statement_id"] == 0
    assert res["error"].startswith("ValueError: cannot read value "), res


def test_concurrent_writes_keep_every_point(spark):
    """Eight writers /write disjoint points to one measurement at once;
    each write merges into the generation it read, so without the
    per-measurement write lock one writer's merge can replace another's
    and drop its points. Every point must be readable afterwards."""
    import threading
    engine = Engine(Catalog(spark), database="conc")
    engine.query("CREATE DATABASE conc")
    srv, port = serve(engine)
    base = f"http://127.0.0.1:{port}"
    writers, batches, per_batch = 8, 2, 10
    start = threading.Barrier(writers)
    errors = []

    def write(w):
        try:
            start.wait()
            for b in range(batches):
                body = "\n".join(
                    f"cpu,writer=w{w} v={w * 1000 + b * per_batch + i} "
                    f"{1_700_000_000_000_000_000 + b * per_batch + i}"
                    for i in range(per_batch)).encode()
                status, _, _ = _post(base + "/write?db=conc", body)
                assert status == 204
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=write, args=(w,))
               for w in range(writers)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert not errors, errors
        res = engine.query("SELECT v, writer FROM cpu",
                           database="conc", epoch="ns")
    finally:
        srv.shutdown()
    got = {(s["tags"]["writer"], t, v) for s in res["results"][0]["series"]
           for t, v in s["values"]}
    want = {(f"w{w}", 1_700_000_000_000_000_000 + b * per_batch + i,
             float(w * 1000 + b * per_batch + i))
            for w in range(writers) for b in range(batches)
            for i in range(per_batch)}
    assert got == want
