"""clusterql, admin handler, engine routing, CQ, and result-shaping tests."""

import pytest

from influxdb_ha_spark.admin import AdminHandler, ConflictError
from influxdb_ha_spark.influxql.clusterql import (ClusterQLError,
                                                  CreatePartitionKey,
                                                  is_admin_statement,
                                                  parse_clusterql)
from influxdb_ha_spark.model import Catalog, Measurement
from influxdb_ha_spark.planner import QueryError
from influxdb_ha_spark.result import to_influx_series
from influxdb_ha_spark.server import Engine
from influxdb_ha_spark.streaming.cq import ContinuousQuery, CQRunner

from .conftest import NOW


# -- clusterql parser (parser_test.go / admin_test.go goldens) ---------------

def test_admin_detection():
    assert is_admin_statement("SHOW PARTITION KEYS")
    assert is_admin_statement("create partition key type ON sharded")
    assert not is_admin_statement("SELECT * FROM treasures")
    assert not is_admin_statement("SHOW MEASUREMENTS")


def test_parse_create_partition_key():
    s = parse_clusterql("CREATE PARTITION KEY type.host ON db.cpu")
    assert isinstance(s, CreatePartitionKey)
    assert s.tags == ["type", "host"] and s.database == "db" and s.measurement == "cpu"


def test_parse_error_golden():
    # admin_test.go:88-90 error format
    with pytest.raises(ClusterQLError, match="unexpected end of statement, expecting KEY"):
        parse_clusterql("CREATE PARTITION")


def test_admin_handler_partition_keys(spark):
    cat = Catalog(spark)
    h = AdminHandler(cat)
    h.handle("CREATE PARTITION KEY server_id ON test_db.cpu")
    rows = h.handle("SHOW PARTITION KEYS").collect()
    assert [tuple(r) for r in rows] == [("test_db", "cpu", "server_id")]
    with pytest.raises(ConflictError):   # duplicate → 409 (admin_test.go:53-54)
        h.handle("CREATE PARTITION KEY other ON test_db.cpu")
    h.handle("DROP PARTITION KEY ON test_db.cpu")
    assert h.handle("SHOW PARTITION KEYS").count() == 0


def test_show_nodes(spark):
    h = AdminHandler(Catalog(spark))
    df = h.show_nodes()
    assert df.columns == ["name", "data location"]  # admin.go:143
    assert df.count() >= 1


def test_replication_factor(spark):
    cat = Catalog(spark)
    h = AdminHandler(cat)
    assert cat.replication_factors[""] == 2  # resolver.go:36 default
    h.handle("SET REPLICATION FACTOR 3 ON mydb")
    assert cat.replication_factors["mydb."] == 3


def test_users_auth(spark):
    h = AdminHandler(Catalog(spark))
    with pytest.raises(PermissionError):   # first user must be admin
        h.create_user("bob", "pw")
    h.create_user("root", "secret", admin=True)
    h.create_user("bob", "pw")
    assert h.authenticate("root", "secret")
    assert not h.authenticate("root", "wrong")
    assert h.authorize("root", "anydb", "WRITE")      # admin → all
    assert not h.authorize("bob", "db1", "READ")
    h.grant("bob", "db1", "READ")
    assert h.authorize("bob", "db1", "READ")
    assert not h.authorize("bob", "db1", "WRITE")
    h.set_password("bob", "pw2")
    assert h.authenticate("bob", "pw2")
    users = h.show_users().collect()
    assert [(r[0], r[1]) for r in users] == [("bob", False), ("root", True)]


# -- Engine routing (routing.go:96-152) ---------------------------------------

@pytest.fixture()
def engine(treasures):
    return Engine(treasures, database="sharded", now_ns=NOW)


def test_engine_select(engine):
    rows = engine.query_df(
        "SELECT mean(value) FROM treasures WHERE type='gold'").collect()
    assert rows[0]["mean"] == 80.0


def test_engine_explain(engine):
    """EXPLAIN SELECT returns the Catalyst plan tree; ANALYZE executes and
    reports the AQE-final physical plan; non-SELECT → QueryError."""
    lines = [r["QUERY PLAN"] for r in engine.query_df(
        "EXPLAIN SELECT mean(value) FROM treasures GROUP BY type").collect()]
    text = "\n".join(lines)
    assert "Physical Plan" in text and "HashAggregate" in text
    an = [r["QUERY PLAN"] for r in engine.query_df(
        "EXPLAIN ANALYZE SELECT count(value) FROM treasures").collect()]
    assert "AQE final" in an[0]
    with pytest.raises(QueryError):
        engine.query_df("EXPLAIN DROP SERIES FROM treasures")


def test_show_and_kill_queries(spark, tmp_path):
    """SHOW QUERIES lists an in-flight /query even while every task slot
    is busy (the listing is driver-local — no Spark job); KILL QUERY
    cancels its job group so the collecting thread errors out; finished
    queries drop off the list.

    Synchronization is a filesystem latch, not wall-clock sleeps: the scan
    UDF touches `started` when a task begins and then holds until
    `release` appears (60 s safety cap), so the query is deterministically
    in flight for the whole SHOW/KILL window."""
    import os
    import threading
    import time as _time

    from pyspark.sql import functions as F

    started_flag = str(tmp_path / "started")
    release_flag = str(tmp_path / "release")

    def hold(v):
        open(started_flag, "a").close()
        for _ in range(1200):
            if os.path.exists(release_flag):
                break
            _time.sleep(0.05)
        return float(v)

    # fresh Catalog: this test registers its own measurement (CLAUDE.md
    # invariant — never mutate the session-scoped treasures fixture)
    cat = Catalog(spark)
    base = spark.range(8).select(
        F.lit(0).cast("long").alias("time"),
        F.lit("x").alias("type"),
        F.udf(hold, "double")(F.col("id")).alias("value"))
    cat.register(Measurement(name="slowtab", database="sharded",
                             tags=["type"], fields=["value"], df=base))
    eng = Engine(cat, database="sharded", now_ns=NOW)

    errors = []

    def run():
        try:
            eng.query("SELECT count(value) AS n FROM slowtab")
        except Exception as exc:  # cancellation surfaces as a Py4J error
            errors.append(exc)

    t = threading.Thread(target=run)
    t.start()
    try:
        deadline = _time.time() + 30
        while not os.path.exists(started_flag):
            assert _time.time() < deadline, "scan tasks never started"
            assert t.is_alive() or not errors, f"query died early: {errors}"
            _time.sleep(0.05)
        # the scan is now provably mid-flight and latched open
        rows = eng.query_df("SHOW QUERIES").collect()
        active = [r for r in rows if "slowtab" in r["query"]]
        assert active, f"in-flight query missing from SHOW QUERIES: {rows}"
        assert active[0]["database"] == "sharded"
        assert active[0]["kind"] == "interactive"
        qid = active[0]["qid"]
        killed = eng.query_df(f"KILL QUERY {qid}").collect()
        assert killed[0]["status"] == "killed"
        t.join(timeout=60)
        assert not t.is_alive() and errors, "query was not cancelled"
    finally:
        open(release_flag, "a").close()   # unstick tasks if kill failed
        t.join(timeout=90)
    assert all("slowtab" not in r["query"]
               for r in eng.query_df("SHOW QUERIES").collect())
    with pytest.raises(QueryError, match="no such query id"):
        eng.query_df("KILL QUERY 99999")


def test_kill_query_isolation(spark, tmp_path):
    """Cancelling one in-flight query must not disturb a concurrent one:
    job groups are per-query, so KILL QUERY q1 errors q1's thread while
    q2 (latched on its own file) completes with a correct result."""
    import os
    import threading
    import time as _time

    from pyspark.sql import functions as F

    cat = Catalog(spark)
    flags = {}
    for name in ("ka", "kb"):
        started = str(tmp_path / f"{name}.started")
        release = str(tmp_path / f"{name}.release")
        flags[name] = (started, release)

        def hold(v, _s=started, _r=release):
            open(_s, "a").close()
            for _ in range(1200):
                if os.path.exists(_r):
                    break
                _time.sleep(0.05)
            return float(v)

        base = spark.range(8).select(
            F.lit(0).cast("long").alias("time"),
            F.lit("x").alias("type"),
            F.udf(hold, "double")(F.col("id")).alias("value"))
        cat.register(Measurement(name=name, database="sharded",
                                 tags=["type"], fields=["value"], df=base))
    eng = Engine(cat, database="sharded", now_ns=NOW)

    results, errors = {}, {}

    def run(name):
        try:
            results[name] = eng.query(
                f"SELECT sum(value) AS s FROM {name}")
        except Exception as exc:
            errors[name] = exc

    threads = {n: threading.Thread(target=run, args=(n,)) for n in flags}
    try:
        for t in threads.values():
            t.start()
        # whichever query's job wins the FIFO race holds every local[4]
        # slot (submission order between the two threads is not
        # deterministic); the other is REGISTERED driver-side immediately
        # but its tasks queue. Kill the running one; the queued one must
        # inherit the slots and finish unharmed.
        deadline = _time.time() + 30
        victim = None
        while victim is None:
            assert _time.time() < deadline, "neither scan ever started"
            for n, (s, _) in flags.items():
                if os.path.exists(s):
                    victim = n
                    break
            _time.sleep(0.05)
        other = "kb" if victim == "ka" else "ka"
        listed = eng.query_df("SHOW QUERIES").collect()
        by_query = {r["query"]: r["qid"] for r in listed
                    if r["kind"] == "interactive"}
        qv = next(v for k, v in by_query.items() if f"FROM {victim}" in k)
        assert any(f"FROM {other}" in k for k in by_query), \
            "queued query missing from the driver-side listing"
        eng.query_df(f"KILL QUERY {qv}").collect()
        threads[victim].join(timeout=60)
        assert not threads[victim].is_alive() and victim in errors
        # the survivor inherits the freed slots, hits its own latch alive
        deadline = _time.time() + 60
        while not os.path.exists(flags[other][0]):
            assert _time.time() < deadline, "survivor never got the slots"
            _time.sleep(0.05)
        assert other not in errors and other not in results
        open(flags[other][1], "a").close()
        threads[other].join(timeout=90)
        assert not threads[other].is_alive() and other not in errors
        vals = results[other]["results"][0]["series"][0]["values"]
        assert vals[0][-1] == float(sum(range(8)))
    finally:
        for _, r in flags.values():
            open(r, "a").close()
        for t in threads.values():
            t.join(timeout=90)


def test_engine_show(engine):
    names = [r["name"] for r in engine.query_df("SHOW MEASUREMENTS").collect()]
    assert names == ["treasures"]
    keys = engine.query_df("SHOW TAG KEYS").collect()
    assert [(r[0], r[1]) for r in keys] == [("treasures", "type")]
    vals = [r["value"] for r in engine.query_df(
        "SHOW TAG VALUES FROM treasures WITH KEY = type").collect()]
    assert vals == ["gold", "silver", "trash"]


def test_engine_admin_route(engine):
    engine.query_df("CREATE PARTITION KEY host ON otherdb.cpu")
    assert engine.query_df("SHOW PARTITION KEYS ON otherdb").count() == 1


def test_engine_rejected_statements(engine):
    for q in ("DROP SHARD 1", "SHOW SHARDS", "SHOW STATS",
              "SHOW DIAGNOSTICS"):
        with pytest.raises(QueryError, match="not supported on cluster"):
            engine.query_df(q)  # routing.go:113-119
    # KILL QUERY is *implemented* here (beyond the reference, which rejects
    # it at routing.go:117) — an unknown qid is a 400, not "not supported"
    with pytest.raises(QueryError, match="no such query id"):
        engine.query_df("KILL QUERY 2")


def test_engine_drop_series(spark, treasures):
    # isolated catalog — DROP SERIES mutates the measurement
    iso = Catalog(spark)
    iso.register_dataframe("sharded", "treasures",
                           treasures.get("sharded", "treasures").df,
                           time_col="time", tags=["type"])
    eng = Engine(iso, database="sharded", now_ns=NOW)
    before = eng.query_df("SELECT value FROM treasures").count()
    eng.query_df("DROP SERIES FROM treasures WHERE type='gold'")
    after = eng.query_df("SELECT value FROM treasures").count()
    assert after == before - 2


def test_engine_drop_series_regex(spark):
    """DROP SERIES FROM /regex/ applies across every matching measurement
    (InfluxQL 1.x regex sources on the broadcast-DDL path)."""
    cat = Catalog(spark)
    for name in ("cpu_east", "cpu_west", "mem_east"):
        df = spark.createDataFrame(
            [(1, "gold", 1.0), (2, "trash", 2.0)],
            "time long, type string, value double")
        cat.register_dataframe("sharded", name, df, time_col="time",
                               tags=["type"])
    eng = Engine(cat, database="sharded", now_ns=NOW)
    eng.query_df("DROP SERIES FROM /^cpu_/ WHERE type='gold'")
    assert eng.query_df("SELECT value FROM cpu_east").count() == 1
    assert eng.query_df("SELECT value FROM cpu_west").count() == 1
    assert eng.query_df("SELECT value FROM mem_east").count() == 2
    eng.query_df("DROP SERIES FROM /east/")
    assert eng.query_df("SELECT value FROM cpu_east").count() == 0
    assert eng.query_df("SELECT value FROM mem_east").count() == 0
    assert eng.query_df("SELECT value FROM cpu_west").count() == 1
    # DELETE FROM /re/ rides the same broadcast path
    eng.query_df("DELETE FROM /west/")
    assert eng.query_df("SELECT value FROM cpu_west").count() == 0


def test_engine_json_result(engine):
    out = engine.query("SELECT mean(value) FROM treasures WHERE type='gold'")
    series = out["results"][0]["series"][0]
    assert series["name"] == "treasures"
    assert series["columns"][0] == "time" or "mean" in series["columns"]
    out = engine.query("SELECT value FROM treasures WHERE type='gold'",
                       epoch="s")
    vals = out["results"][0]["series"][0]["values"]
    assert all(isinstance(v[0], int) for v in vals)  # numeric epoch


def test_result_shaping_groups_series(spark, treasures):
    df = Engine(treasures, "sharded", now_ns=NOW).query_df(
        "SELECT mean(value) FROM treasures GROUP BY type")
    shaped = to_influx_series(df, "treasures", ["type"])
    series = shaped["results"][0]["series"]
    assert len(series) == 3
    assert {s["tags"]["type"] for s in series} == {"gold", "silver", "trash"}


def test_result_messages_and_chunking(spark, treasures):
    """query_utils.go:15-28 shape parity: messages ride on the result;
    chunk_result splits values with partial flags on all but the last."""
    from influxdb_ha_spark.result import chunk_result

    df = Engine(treasures, "sharded", now_ns=NOW).query_df(
        "SELECT value FROM treasures")
    shaped = to_influx_series(df, "treasures",
                              messages=[("warning", "example note")])
    res = shaped["results"][0]
    assert res["messages"] == [{"level": "warning", "text": "example note"}]
    n_rows = len(res["series"][0]["values"])
    chunks = chunk_result(res, 1)
    assert len(chunks) == n_rows
    assert all(c["partial"] for c in chunks[:-1])
    assert "partial" not in chunks[-1]
    assert chunks[0]["messages"] == res["messages"]  # first chunk only
    assert "messages" not in chunks[1]
    # unsplit result passes through untouched
    assert chunk_result(res, 10_000) == [res]


# -- continuous queries --------------------------------------------------------

def test_cq_batch_and_show(spark, treasures):
    eng = Engine(treasures, database="sharded", now_ns=NOW)
    eng.query_df("CREATE CONTINUOUS QUERY avg_t ON sharded BEGIN "
                 "SELECT mean(value) INTO mean_treasure FROM treasures "
                 "GROUP BY time(1h) END")
    shows = eng.query_df("SHOW CONTINUOUS QUERIES").collect()
    assert shows[0]["name"] == "avg_t"
    out = eng.cq.run_batch("avg_t")
    assert out.count() > 0
    # INTO target became a queryable measurement
    assert eng.query_df("SELECT mean(mean) FROM mean_treasure").count() == 1
    eng.query_df("DROP CONTINUOUS QUERY avg_t ON sharded")
    assert eng.query_df("SHOW CONTINUOUS QUERIES").count() == 0


def test_cq_stream_plan(spark, treasures, tmp_path):
    """CQ over a real stream: rate source → windowed mean → memory sink."""
    runner = CQRunner(treasures, now_ns=NOW)
    runner.create(ContinuousQuery(
        name="s", database="sharded",
        query="SELECT mean(value) INTO m2 FROM treasures GROUP BY time(1s)"))
    stream = (spark.readStream.format("rate").option("rowsPerSecond", "50")
              .load()
              .selectExpr("CAST(unix_micros(timestamp) AS BIGINT) * 1000 AS time",
                          "CAST(value AS DOUBLE) AS value"))
    plan = runner.stream_plan("s", stream, watermark="2 seconds")
    q = (plan.writeStream.format("memory").queryName("cq_out")
         .outputMode("append").start())
    try:
        import time as _t
        deadline = _t.time() + 60
        n = 0
        while _t.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT * FROM cq_out").count()
            if n > 0:
                break
            _t.sleep(1)
        assert spark.table("cq_out").columns[0] == "time"
        assert n > 0
    finally:
        q.stop()


def test_engine_retention_policy_statements(engine):
    engine.query_df("CREATE RETENTION POLICY weekly ON sharded "
                    "DURATION 168h REPLICATION 2 DEFAULT")
    rows = engine.query_df("SHOW RETENTION POLICIES ON sharded").collect()
    assert any(r["name"] == "weekly" and r["default"] for r in rows)
    engine.query_df("DROP RETENTION POLICY weekly ON sharded")
    rows = engine.query_df("SHOW RETENTION POLICIES ON sharded").collect()
    assert not any(r["name"] == "weekly" for r in rows)


def test_engine_subscription_statements(engine):
    engine.query_df('CREATE SUBSCRIPTION "sub0" ON "sharded"."autogen" '
                    "DESTINATIONS ALL 'http://h1:9092'")
    rows = engine.query_df("SHOW SUBSCRIPTIONS").collect()
    assert rows[0]["name"] == "sub0" and rows[0]["mode"] == "ALL"
    engine.query_df('DROP SUBSCRIPTION "sub0" ON "sharded"."autogen"')
    assert engine.query_df("SHOW SUBSCRIPTIONS").count() == 0


def test_engine_user_statements(engine):
    engine.query_df("CREATE USER root WITH PASSWORD 'secret' "
                    "WITH ALL PRIVILEGES")
    engine.query_df("CREATE USER reader WITH PASSWORD 'r'")
    engine.query_df("GRANT READ ON sharded TO reader")
    users = {r["user"]: r["admin"]
             for r in engine.query_df("SHOW USERS").collect()}
    assert users == {"root": True, "reader": False}
    assert engine.admin.authorize("reader", "sharded", "READ")
    assert not engine.admin.authorize("reader", "sharded", "WRITE")
    engine.query_df("REVOKE READ ON sharded FROM reader")
    assert not engine.admin.authorize("reader", "sharded", "READ")
    engine.query_df("SET PASSWORD FOR reader = 'n3w'")
    assert engine.admin.authenticate("reader", "n3w")
    engine.query_df("DROP USER reader")
    assert engine.query_df("SHOW USERS").count() == 1


def test_select_into(spark):
    """Batch SELECT … INTO materializes the result as a queryable
    measurement (the non-scheduled form of a CQ). Fresh catalog — INTO
    registers a new measurement."""
    from influxdb_ha_spark.model import Catalog
    from influxdb_ha_spark.server import Engine
    rows = [(i, t, v) for i, (t, v) in enumerate(
        [("gold", 100.0), ("gold", 60.0), ("trash", 0.0), ("silver", 52.0)])]
    df = spark.createDataFrame(rows, "time long, type string, value double")
    cat = Catalog(spark)
    cat.register_dataframe("sharded", "treasures", df, time_col="time",
                           tags=["type"])
    eng = Engine(cat, database="sharded")
    r = eng.query_df("SELECT sum(value) AS s INTO treasure_sums "
                     "FROM treasures GROUP BY type").collect()
    assert r[0]["written"] == "treasure_sums" and r[0]["n"] == 3
    out = eng.query_df("SELECT s FROM treasure_sums WHERE type='gold'")
    assert out.collect()[0]["s"] == 160.0


def test_delete_from_with_time_predicate(spark):
    from influxdb_ha_spark.model import Catalog
    from influxdb_ha_spark.server import Engine
    # fresh catalog — DELETE mutates measurement state
    rows = [(i, t, v) for i, (t, v) in enumerate(
        [("gold", 100.0), ("gold", 60.0), ("trash", 0.0),
         ("silver", 50.0), ("silver", 2.0)])]
    df = spark.createDataFrame(rows, "time long, type string, value double")
    cat = Catalog(spark)
    cat.register_dataframe("sharded", "treasures", df, time_col="time",
                           tags=["type"])
    eng = Engine(cat, database="sharded")
    before = eng.query_df("SELECT count(value) AS n FROM treasures").collect()[0]["n"]
    assert before == 5
    eng.query_df("DELETE FROM treasures WHERE type = 'silver'")
    assert eng.query_df("SELECT count(value) AS n FROM treasures").collect()[0]["n"] == 3
    eng.query_df("DELETE FROM treasures")
    assert eng.query_df("SELECT count(value) AS n FROM treasures").collect()[0]["n"] == 0


def test_show_grants_and_queries(engine):
    engine.query_df("CREATE USER admin2 WITH PASSWORD 'p' WITH ALL PRIVILEGES") \
        if not engine.admin.users else None
    engine.query_df("CREATE USER gq WITH PASSWORD 'p'")
    engine.query_df("GRANT WRITE ON sharded TO gq")
    rows = engine.query_df("SHOW GRANTS FOR gq").collect()
    assert [(r["database"], r["privilege"]) for r in rows] == [("sharded", "WRITE")]
    assert engine.query_df("SHOW QUERIES").columns == [
        "qid", "query", "database", "duration_s", "kind"]


def test_retention_enforcement(spark):
    from influxdb_ha_spark.maintenance import enforce_retention
    from influxdb_ha_spark.model import Catalog
    cat = Catalog(spark)
    rows = [(i * 10**9, "a", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "time long, tag string, value double")
    cat.register_dataframe("db", "m", df, time_col="time", tags=["tag"])
    cat.retention_policies["db"] = [
        {"name": "rp", "duration": "5s", "default": True}]
    trimmed = enforce_retention(cat, "db", now_ns=10 * 10**9)
    assert trimmed == {"m": 5 * 10**9}
    assert cat.get("db", "m").df.count() == 5  # times 5..9 survive
    # a measurement born from /write has its held rows trimmed, so the
    # next write merges into the trimmed rows and the expired points stay
    # gone
    from influxdb_ha_spark.server import write_lines
    eng = Engine(cat, database="db")
    write_lines(eng, "db", "\n".join(f"w,tag=a v={i} {i * 10**9}"
                                     for i in range(10)))
    trimmed = enforce_retention(cat, "db", now_ns=10 * 10**9)
    assert trimmed == {"m": 5 * 10**9, "w": 5 * 10**9}
    assert cat.get("db", "w").rows.num_rows == 5
    write_lines(eng, "db", f"w,tag=a v=10 {10 * 10**9}")
    m = cat.get("db", "w")
    want = [i * 10**9 for i in range(5, 11)]
    assert sorted(r["time"] for r in m.df.collect()) == want
    assert sorted(m.rows["time"].to_pylist()) == want


def test_show_queries_during_concurrent_queries(engine):
    """SHOW QUERIES lists a snapshot of the running queries: it never
    fails while eight other threads start and finish queries."""
    import sys
    import threading
    import time

    errors = []

    def run():
        try:
            for _ in range(4):
                engine.query("SELECT count(value) FROM treasures")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: races show sooner
    try:
        for t in threads:
            t.start()
        shows, deadline = 0, time.time() + 300
        while any(t.is_alive() for t in threads) and time.time() < deadline:
            res = engine.query("SHOW QUERIES")
            assert "error" not in res["results"][0], res
            shows += 1
        for t in threads:
            t.join(max(1.0, deadline - time.time()))
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert shows


def test_show_tag_values_key_variants(engine):
    one = engine.query_df('SHOW TAG VALUES ON sharded FROM treasures '
                          'WITH KEY = "type"').collect()
    inl = engine.query_df('SHOW TAG VALUES ON sharded FROM treasures '
                          'WITH KEY IN ("type", "nope")').collect()
    rex = engine.query_df('SHOW TAG VALUES ON sharded FROM treasures '
                          'WITH KEY =~ /^ty/').collect()
    vals = sorted(r["value"] for r in one)
    assert vals == ["gold", "silver", "trash"]
    assert sorted(r["value"] for r in inl) == vals
    assert sorted(r["value"] for r in rex) == vals


def test_show_limit_offset(engine):
    vals = [r["value"] for r in engine.query_df(
        'SHOW TAG VALUES FROM treasures WITH KEY = "type" '
        "LIMIT 1 OFFSET 1").collect()]
    assert vals == ["silver"]


def test_compaction(spark, tmp_path):
    """Small-files compaction: many micro-batch files → few, same rows."""
    from influxdb_ha_spark.maintenance import compact_measurement
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(1000)],
        "time long, tag string, value double")
    # simulate many tiny micro-batch appends
    for chunk in range(10):
        (df.where((df.time % 10) == chunk).repartition(4)
           .write.mode("append").partitionBy("tag").parquet(path))
    stats = compact_measurement(spark, path, ["tag"],
                                target_rows_per_file=1000)
    assert stats["rows"] == 1000
    assert stats["files_after"] < stats["files_before"] / 4
    assert spark.read.parquet(path).count() == 1000


def test_show_measurements_with_regex(engine):
    assert engine.query_df(
        "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^trea/").count() == 1
    assert engine.query_df(
        "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^zzz/").count() == 0
    assert engine.query_df(
        'SHOW MEASUREMENTS WITH MEASUREMENT = "treasures"').count() == 1


def test_alter_retention_policy(engine):
    engine.query_df("CREATE RETENTION POLICY hot ON sharded "
                    "DURATION 24h REPLICATION 1")
    engine.query_df("ALTER RETENTION POLICY hot ON sharded "
                    "DURATION 48h REPLICATION 2 DEFAULT")
    rows = {r["name"]: r for r in engine.query_df(
        "SHOW RETENTION POLICIES ON sharded").collect()}
    assert rows["hot"]["duration"] == "48h" and rows["hot"]["default"]
    engine.query_df("DROP RETENTION POLICY hot ON sharded")


def test_engine_json_epoch_ms_with_buckets(engine):
    out = engine.query("SELECT count(value) AS n FROM treasures "
                       "GROUP BY time(1h) fill(none)", epoch="ms")
    series = out["results"][0]["series"][0]
    tcol = series["columns"].index("time")
    for v in series["values"]:
        assert isinstance(v[tcol], int)
        assert v[tcol] < 10**16  # ms magnitude, not ns


def test_show_cardinality_statements(spark, treasures):
    """SHOW <x> [EXACT] CARDINALITY family (influxql 1.x meta surface).
    Isolated catalog: other tests register extra measurements (INTO, CQ)
    on the shared one, which would shift the counts."""
    iso = Catalog(spark)
    iso.register_dataframe("sharded", "treasures",
                           treasures.get("sharded", "treasures").df,
                           time_col="time", tags=["type"])
    eng = Engine(iso, database="sharded", now_ns=NOW)
    def one(q):
        return eng.query_df(q).first()["count"]
    assert one("SHOW MEASUREMENT CARDINALITY") == 1
    assert one("SHOW SERIES CARDINALITY") == 3
    assert one("SHOW SERIES EXACT CARDINALITY") == 3
    assert one("SHOW TAG KEY CARDINALITY") == 1
    assert one("SHOW FIELD KEY CARDINALITY") >= 1
    assert one("SHOW TAG VALUES CARDINALITY FROM treasures "
               "WITH KEY = type") == 3
    # implicit autogen policy always present
    rp = eng.query_df("SHOW RETENTION POLICIES ON sharded").collect()
    assert rp and rp[0]["name"] == "autogen" and rp[0]["default"]


def test_cq_resample_every_for(spark):
    """CREATE CONTINUOUS QUERY ... RESAMPLE EVERY <d> FOR <d>: EVERY is the
    trigger cadence, FOR narrows each recompute to the trailing coverage
    window and splices it over the existing target (influxql 1.x CQ
    resampling; the reference copies CQ definitions verbatim,
    importer.go:323-333)."""
    day = 86_400_000_000_000
    rows = [(d * day + 1000, "a", float(d * 10 + i))
            for d in range(4) for i in range(2)]
    iso = Catalog(spark)
    iso.register_dataframe(
        "db", "m", spark.createDataFrame(rows, "time long, tag string, v double"),
        time_col="time", tags=["tag"])
    eng = Engine(iso, database="db", now_ns=4 * day)
    eng.query_df("CREATE CONTINUOUS QUERY c ON db RESAMPLE EVERY 1h FOR 2d "
                 "BEGIN SELECT count(v) AS n INTO tgt FROM m "
                 "GROUP BY time(1d) fill(none) END")
    cq = eng.cq.cqs["c"]
    assert cq.every == "1h" and cq.for_ == "2d"
    shown = eng.query_df("SHOW CONTINUOUS QUERIES").first()["query"]
    assert "RESAMPLE EVERY 1h FOR 2d" in shown

    out1 = eng.cq.run_batch("c")
    # FOR 2d from now=day4 → only buckets day2, day3 computed
    assert sorted(r["time"] for r in out1.collect()) == [2 * day, 3 * day]

    # new late data in day3 + old data in day0: recompute covers day3
    # only; day0 stays untouched (outside the window, spliced from target)
    m = iso.get("db", "m")
    extra = spark.createDataFrame(
        [(3 * day + 5000, "a", 99.0)], "time long, tag string, v double")
    iso.register_dataframe("db", "m", m.df.unionByName(extra),
                           time_col="time", tags=["tag"])
    out2 = eng.cq.run_batch("c")
    got = {r["time"]: r["n"] for r in out2.collect()}
    assert got[3 * day] == 3      # picked up the late point
    assert got[2 * day] == 2


def test_cq_run_due_cadence(spark):
    """run_due ticks CQs on their RESAMPLE EVERY cadence (GROUP BY
    interval when absent): due on first tick, skipped before the cadence
    elapses, due again after."""
    day = 86_400_000_000_000
    hour = 3_600_000_000_000
    iso = Catalog(spark)
    iso.register_dataframe(
        "db", "m",
        spark.createDataFrame([(i * hour, "a", float(i)) for i in range(48)],
                              "time long, tag string, v double"),
        time_col="time", tags=["tag"])
    eng = Engine(iso, database="db", now_ns=2 * day)
    eng.query_df("CREATE CONTINUOUS QUERY fast ON db RESAMPLE EVERY 1h "
                 "BEGIN SELECT count(v) AS n INTO t1 FROM m "
                 "GROUP BY time(1d) fill(none) END")
    eng.query_df("CREATE CONTINUOUS QUERY slow ON db BEGIN "
                 "SELECT count(v) AS n INTO t2 FROM m "
                 "GROUP BY time(1d) fill(none) END")
    t0 = 2 * day
    assert sorted(eng.cq.run_due(t0)) == ["fast", "slow"]
    assert eng.cq.run_due(t0 + hour // 2) == []          # nothing due yet
    assert eng.cq.run_due(t0 + hour) == ["fast"]          # EVERY 1h elapsed
    assert sorted(eng.cq.run_due(t0 + day + hour)) == ["fast", "slow"]
    assert iso.get("db", "t1").df.count() > 0


def test_show_on_empty_catalog(spark):
    """SHOW statements must not crash on an empty catalog (schema can't be
    inferred from an empty dataset — regression for DROP MEASUREMENT of
    the last measurement)."""
    iso = Catalog(spark)
    eng = Engine(iso, database="db")
    assert eng.query_df("SHOW MEASUREMENTS").count() == 0
    assert eng.query_df("SHOW DATABASES").count() == 0
    assert eng.query_df("SHOW SERIES").count() == 0
    assert eng.query_df("SHOW TAG KEYS").count() == 0


def test_update_partition_key_and_show_rf(spark, tmp_path):
    """The reference's commented-out grammar (language.go:52-63),
    implemented: UPDATE PARTITION KEY swaps the key and physically
    re-lays-out a hive-partitioned measurement; SHOW REPLICATION FACTORS
    lists the catalog's RF registry."""
    import os

    from influxdb_ha_spark.admin import AdminHandler
    from influxdb_ha_spark.influxql.clusterql import (ClusterQLError,
                                                      is_admin_statement)
    from influxdb_ha_spark.model import Catalog
    from influxdb_ha_spark.sources import load_partitioned, write_partitioned

    assert is_admin_statement("UPDATE PARTITION KEY x ON db")
    assert is_admin_statement("SHOW REPLICATION FACTORS")
    cat = Catalog(spark)
    h = AdminHandler(cat)
    # no key yet -> loud error
    with pytest.raises(ClusterQLError, match="no partition key"):
        h.handle("UPDATE PARTITION KEY host ON udb.cpu")
    # physical measurement hive-partitioned on host, key host
    src = spark.createDataFrame(
        [(1_500_000_000_000_000_000 + i, f"h{i % 2}", f"r{i % 3}", float(i))
         for i in range(12)],
        "time long, host string, rack string, value double")
    path = str(tmp_path / "cpu")
    m = cat.register_dataframe("udb", "cpu", src, time_col="time",
                               tags=["host", "rack"])
    write_partitioned(m, path, partition_tags=["host"])
    load_partitioned(cat, "udb", "cpu", path, tags=["host", "rack"])
    h.handle("CREATE PARTITION KEY host ON udb.cpu")
    out = h.handle("UPDATE PARTITION KEY rack ON udb.cpu").collect()
    assert [(r["measurement"], r["tags"]) for r in out] == [("cpu", "rack")]
    # the hive layout physically moved to the new key
    assert any(d.startswith("rack=") for d in os.listdir(path))
    assert cat.get("udb", "cpu").df.count() == 12
    # replication factors: default row + per-target override
    h.handle("SET REPLICATION FACTOR 3 ON udb.cpu")
    rf = {(r["database"], r["measurement"]): r["factor"]
          for r in h.handle("SHOW REPLICATION FACTORS").collect()}
    assert rf[("udb", "cpu")] == 3 and rf[("*", "")] == 2
    # the comment's original spelling parses too
    assert h.handle("SHOW REPLICATIONS FACTORS").count() == len(rf)


def test_backup_statement(spark, tmp_path):
    """The reference's last commented-out grammar line (language.go:67:
    'BACKUP * TO s3://my-bucket/'): a distributed Parquet export per
    measurement, partitioned by the registered partition-key tags so the
    backup itself keeps partition pruning."""
    import os

    from influxdb_ha_spark.admin import AdminHandler
    from influxdb_ha_spark.influxql.clusterql import (Backup, ClusterQLError,
                                                      is_admin_statement,
                                                      parse_clusterql)
    from influxdb_ha_spark.model import Catalog

    assert is_admin_statement("BACKUP * TO s3://my-bucket/")
    assert not is_admin_statement("SELECT backup FROM cpu")
    s = parse_clusterql("BACKUP * TO s3://my-bucket/")
    assert s == Backup(destination="s3://my-bucket/", database=None,
                       measurement="")
    assert parse_clusterql("BACKUP db.cpu TO /x") == Backup(
        destination="/x", database="db", measurement="cpu")
    with pytest.raises(ClusterQLError, match="expecting TO"):
        parse_clusterql("BACKUP * INTO /x")
    with pytest.raises(ClusterQLError, match="expecting destination"):
        parse_clusterql("BACKUP * TO")

    cat = Catalog(spark)
    h = AdminHandler(cat)
    src = spark.createDataFrame(
        [(1_500_000_000_000_000_000 + i, f"h{i % 2}", float(i))
         for i in range(10)],
        "time long, host string, value double")
    cat.register_dataframe("bdb", "cpu", src, time_col="time", tags=["host"])
    cat.register_dataframe("bdb", "mem", src.limit(4), time_col="time",
                           tags=["host"])
    h.handle("CREATE PARTITION KEY host ON bdb.cpu")
    dest = str(tmp_path / "bk")
    out = {r["measurement"]: r for r in h.handle(f"BACKUP * TO {dest}").collect()}
    assert set(out) == {"cpu", "mem"}
    assert out["cpu"]["partitioned_by"] == "host"  # pruning preserved
    assert out["mem"]["partitioned_by"] == ""      # no key registered
    assert any(d.startswith("host=") for d in os.listdir(out["cpu"]["location"]))
    assert spark.read.parquet(out["cpu"]["location"]).count() == 10
    assert spark.read.parquet(out["mem"]["location"]).count() == 4
    # scoped backup + unknown target errors
    one = h.handle(f"BACKUP bdb.mem TO {dest}2").collect()
    assert [r["measurement"] for r in one] == ["mem"]
    with pytest.raises(ClusterQLError, match="no measurement matches"):
        h.handle(f"BACKUP nope TO {dest}3")


def test_show_cardinality_estimated_vs_exact(spark):
    """Bare SHOW CARDINALITY is HLL-estimated (InfluxDB 1.x semantics),
    EXACT forces the exact count: with 500 series the sketch answers
    within its m=256 error bound; with tiny catalogs (the test above)
    linear counting rounds to the exact value."""
    from pyspark.sql import functions as F
    iso = Catalog(spark)
    df = spark.range(2000).select(
        (F.col("id") * 1_000_000_000).alias("time"),
        F.concat(F.lit("t"), (F.col("id") % 500).cast("string"))
        .alias("type"),
        F.col("id").cast("double").alias("value"))
    iso.register_dataframe("db", "m", df, time_col="time", tags=["type"])
    eng = Engine(iso, database="db", now_ns=NOW)
    exact = eng.query_df("SHOW SERIES EXACT CARDINALITY").first()["count"]
    est = eng.query_df("SHOW SERIES CARDINALITY").first()["count"]
    assert exact == 500
    # sigma ~ 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert 0.8 * exact <= est <= 1.2 * exact
