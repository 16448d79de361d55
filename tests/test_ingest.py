"""Line protocol, write path, and streaming ingest tests."""

import time

import pytest
from pyspark.sql import functions as F

from influxdb_ha_spark.ingest import ingest_lines, validate_partition_key, \
    dedup_replicated
from influxdb_ha_spark.lineprotocol import (errors_df, parse_line,
                                            parse_lines_df, pivot_points)
from influxdb_ha_spark.model import Catalog, PartitionKey


def test_parse_line_basic():
    recs = parse_line("weather,location=us,season=summer "
                      "temperature=82,humidity=71i,ok=true,note=\"hi\" "
                      "1465839830100400200")
    assert len(recs) == 4
    by_key = {r["field_key"]: r for r in recs}
    assert by_key["temperature"]["f_float"] == 82.0
    assert by_key["humidity"]["f_int"] == 71
    assert by_key["ok"]["f_bool"] is True
    assert by_key["note"]["f_str"] == "hi"
    assert recs[0]["tags"] == {"location": "us", "season": "summer"}
    assert recs[0]["time"] == 1465839830100400200


def test_parse_line_escapes():
    recs = parse_line(r"my\,m,tag\ key=va\=lue value=1 5")
    assert recs[0]["measurement"] == "my,m"
    assert recs[0]["tags"] == {"tag key": "va=lue"}


def test_parse_line_errors():
    assert parse_line("")[0:] == []
    bad = parse_line("no_fields_here")
    assert bad[0]["error"] is not None
    bad = parse_line("m,t= value=1")
    assert bad[0]["error"] is not None


def test_parse_lines_df_and_pivot(spark):
    lines = spark.createDataFrame(
        [("asdf,type=gold value=29 1439856000000000000",),
         ("asdf,type=gold value=29 1439859000000000000",),   # write_test.go:20-29
         ("asdf,type=silver value=3,count=2i 1439859000000000001",),
         ("garbage line without fields",)],
        "value string")
    long_df = parse_lines_df(lines)
    assert errors_df(long_df).count() == 1
    wide = pivot_points(long_df, "asdf", ["type"])
    rows = {(r["time"], r["type"]): r for r in wide.collect()}
    assert rows[(1439856000000000000, "gold")]["value"] == 29.0
    assert rows[(1439859000000000001, "silver")]["count"] == 2
    assert len(rows) == 3


def test_pivot_first_write_wins_typing(spark):
    """Field type = type of the EARLIEST write, not alphabetical min over
    type tags (f_bool < f_float would otherwise let a later bool win)."""
    lines = spark.createDataFrame(
        [("m,t=a value=1.5 1000",),          # float first
         ("m,t=a value=true 2000",)],        # bool later — must not win
        "value string")
    wide = pivot_points(parse_lines_df(lines), "m", ["t"])
    assert dict(wide.dtypes)["value"] == "double"
    vals = {r["time"]: r["value"] for r in wide.collect()}
    assert vals[1000] == 1.5 and vals[2000] is None


def test_partition_key_validation(spark):
    wide = spark.createDataFrame(
        [(1, "gold", 1.0), (2, None, 2.0)],
        "time long, type string, value double")
    valid, rejected = validate_partition_key(
        wide, PartitionKey("db", "m", ["type"]))
    assert valid.count() == 1
    rej = rejected.collect()
    assert len(rej) == 1 and "type" in rej[0]["reject_reason"]


def test_ingest_end_to_end(spark, tmp_path):
    cat = Catalog(spark)
    cat.partition_keys.append(PartitionKey("sharded", "asdf", ["type"]))
    lines = spark.createDataFrame(
        [("asdf,type=gold value=29 1439856000000000000",),
         ("asdf,type=gold value=29 1439859000000000000",),
         ("asdf value=5 1439859000000000002",)],  # missing key tag → reject
        "value string")
    res = ingest_lines(cat, lines, "sharded", "asdf", ["type"],
                       str(tmp_path / "asdf"))
    assert res.n_accepted == 2
    assert res.n_rejected == 1
    m = cat.get("sharded", "asdf")
    assert m.df.count() == 2
    # partitioned layout → partition pruning on the key tag
    assert (tmp_path / "asdf" / "type=gold").exists()


def test_dedup_replicated(spark):
    df = spark.createDataFrame([(1, "a", 1.0)] * 2 + [(2, "b", 2.0)],
                               "time long, tag string, v double")
    assert dedup_replicated(df).count() == 2


def test_stream_ingest(spark, tmp_path):
    """availableNow streaming drain — the mirror/bookmark shape."""
    from influxdb_ha_spark.streaming import stream_ingest_lines
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch1.txt").write_text(
        "m,host=a v=1 1000000000\n"
        "m,host=b v=2 2000000000\n"
        "m v=3 3000000000\n")          # missing tag → dead letter
    cat = Catalog(spark)
    cat.partition_keys.append(PartitionKey("db", "m", ["host"]))
    stream = spark.readStream.format("text").load(str(src))
    q = stream_ingest_lines(
        cat, stream, "db", "m", ["host"], str(tmp_path / "table"),
        str(tmp_path / "ckpt"), dead_letter_path=str(tmp_path / "dlq"),
        trigger_once=True)
    assert q.awaitTermination(600), "stream drain timed out"
    stored = spark.read.parquet(str(tmp_path / "table"))
    assert stored.count() == 2
    dlq = spark.read.json(str(tmp_path / "dlq"))
    assert dlq.count() == 1


def test_mirror_bookmark(spark, tmp_path):
    """Mirror copies only rows past the bookmark and advances it
    (syncing/importer.go:114-139 semantics)."""
    from influxdb_ha_spark.ingest import mirror_measurement
    from influxdb_ha_spark.model import Catalog

    rows = [(i * 1000, "a", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "time long, tag string, value double")
    cat = Catalog(spark)
    m = cat.register_dataframe("db", "m", df, time_col="time", tags=["tag"])
    tgt = str(tmp_path / "mirror")

    bm = mirror_measurement(m, tgt, None)
    assert bm == 9000
    assert spark.read.parquet(tgt).count() == 10
    # nothing new → bookmark unchanged, no duplicate append
    assert mirror_measurement(m, tgt, bm) == 9000
    assert spark.read.parquet(tgt).count() == 10
    # late/new data past the bookmark is picked up incrementally
    more = spark.createDataFrame([(12000, "a", 12.0)],
                                 "time long, tag string, value double")
    m2 = cat.register_dataframe("db", "m", df.unionByName(more),
                                time_col="time", tags=["tag"])
    assert mirror_measurement(m2, tgt, bm) == 12000
    assert spark.read.parquet(tgt).count() == 11


def test_upsert_last_write_wins(spark):
    """InfluxDB point-overwrite: same (time, tagset) → new field values
    replace old; fields absent from the new point survive."""
    from influxdb_ha_spark.ingest import upsert_points
    old = spark.createDataFrame(
        [(1, "a", 10.0, 100.0), (2, "a", 20.0, 200.0)],
        "time long, tag string, x double, y double")
    new = spark.createDataFrame([(2, "a", 99.0)],
                                "time long, tag string, x double")
    out = {(r["time"], r["tag"]): (r["x"], r["y"])
           for r in upsert_points(old, new, ["tag"]).collect()}
    assert out[(1, "a")] == (10.0, 100.0)
    assert out[(2, "a")] == (99.0, 200.0)  # x replaced, y survives


def test_write_lines_upsert_and_type_conflict(spark):
    from influxdb_ha_spark.model import Catalog
    from influxdb_ha_spark.server import Engine, WriteError, write_lines
    import pytest as _pytest
    eng = Engine(Catalog(spark), database="db")
    write_lines(eng, "db", "m,tag=a x=1.5 1000\nm,tag=a x=2.5 2000\n")
    # overwrite the point at time 1000
    write_lines(eng, "db", "m,tag=a x=9.5 1000\n")
    rows = {r["time"]: r["x"] for r in
            eng.query_df("SELECT x FROM m").collect()}
    assert rows == {1000: 9.5, 2000: 2.5}
    # int field where float was first written → rejected
    with _pytest.raises(WriteError, match="exists as double"):
        write_lines(eng, "db", "m,tag=a x=3i 3000\n")


def test_write_lines_rejected_write_writes_nothing(spark):
    """A 400 leaves the catalog as it was: every measurement is checked
    before any is registered (write_handler.go:103-112 rejects the whole
    request before relaying)."""
    from influxdb_ha_spark.server import Engine, WriteError, write_lines
    cat = Catalog(spark)
    cat.partition_keys.append(PartitionKey("db", "", ["host"]))
    eng = Engine(cat, database="db")
    with pytest.raises(WriteError,
                       match=r"missing partition key tags \['host'\] for b"):
        write_lines(eng, "db", "a,host=h1 v=1 1000\nb v=2 2000")
    assert "a" not in cat.databases.get("db", {})
    # a field-type conflict in a later measurement rejects the earlier one
    write_lines(eng, "db", "b,host=h1 v=1 1000")
    with pytest.raises(WriteError, match="exists as double"):
        write_lines(eng, "db", "a,host=h1 v=1 1000\nb,host=h1 v=2i 2000")
    assert "a" not in cat.databases["db"]
    # a malformed line anywhere in the body rejects the whole body
    with pytest.raises(WriteError, match="unable to parse points"):
        write_lines(eng, "db", "a,host=h1 v=1 1000\nnot-a-point")
    assert sorted(cat.databases["db"]) == ["b"]


def test_write_lines_duplicates_in_one_body(spark):
    """Lines repeating a (time, tagset) merge as later writes do: the
    later line wins field by field and fields it lacks keep their value.
    A field's type comes from its earliest point, ties by line order."""
    from influxdb_ha_spark.server import Engine, write_lines
    eng = Engine(Catalog(spark), database="db")
    n = write_lines(eng, "db", "m,t=a x=1,y=5 1000\n"
                               "m,t=a x=8 1000\n"
                               "m,t=b z=1 2000\n"
                               "m,t=c z=2i 2000\n")
    assert n == 3
    m = eng.catalog.get("db", "m")
    assert dict(m.df.dtypes)["z"] == "double"
    rows = {(r["time"], r["t"]): (r["x"], r["y"], r["z"])
            for r in m.df.collect()}
    assert rows == {(1000, "a"): (8.0, 5.0, None),
                    (2000, "b"): (None, None, 1.0),
                    (2000, "c"): (None, None, None)}
    # the same rule across writes
    write_lines(eng, "db", "m,t=a x=100 1000\n")
    rows = {(r["time"], r["t"]): (r["x"], r["y"])
            for r in eng.catalog.get("db", "m").df.collect()}
    assert rows[(1000, "a")] == (100.0, 5.0)


def _job_counts(sc, groups):
    st, jobs = sc.statusTracker(), None
    for _ in range(50):  # the tracker is fed by the listener bus
        prev, jobs = jobs, [len(st.getJobIdsForGroup(g)) for g in groups]
        if jobs == prev:
            return jobs
        time.sleep(0.2)
    return jobs


def _python_workers() -> set[int]:
    """Pids of the Python worker processes below this process: the
    `pyspark.daemon` its JVM starts for the first Python task, and the
    daemon's forks."""
    import glob
    import os
    children: dict[int, list[int]] = {}
    cmdline: dict[int, bytes] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        pid = int(stat.split("/")[2])
        try:
            with open(stat) as f:  # "pid (comm) state ppid ..."
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdline[pid] = f.read()
        except OSError:  # the process exited meanwhile
            continue
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            todo.append(pid)
            if any(m in cmdline.get(pid, b"")
                   for m in (b"pyspark.daemon", b"pyspark.worker")):
                out.add(pid)
    return out


def test_write_lines_counts_per_write(spark):
    """Deterministic counts of the write path: no write into a measurement
    born from /write fires a Spark job or starts a Python worker (the
    merge runs in Arrow on the driver); the registered plan never stacks
    unions, no write leaves a cache entry or a persisted RDD, a reader
    holding an older generation keeps working, and a DELETE survives the
    next write."""
    import gc
    from influxdb_ha_spark.server import Engine, write_lines
    sc = spark.sparkContext
    # the session is shared: start from an empty cache so the assertion
    # below is about this write path only
    spark.catalog.clearCache()
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    workers = _python_workers()
    eng = Engine(Catalog(spark), database="db")
    groups, held = [], None
    for d in range(10):
        # every batch overlaps the previous one by 50 points
        body = "\n".join(f"m,host=h{(d * 50 + i) % 7} v={d * 100 + i}i "
                         f"{d * 50 + i}" for i in range(100))
        groups.append(f"test-write-lines-{id(eng)}-{d}")
        sc.setJobGroup(groups[-1], "write_lines")
        try:
            assert write_lines(eng, "db", body) == 100
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if d == 1:  # the first merged generation
            held = eng.catalog.get("db", "m").df
    jobs = _job_counts(sc, groups)
    assert jobs == [0] * 10, jobs
    assert _python_workers() <= workers
    df = eng.catalog.get("db", "m").df
    assert "Union" not in df._jdf.queryExecution().analyzed().toString()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= persisted
    gc.collect()
    spark._jvm.System.gc()  # let the ContextCleaner see what is unreachable
    assert held.count() == 150
    assert df.count() == 550
    eng.query("DELETE FROM m WHERE host = 'h0'", "db")
    write_lines(eng, "db", "m,host=h1 v=1i 999999")
    rows = {r["time"]: (r["host"], r["v"])
            for r in eng.catalog.get("db", "m").df.collect()}
    assert len(rows) == 550 - len(range(0, 550, 7)) + 1
    assert all(host != "h0" for host, _ in rows.values())
    assert rows[50] == ("h1", 100)  # batch 1 overwrote batch 0's point


def test_delete_waits_for_the_write_lock(spark):
    """DELETE changes a measurement under its write lock: while the lock
    is held (as a /write holds it from reading the old generation to
    registering the merged one) a DELETE blocks, and once it has run its
    effect survives the next write. A point without the tag WHERE tests
    is not deleted."""
    import threading
    from influxdb_ha_spark.server import Engine, write_lines
    eng = Engine(Catalog(spark), database="db")
    write_lines(eng, "db", "m,host=a v=1 1000\nm,host=b v=2 2000\nm v=4 4000")
    done = threading.Event()

    def delete():
        eng.query("DELETE FROM m WHERE host = 'a'", "db")
        done.set()

    t = threading.Thread(target=delete)
    with eng.catalog.write_lock("db", "m"):
        t.start()
        assert not done.wait(2)
    t.join(120)
    assert done.is_set()
    write_lines(eng, "db", "m,host=b v=3 3000")
    m = eng.catalog.get("db", "m")
    want = {(2000, "b", 2.0), (3000, "b", 3.0), (4000, None, 4.0)}
    assert {(r["time"], r["host"], r["v"]) for r in m.df.collect()} == want
    assert set(zip(*m.rows.to_pydict().values())) == want


def _held_and_plain(spark, body):
    """Two engines over the rows of one /write body: one holds them (the
    measurement is born from /write), the other registers the same rows
    as a DataFrame it does not hold."""
    from influxdb_ha_spark.model import Measurement
    from influxdb_ha_spark.server import Engine, write_lines
    held = Engine(Catalog(spark), database="db")
    write_lines(held, "db", body)
    m = held.catalog.get("db", "m")
    plain = Engine(Catalog(spark), database="db")
    plain.catalog.register(Measurement(
        name="m", database="db", tags=m.tags, fields=m.fields,
        df=spark.createDataFrame(m.rows)))
    return held, plain


HELD_BODY = "\n".join([
    "m,host=a,dc=x v=1,n=1i 1000", "m,host=b,dc=x v=2 2000",
    "m,dc=y v=4,n=4i 4000",            # no host: the compared tag is null
    "m,host=a v=5,s=\"\u00e9t\u00e9\" 5000", "m,host=\u00e9,dc=y v=-0,n=6i 6000",
    "m,host=b,dc=z v=7 -7000"])


def _rows(m):
    rows = m.rows.to_pylist() if m.rows is not None else [
        r.asDict() for r in m.df.collect()]
    return sorted(rows, key=lambda r: r["time"])


@pytest.mark.parametrize("where", [
    "host = 'a'", "host != 'a'", "host = 'a' OR time > 4500",
    "dc = 'x' AND time < 1500", "v > 1.5", "time >= 0"])
def test_held_delete_matches_spark_delete(spark, where):
    """DELETE on held rows filters them in pyarrow with /query's WHERE
    mask and runs no Spark job; it keeps the same rows as the Spark
    DELETE of a measurement that is not held, including the point whose
    compared tag is null."""
    held, plain = _held_and_plain(spark, HELD_BODY)
    sc = spark.sparkContext
    group = f"test-held-delete-{id(held)}"
    sc.setJobGroup(group, "held delete")
    try:
        held._delete_points("m", where, "db")
    finally:
        sc._jsc.clearJobGroup()
    plain.query(f"DELETE FROM m WHERE {where}", "db")
    m = held.catalog.get("db", "m")
    assert m.rows is not None and "df" not in m.__dict__
    assert _job_counts(sc, [group]) == [0]
    assert _rows(m) == _rows(plain.catalog.get("db", "m"))


def test_held_delete_outside_the_subset_uses_spark(spark):
    """A DELETE WHERE pyarrow does not answer like Spark (a regex) is
    planned in Spark; the measurement is then no longer held, and later
    writes still upsert into it."""
    from influxdb_ha_spark.server import write_lines
    held, plain = _held_and_plain(spark, HELD_BODY)
    for eng in (held, plain):
        eng.query("DELETE FROM m WHERE host =~ /^a/", "db")
    m = held.catalog.get("db", "m")
    assert m.rows is None
    assert _rows(m) == _rows(plain.catalog.get("db", "m"))
    write_lines(held, "db", "m,host=b,dc=x v=9 2000")
    rows = _rows(held.catalog.get("db", "m"))
    assert [r["v"] for r in rows if r["time"] == 2000] == [9.0]
    assert all(r["host"] != "a" for r in rows)


@pytest.mark.parametrize("q", [
    "SHOW SERIES", "SHOW SERIES FROM m", "SHOW SERIES FROM m LIMIT 2 OFFSET 1",
    "SHOW FIELD KEYS", "SHOW FIELD KEYS FROM m",
    "SHOW TAG VALUES FROM m WITH KEY = host",
    "SHOW TAG VALUES FROM m WITH KEY IN (dc, host)",
    "SHOW TAG VALUES FROM m WITH KEY =~ /o/",
    "SHOW TAG KEYS FROM m"])
def test_held_show_matches_spark(spark, q):
    """SHOW over held rows answers from the rows as VALUES relations,
    without building the measurement's DataFrame, byte for byte like the
    Spark plan of the rows that are not held (the full plan, which takes
    no driver copy): null tags first, the Spark type names of the
    fields."""
    import json
    from influxdb_ha_spark.result import to_influx_series
    held, plain = _held_and_plain(spark, HELD_BODY)
    got = json.dumps(held.query(q, "db"))
    assert got == json.dumps(to_influx_series(
        plain.query_df(q, "db"), plain._measurement_of(q) or ""))
    assert "df" not in held.catalog.get("db", "m").__dict__
    assert json.loads(got)["results"][0]["series"], q


def test_write_lines_generations_survive_block_loss(spark):
    """A compacted generation depends on no executor-held block: after
    every RDD block persisted since the first write is removed (what
    losing the executors that held them does), every write still reads."""
    from influxdb_ha_spark.server import Engine, write_lines
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    eng = Engine(Catalog(spark), database="db")
    for d in range(3):
        write_lines(eng, "db", "\n".join(
            f"m,host=h{i % 3} v={d}i {d * 10 + i}" for i in range(20)))
    for rdd_id, rdd in jsc.getPersistentRDDs().items():
        if rdd_id not in before:
            rdd.unpersist(True)
    rows = {r["time"]: r["v"] for r in eng.catalog.get("db", "m").df.collect()}
    assert rows == {t: min(t // 10, 2) for t in range(40)}


def test_write_lines_into_file_backed_measurement_is_lazy(spark, tmp_path):
    """A write into a measurement that is not held by the driver (here a
    parquet table) fires no Spark job and copies nothing: the next
    generation upserts onto the same file scan, which keeps its pushed
    filters."""
    from influxdb_ha_spark.server import Engine, write_lines
    path = str(tmp_path / "m.parquet")
    spark.createDataFrame([(t, f"h{t % 2}", float(t)) for t in range(10)],
                          "time long, host string, v double") \
        .write.parquet(path)
    cat = Catalog(spark)
    cat.register_dataframe("db", "m", spark.read.parquet(path),
                           time_col="time", tags=["host"])
    eng = Engine(cat, database="db")
    sc = spark.sparkContext
    groups = [f"test-file-backed-{id(eng)}-{d}" for d in range(2)]
    for d, g in enumerate(groups):
        sc.setJobGroup(g, "write_lines")
        try:
            write_lines(eng, "db", f"m,host=h0 v=-1 {d * 4}\n"
                                   f"m,host=h2 v=5 {100 + d}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert _job_counts(sc, groups) == [0, 0]
    df = eng.catalog.get("db", "m").df
    assert df.inputFiles()
    rows = {(r["time"], r["host"]): r["v"] for r in df.collect()}
    assert len(rows) == 12
    assert rows[(0, "h0")] == rows[(4, "h0")] == -1.0
    assert rows[(2, "h0")] == 2.0 and rows[(101, "h2")] == 5.0
    plan = df.where(F.col("time") < 3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [IsNotNull(time), LessThan(time,3)]" in plan


def test_line_protocol_export_roundtrip(spark):
    """Columnar export → parse round-trip (the reference's row→point
    conversion, importer.go:361-404, without per-row Python)."""
    from influxdb_ha_spark.lineprotocol import parse_lines_df, to_line_protocol
    rows = [(1000, "se,attle", "a b", 1.5, 7, "hi \"x\""),
            (2000, "nyc", None, 2.5, None, None)]
    df = spark.createDataFrame(
        rows, "time long, city string, zone string, temp double, "
              "cnt long, note string")
    lines = to_line_protocol(df, "weather m", ["city", "zone"],
                             ["temp", "cnt", "note"])
    back = parse_lines_df(lines, line_col="line").collect()
    assert all(r["error"] is None for r in back)
    by_time = {}
    for r in back:
        by_time.setdefault(r["time"], {})[r["field_key"]] = (
            r["f_float"] if r["f_float"] is not None else
            r["f_int"] if r["f_int"] is not None else r["f_str"])
        assert r["measurement"] == "weather m"
    assert by_time[1000] == {"temp": 1.5, "cnt": 7, "note": 'hi "x"'}
    assert by_time[2000] == {"temp": 2.5}
    tags = {r["time"]: r["tags"] for r in back}
    assert tags[1000] == {"city": "se,attle", "zone": "a b"}
    assert tags[2000] == {"city": "nyc"}


def test_reference_placement_goldens(spark):
    """The FNV-1a compound-key hash is byte-identical to the reference's
    placement hash: the exact goldens its own integration tests assert
    (service/query_handler_test.go:101-103)."""
    from influxdb_ha_spark.ingest import (fnv1a_32,
                                          reference_placement_manifest)
    from influxdb_ha_spark.model import PartitionKey

    assert fnv1a_32("gold") == 3966162835
    assert fnv1a_32("silver") == 3042244896
    assert fnv1a_32("trash") == 1583631877
    df = spark.createDataFrame(
        [(1, "gold", 1.0), (2, "gold", 2.0), (3, "silver", 3.0),
         (4, "trash", 4.0)],
        "time long, type string, value double")
    pk = PartitionKey("sharded", "treasures", ["type"])
    m = {r["compound_key"]: r["placement_hash"]
         for r in reference_placement_manifest(df, pk).collect()}
    assert m == {"gold": 3966162835, "silver": 3042244896,
                 "trash": 1583631877}
