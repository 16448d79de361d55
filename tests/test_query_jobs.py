"""Spark jobs per /query statement, and the fill semantics behind them.

The counts are deterministic plan properties (AQE submits one job per
shuffle or broadcast stage, plus the result job), so they are asserted
exactly: a new Exchange, a range-partitioner sampling job or an eager
`.first()` while building shows up as a changed count. The statements are
the nine shapes of the `query` benchmark rotation, over a small `events`
table from the repo's own generator (tools/gen_scale.gen_events), plus the
`ingest` benchmark's read. Each answer is planned and collected the way
/query does it (`Engine.query_df(..., answer=True)`, `to_influx_series`).
`events` is one parquet file, which Spark reads as one split, so /query
answers every rotation statement from one driver copy of it
(`Measurement.answer_rows`) or from the catalog: the plain GROUP BY time()
aggregates, the raw ORDER BY time LIMIT, the subquery (its inner and its
outer aggregate) and SHOW TAG VALUES in pyarrow, SHOW MEASUREMENTS from
the catalog's names. The copy costs one job the first time a generation
is answered and none after it. The `ingest` read targets a measurement
born from /write, whose rows the driver holds: it is aggregated in
pyarrow and runs no job at all. When Spark does run a finished answer (no
copy), it plans and runs only the aggregated frame, in one partition over
a one-split source.
"""

from __future__ import annotations

import re
import time

import pytest

from influxdb_ha_spark.errors import QueryError
from influxdb_ha_spark.functions.fill import MAX_SPINE_BUCKETS
from influxdb_ha_spark.model import Catalog, Measurement, events_measurement
from influxdb_ha_spark.result import to_influx_series
from influxdb_ha_spark.server import Engine, write_lines

JAN1 = 1_704_067_200_000_000_000
DAY = 86_400_000_000_000
HOUR = 3_600_000_000_000
NOW = JAN1 + 40 * DAY


def _w(lo_day, days):
    return f"time >= {JAN1 + lo_day * DAY} AND time < {JAN1 + (lo_day + days) * DAY}"


ROTATION = [
    ("group_1h", "SELECT mean(value) FROM events "
                 f"WHERE {_w(3, 7)} GROUP BY time(1h)"),
    ("group_1h_tag", "SELECT count(value), max(value) FROM events "
                     f"WHERE {_w(5, 7)} AND event_type = 'click' "
                     "GROUP BY time(1h)"),
    ("group_1d_tag", "SELECT mean(value), sum(value) FROM events "
                     f"WHERE {_w(2, 14)} GROUP BY time(1d), event_type"),
    ("raw_limit", "SELECT value, event_id FROM events "
                  f"WHERE {_w(1, 7)} AND event_type = 'view' "
                  "ORDER BY time LIMIT 100"),
    ("fill_linear", "SELECT sum(value) FROM events "
                    f"WHERE {_w(10, 2)} AND event_type = 'signup' "
                    "GROUP BY time(5m) fill(linear)"),
    ("fill_open", "SELECT count(value) FROM events WHERE time < now() "
                  "AND event_type = 'error' GROUP BY time(1d) fill(0)"),
    ("subquery", "SELECT max(c), min(c) FROM (SELECT count(value) AS c "
                 f"FROM events WHERE {_w(4, 14)} "
                 "GROUP BY time(1d), event_type) GROUP BY event_type"),
    ("show_tag_values", "SHOW TAG VALUES FROM events WITH KEY = event_type"),
    ("show_measurements", "SHOW MEASUREMENTS"),
]

# (jobs while building the DataFrame, jobs while collecting it), once the
# `events` generation's driver copy exists: every rotation statement is
# answered from it in pyarrow or from the catalog, the ingest read from
# the rows the driver holds.
EXPECTED_JOBS = {
    "group_1h": (0, 0),
    "group_1h_tag": (0, 0),
    "group_1d_tag": (0, 0),
    "raw_limit": (0, 0),
    "fill_linear": (0, 0),
    "fill_open": (0, 0),
    "subquery": (0, 0),
    "show_tag_values": (0, 0),
    "show_measurements": (0, 0),
    "ingest_read": (0, 0),
}
FINISHED = ["group_1h", "group_1h_tag", "group_1d_tag", "fill_linear",
            "fill_open"]

# the `ingest` benchmark's read-after-write, over a measurement born from
# /write (one driver-held generation)
INGEST_READ = ("SELECT count(usage), sum(usage), max(load) FROM cpu "
               f"WHERE time >= {JAN1} AND time < {JAN1 + 10 * HOUR} "
               "GROUP BY time(10m), region fill(none)")
# the same read over a copy of cpu's rows that the driver does not hold
INGEST_READ_SPARK = INGEST_READ.replace("FROM cpu", "FROM cpu_spark")


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """A one-file `events` table: Spark reads it as one split."""
    from tools.gen_scale import gen_events
    d = tmp_path_factory.mktemp("events")
    gen_events(spark, 5000, 100).coalesce(1).write.parquet(
        str(d / "events.parquet"))
    return str(d)


def _cpu_lines(n, first=0):
    return "\n".join(
        f"cpu,region=r{i % 3},host=h{i % 7} usage={i % 11}i,load={i / 8} "
        f"{JAN1 + i * 37_000_000_000}" for i in range(first, first + n))


def _engine(spark, events_dir):
    cat, _ = events_measurement(spark, events_dir)
    eng = Engine(cat, database="default", now_ns=NOW)
    write_lines(eng, "default", _cpu_lines(1000))
    cpu = cat.get("default", "cpu")
    cat.register(Measurement(name="cpu_spark", database="default",
                             tags=cpu.tags, fields=cpu.fields,
                             df=spark.createDataFrame(cpu.rows)))
    return eng


@pytest.fixture(scope="module")
def events_engine(spark, events_dir):
    return _engine(spark, events_dir)


def _jobs(sc, group):
    """Jobs of a job group; the status tracker is fed by the listener bus,
    so read until two reads a moment apart agree."""
    st = sc.statusTracker()
    prev = None
    for _ in range(50):
        cur = len(st.getJobIdsForGroup(group))
        if cur == prev:
            return cur
        prev = cur
        time.sleep(0.2)
    return prev


def _counted(spark, eng, kind, q):
    sc = spark.sparkContext
    try:
        sc.setJobGroup(f"qj-build-{kind}", kind)
        df = eng.query_df(q, answer=True)
        sc.setJobGroup(f"qj-run-{kind}", kind)
        res = to_influx_series(df, "events", ["event_type", "region"], "ns")
    finally:
        sc._jsc.clearJobGroup()
    return ((_jobs(sc, f"qj-build-{kind}"), _jobs(sc, f"qj-run-{kind}")),
            res["results"][0]["series"])


def test_rotation_job_counts(spark, events_engine):
    events_engine.catalog.get("default", "events").answer_rows()
    got = {}
    for kind, q in ROTATION + [("ingest_read", INGEST_READ)]:
        counts, series = _counted(spark, events_engine, kind, q)
        assert series, kind
        got[kind] = counts
    assert got == EXPECTED_JOBS


# Spark jobs per statement over a source read as more than one split,
# which takes no driver copy: the two-stage aggregates run their shuffle
# stage and the result stage; the raw LIMIT one TakeOrderedAndProject
# job; the subquery its inner and outer stages.
MULTI_SPLIT_JOBS = {"group_1h": (0, 2), "fill_open": (0, 2),
                    "ingest_read": (0, 2), "raw_limit": (0, 1),
                    "subquery": (0, 4)}


def test_multi_split_source_keeps_two_jobs(spark, events_dir):
    """A source Spark reads as more than one split keeps the two-stage
    aggregate: its shuffle stage and the result stage; the raw LIMIT and
    the subquery keep their Spark jobs too (MULTI_SPLIT_JOBS). The
    one-split check reads the conf once per measurement generation, so the
    engine here is built under the small split size."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4k")
    try:
        eng = _engine(spark, events_dir)
        assert eng.catalog.get("default", "events").df \
            .rdd.getNumPartitions() > 1
        for kind, want in MULTI_SPLIT_JOBS.items():
            q = (INGEST_READ_SPARK if kind == "ingest_read"
                 else dict(ROTATION)[kind])
            counts, series = _counted(spark, eng, f"multi-{kind}", q)
            assert series and counts == want, kind
    finally:
        spark.conf.set(key, old)


# the columns of `events` a driver copy keeps: not the string field props
COPIED = ["time", "event_type", "value", "event_id", "user_id"]


def _copy_of(eng):
    from influxdb_ha_spark.model import _COPY
    return eng.catalog.get("default", "events").df.__dict__.get(_COPY)


def _full_series(eng, q):
    """The full Spark plan of `q` (no driver copy), collected and shaped
    as /query shapes its answer."""
    from influxdb_ha_spark.result import shape_series
    full = eng.query_df(q)
    tags = [t for t in ("event_type",) if t in full.columns]
    return shape_series(full.columns, full.collect(), "events", tags,
                        "ns")["results"][0]["series"]


def test_copy_costs_one_job_per_generation(spark, events_dir):
    """The first answer that needs the driver copy takes it, in one job
    while building; every later answer of the generation runs none."""
    from influxdb_ha_spark.result import FinishSpec
    eng = _engine(spark, events_dir)
    assert _copy_of(eng) is None
    got = []
    for i, kind in enumerate(FINISHED + ["show_tag_values", "group_1h"]):
        counts, series = _counted(spark, eng, f"first-{i}-{kind}",
                                  dict(ROTATION)[kind])
        assert series, kind
        got.append(counts)
    assert got == [(1, 0)] + [(0, 0)] * 6
    assert isinstance(eng.query_df(dict(ROTATION)["group_1h"], answer=True),
                      FinishSpec)
    copy = _copy_of(eng)
    assert copy.num_rows == 5000 and copy.column_names == COPIED
    assert copy.schema.types == \
        eng.catalog.get("default", "events").answer_schema().types


def test_concurrent_first_answers_take_one_copy(spark, events_dir,
                                                monkeypatch):
    """Eight threads (more than the cores) answering a generation's first
    /query at once take one copy between them: one `toArrow()`, one
    table, the same answer."""
    import sys
    import threading
    eng = _engine(spark, events_dir)
    df = eng.catalog.get("default", "events").df
    taken, to_arrow = [], type(df).toArrow

    def counted(self):
        taken.append(self)
        return to_arrow(self)

    monkeypatch.setattr(type(df), "toArrow", counted)
    q = dict(ROTATION)["group_1d_tag"]
    copies, answers, errors = [], [], []

    def answer():
        try:
            answers.append(eng.query(q, epoch="ns"))
            copies.append(eng.catalog.get("default", "events").answer_rows())
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=answer) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(taken) == 1 and taken[0].columns == COPIED
    assert len(copies) == 8 and len({id(c) for c in copies}) == 1
    assert all(a == answers[0] for a in answers)


def test_a_kept_copy_never_waits_for_another_generations_copy(
        spark, events_dir, monkeypatch):
    """While one measurement's first copy is being taken, an answer over
    another measurement whose copy is kept returns: the copy is taken
    under its own DataFrame's lock, and a kept copy takes no lock."""
    import threading
    eng = _engine(spark, events_dir)
    cat = eng.catalog
    cat.register_dataframe("default", "events2",
                           spark.read.parquet(f"{events_dir}/events.parquet"),
                           time_col="ts", tags=["event_type"],
                           fields=["value", "event_id", "user_id", "props"])
    q = dict(ROTATION)["group_1d_tag"]
    kept = eng.query(q.replace("FROM events", "FROM events2"), epoch="ns")
    df = cat.get("default", "events").df
    started, release = threading.Event(), threading.Event()
    to_arrow = type(df).toArrow

    def slow(self):   # only the copy of `events` is taken from here on
        started.set()
        release.wait(120)
        return to_arrow(self)

    monkeypatch.setattr(type(df), "toArrow", slow)
    out = {}
    first = threading.Thread(target=lambda: out.update(
        first=eng.query(q, epoch="ns")))
    other = threading.Thread(target=lambda: out.update(
        other=eng.query(q.replace("FROM events", "FROM events2"),
                        epoch="ns")))
    first.start()
    try:
        assert started.wait(120)
        other.start()
        other.join(60)
        assert not other.is_alive() and first.is_alive()
    finally:
        release.set()
        first.join(120)
        other.join(120)
    assert out["other"] == kept
    assert [dict(s, name="events2")
            for s in out["first"]["results"][0]["series"]] == \
        kept["results"][0]["series"]


def test_copy_budget_drops_the_least_recently_read_copy(spark, events_dir,
                                                        monkeypatch):
    """The copies share COPY_BUDGET_BYTES: with room for one, copying a
    second generation drops the first, whose next answer copies it again
    (one job) and drops the second."""
    from influxdb_ha_spark import model
    eng = _engine(spark, events_dir)
    cat = eng.catalog
    cat.register_dataframe("default", "events2",
                           spark.read.parquet(f"{events_dir}/events.parquet"),
                           time_col="ts", tags=["event_type"],
                           fields=["value", "event_id", "user_id", "props"])
    one, two = cat.get("default", "events"), cat.get("default", "events2")
    monkeypatch.setattr(model, "COPY_BUDGET_BYTES",
                        3 * one.answer_rows().nbytes // 2)
    assert two.answer_rows() is not None
    assert model._COPY not in one.df.__dict__
    assert model._COPY in two.df.__dict__
    q = dict(ROTATION)["group_1h"]
    counts, series = _counted(spark, eng, f"budget-{id(eng)}", q)
    assert counts == (1, 0) and series == _full_series(eng, q)
    assert model._COPY in one.df.__dict__
    assert model._COPY not in two.df.__dict__


def test_copy_over_the_budget_is_not_taken_or_kept(spark, events_dir,
                                                  monkeypatch):
    """A generation whose copy the plan estimates over COPY_BUDGET_BYTES
    takes none; one whose table is larger than the budget answers once
    from it and is not kept, and its later answers run in Spark."""
    from influxdb_ha_spark import model
    q = dict(ROTATION)["group_1h"]
    eng = _engine(spark, events_dir)
    monkeypatch.setattr(model, "COPY_BUDGET_BYTES", 1)
    counts, series = _counted(spark, eng, f"over-est-{id(eng)}", q)
    assert counts == (0, 1) and _copy_of(eng) is None
    assert series == _full_series(eng, q)
    monkeypatch.undo()

    eng = _engine(spark, events_dir)
    m = eng.catalog.get("default", "events")
    assert m.answer_schema().names == COPIED   # estimated under the budget
    monkeypatch.setattr(model, "COPY_BUDGET_BYTES", 1000)
    counts, series = _counted(spark, eng, f"over-1-{id(eng)}", q)
    assert counts == (1, 0) and series == _full_series(eng, q)
    assert _copy_of(eng) is None and m.answer_schema() is None
    counts, _ = _counted(spark, eng, f"over-2-{id(eng)}", q)
    assert counts == (0, 1) and _copy_of(eng) is None


def test_where_outside_the_subset_takes_no_copy(spark, events_dir):
    """A WHERE pyarrow does not answer (a regex, field math) is declined
    on the schema, before any copy: a fresh generation's answer runs its
    one Spark job and takes no copy."""
    eng = _engine(spark, events_dir)
    for i, where in enumerate(["event_type =~ /cl.*/", "value * 2 > 1"]):
        q = ("SELECT mean(value) FROM events "
             f"WHERE {_w(3, 7)} AND {where} GROUP BY time(1h)")
        counts, series = _counted(spark, eng, f"where-{i}-{id(eng)}", q)
        assert counts == (0, 1) and _copy_of(eng) is None
        assert series and series == _full_series(eng, q)


@pytest.mark.parametrize("change", ["delete", "retention"])
def test_delete_and_retention_drop_the_copy(spark, events_dir, change):
    """DELETE and retention replace the generation's DataFrame, so the
    copy goes with the old one: the next answer takes a new copy (one
    job) of what is left, and answers like the full Spark plan."""
    from influxdb_ha_spark.maintenance import enforce_retention
    eng = _engine(spark, events_dir)
    q = dict(ROTATION)["group_1d_tag"]
    before = eng.query(q, epoch="ns")["results"][0]["series"]
    assert _copy_of(eng) is not None
    if change == "delete":
        eng.query("DELETE FROM events WHERE event_type = 'click'")
    else:
        eng.catalog.retention_policies["default"] = [
            {"name": "r", "duration": "30d", "default": True}]
        enforce_retention(eng.catalog, "default", NOW)   # keeps from day 10
    assert _copy_of(eng) is None
    counts, series = _counted(spark, eng, f"after-{change}", q)
    assert counts == (1, 0) and series != before
    assert series == _full_series(eng, q)
    if change == "delete":
        assert "click" not in {s["tags"]["event_type"] for s in series}
    else:
        assert min(v[0] for s in series for v in s["values"]
                   if v[1] is not None) == JAN1 + 10 * DAY


@pytest.mark.parametrize("q", [
    # props is a string field, which the copy does not keep
    f"SELECT value, props FROM events WHERE {_w(1, 7)} "
    "AND event_type = 'view' ORDER BY time LIMIT 20",
    f"SELECT * FROM events WHERE {_w(1, 7)} AND event_type = 'view' "
    "ORDER BY time DESC LIMIT 20",
    f"SELECT value FROM events WHERE {_w(1, 7)} "
    "AND event_type =~ /vi.*/ LIMIT 20",
])
def test_raw_selects_outside_the_copy_keep_spark(spark, events_engine, q):
    """A raw select reading a column the copy lacks, `*` or a regex WHERE
    is planned in Spark (one TakeOrderedAndProject job) and answers like
    the full plan."""
    events_engine.catalog.get("default", "events").answer_rows()
    counts, series = _counted(spark, events_engine, f"raw-{hash(q)}", q)
    assert counts == (0, 1) and series == _full_series(events_engine, q)


def test_concurrent_driver_answers_equal_serial(events_engine):
    """Eight threads (more than the cores) sending the raw LIMIT and the
    subquery against one driver copy at once each get the serial
    answer."""
    import sys
    import threading
    qs = [dict(ROTATION)[k] for k in ("raw_limit", "subquery")]
    serial = [events_engine.query(q, epoch="ns") for q in qs]
    assert all(s["results"][0]["series"] for s in serial)
    answers, errors = [], []

    def answer(i):
        try:
            for j in range(6):
                k = (i + j) % 2
                answers.append((k, events_engine.query(qs[k], epoch="ns")))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=answer, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(answers) == 48
    assert all(a == serial[k] for k, a in answers)


def test_show_answers_are_built_on_the_driver(events_engine):
    """/query's SHOW MEASUREMENTS and SHOW TAG VALUES are DriverAnswers
    (no VALUES DataFrame, no py4j round trip) with the rows of the
    DataFrame `query_df` still returns without `answer`, LIMIT and OFFSET
    included."""
    from influxdb_ha_spark.result import DriverAnswer, collect_rows
    from pyspark.sql import DataFrame
    for q in ["SHOW MEASUREMENTS", "SHOW MEASUREMENTS LIMIT 1 OFFSET 1",
              "SHOW TAG VALUES FROM events WITH KEY = event_type",
              "SHOW TAG VALUES FROM events WITH KEY = event_type "
              "LIMIT 2 OFFSET 1",
              'SHOW TAG VALUES FROM events WITH KEY IN ("event_type")']:
        answer = events_engine.query_df(q, answer=True)
        full = events_engine.query_df(q)
        assert isinstance(answer, DriverAnswer), q
        assert isinstance(full, DataFrame), q
        cols, rows = collect_rows(answer)
        assert (cols, rows) == (full.columns,
                                [tuple(r) for r in full.collect()]), q
    assert collect_rows(events_engine.query_df("SHOW MEASUREMENTS",
                                               answer=True))[1] == [
        ("cpu",), ("cpu_spark",), ("events",)]


def test_write_into_events_sends_reads_to_spark(spark, events_dir):
    """A /write into `events` registers an upsert over the file scan,
    which is not one split: its answers go back to Spark (the aggregated
    frame, whose plan now holds the upsert's shuffle too) and take no
    copy."""
    from influxdb_ha_spark.result import FinishSpec
    eng = _engine(spark, events_dir)
    q = dict(ROTATION)["group_1h_tag"]
    eng.query(q)
    write_lines(eng, "default",
                f"events,event_type=click value=1e6,event_id=1i,user_id=1i "
                f"{JAN1 + 6 * DAY}")
    assert _copy_of(eng) is None
    assert not isinstance(eng.query_df(q, answer=True), FinishSpec)
    counts, series = _counted(spark, eng, "after-write", q)
    assert counts == (0, 3) and _copy_of(eng) is None
    assert series == _full_series(eng, q)
    assert max(v[2] for v in series[0]["values"] if v[2] is not None) == 1e6


def test_full_plans_and_explain_take_no_copy(spark, events_dir):
    """Planner.plan without `answer` (EXPLAIN, SELECT … INTO, subqueries,
    the contract keys, the traced benchmark pass), EXPLAIN itself and a
    SELECT … INTO over a subquery never take the copy, so their plans do
    not depend on earlier answers."""
    from influxdb_ha_spark.influxql.parser import parse_query
    from influxdb_ha_spark.planner import Planner
    eng = _engine(spark, events_dir)
    planner = Planner(eng.catalog, "default", now_ns=NOW)
    sc = spark.sparkContext
    group = f"qj-no-copy-{id(eng)}"
    try:
        sc.setJobGroup(group, "no copy")
        for kind in FINISHED:
            q = dict(ROTATION)[kind]
            planner.plan(parse_query(q))
            eng.query_df(q)
            eng.query_df(f"EXPLAIN {q}")
        eng.query_df(dict(ROTATION)["show_tag_values"])
    finally:
        sc._jsc.clearJobGroup()
    assert _copy_of(eng) is None
    assert _jobs(sc, group) == 0
    eng.query(f"EXPLAIN ANALYZE {dict(ROTATION)['group_1h']}")
    eng.query(dict(ROTATION)["subquery"].replace(
        "SELECT max(c), min(c) FROM", "SELECT max(c) INTO sub_max FROM"))
    assert _copy_of(eng) is None


def test_held_write_read_cycles_run_no_job(spark):
    """The `ingest` benchmark's op, ten times into one measurement: each
    1000-point /write merges in Arrow and each read-after-write is
    answered from the held rows in pyarrow. No cycle fires a Spark job or
    starts a Python worker, and the held rows are never shipped to the JVM
    (the measurement's DataFrame is never built)."""
    from influxdb_ha_spark.result import FinishSpec
    from tests.test_ingest import _python_workers
    sc = spark.sparkContext
    workers = _python_workers()
    eng = Engine(Catalog(spark), database="default", now_ns=NOW)
    groups = []
    for d in range(10):
        groups.append(f"qj-held-cycle-{id(eng)}-{d}")
        sc.setJobGroup(groups[-1], "held cycle")
        try:
            # each batch overlaps the previous one by half
            write_lines(eng, "default", _cpu_lines(1000, d * 500))
            answer = eng.query_df(INGEST_READ, answer=True)
            assert isinstance(answer, FinishSpec)
            series = to_influx_series(answer, "cpu", ["region"],
                                      "ns")["results"][0]["series"]
        finally:
            sc._jsc.clearJobGroup()
        assert [s["tags"]["region"] for s in series] == ["r0", "r1", "r2"]
    assert [_jobs(sc, g) for g in groups] == [0] * 10
    assert _python_workers() <= workers
    cpu = eng.catalog.get("default", "cpu")
    assert cpu.rows.num_rows == 5500 and "df" not in cpu.__dict__


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("kind", FINISHED + ["ingest_read"])
def test_answer_plan_is_the_aggregated_frame(events_engine, kind,
                                             monkeypatch):
    """Without a driver copy (as for a statement pyarrow declines once it
    has read the copy), /query plans a finished answer only up to the
    aggregated frame it collects: no spine (Generate), no spine join, no
    fill window, no sort; over a one-split source, no Exchange either."""
    from influxdb_ha_spark.result import _FINISH
    monkeypatch.setattr(Measurement, "answer_rows", lambda m: m.rows)
    q = INGEST_READ_SPARK if kind == "ingest_read" else dict(ROTATION)[kind]
    df = events_engine.query_df(q, answer=True)
    assert df.__dict__.get(_FINISH) is not None
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for node in ("Generate", "Join", "Window", "Sort"):
        assert node not in plan, (node, plan)
    executed = _executed_plan(df)
    assert "Exchange" not in executed and "Coalesce 1" in executed, executed


def _shape(df):
    """The optimized plan without expression ids, which differ per build."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", text)


@pytest.mark.parametrize("q", [
    dict(ROTATION)["subquery"],
    dict(ROTATION)["raw_limit"],
    "SELECT count(value) AS n INTO into_shape FROM events "
    f"WHERE {_w(2, 14)} GROUP BY time(1d) fill(0)",
    "SELECT max(n) FROM (SELECT count(value) AS n FROM events "
    f"WHERE {_w(2, 14)} GROUP BY time(1d) fill(0))",
    f"SELECT mean(value) FROM events WHERE {_w(2, 14)} GROUP BY time(1d) "
    "fill(0) tz('America/New_York')",
    f"SELECT derivative(mean(value), 1h) FROM events WHERE {_w(3, 7)} "
    "GROUP BY time(1h)"])
def test_unfinished_statements_plan_as_before(events_engine, q,
                                               monkeypatch):
    """Without a driver copy, SELECT … INTO, subqueries and every
    statement the driver does not finish get the full plan with or
    without `answer`."""
    from influxdb_ha_spark.influxql.parser import parse_query
    from influxdb_ha_spark.planner import Planner
    monkeypatch.setattr(Measurement, "answer_rows", lambda m: m.rows)
    planner = Planner(events_engine.catalog, "default", now_ns=NOW)
    full = planner.plan(parse_query(q))
    assert _shape(planner.plan(parse_query(q), answer=True)) == _shape(full)


@pytest.mark.parametrize("kind", ["group_1h", "group_1h_tag", "fill_linear",
                                  "fill_open"])
def test_ungrouped_group_by_time_needs_no_range_shuffle(events_engine, kind):
    """An ungrouped spine sits in one partition, so ORDER BY time and the
    fill window are satisfied without a range exchange. The one
    SinglePartition gather allowed is the open-bounded fill's one-row
    min/max bucket aggregate."""
    q = dict(ROTATION)[kind]
    plan = _executed_plan(events_engine.query_df(q)).lower()
    assert "rangepartitioning" not in plan, plan
    assert plan.count("exchange singlepartition") == (kind == "fill_open"), plan


@pytest.mark.parametrize("where,gathers", [(_w(2, 14), 0), ("time < now()", 1)])
def test_grouped_spine_keeps_series_partitioning(events_engine, where,
                                                 gathers):
    """A grouped spine is not gathered into one partition: its rows grow
    with the series count, so the join and the sort stay spread out. An
    open bound adds one SinglePartition gather, the one-row min/max bucket
    aggregate broadcast onto the series."""
    from tools.explain_audit import audit_plan
    q = ("SELECT mean(value) FROM events "
         f"WHERE {where} GROUP BY time(1d), event_type")
    plan = _executed_plan(events_engine.query_df(q))
    got = audit_plan(plan)
    assert got["one_part"] == 0 and got["single_part"] == gathers, plan
    assert "Coalesce 1" not in plan, plan


def test_into_and_subquery_spines_are_not_one_partition(spark, events_engine):
    """Only an answer the driver collects gets the one-partition spine.
    SELECT … INTO persists its answer, so the target measurement keeps the
    range-sorted partitions; a subquery's inner fill feeds more Spark work.
    AQE partition coalescing is off here, or it would merge this small
    answer into one partition either way."""
    from tools.explain_audit import audit_plan
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts > 1
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for i, where in enumerate([_w(2, 14), "time < now()"]):
            events_engine.query_df(
                f"SELECT count(value) AS n INTO into_fill_{i} FROM events "
                f"WHERE {where} GROUP BY time(1d) fill(0)")
            target = events_engine.catalog.get("default", f"into_fill_{i}")
            assert target.df.rdd.getNumPartitions() == parts, where
    finally:
        spark.conf.set(key, old)
    sub = events_engine.query_df(
        "SELECT max(n) FROM (SELECT count(value) AS n FROM events "
        f"WHERE {_w(2, 14)} GROUP BY time(1d) fill(0))")
    plan = _executed_plan(sub)
    assert audit_plan(plan)["one_part"] == 0, plan


def test_show_measurements_is_local(events_engine):
    plan = _executed_plan(events_engine.query_df("SHOW MEASUREMENTS"))
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan


# -- semantics: an open bound answers like the matching explicit bound -------

def _rows(eng, q):
    res = eng.query(q)["results"][0]
    return [(tuple(sorted((s.get("tags") or {}).items())), tuple(v))
            for s in res.get("series", []) for v in s["values"]]


@pytest.fixture(scope="module")
def gappy(spark):
    """Two series with holes: buckets 2..9 of a 1h grid, host b starting
    later, so open bounds resolve to the data's min/max bucket."""
    rows = [(JAN1 + h * HOUR + 60, host, float(v))
            for h, host, v in [(2, "a", 1.0), (5, "a", 4.0), (9, "a", 10.0),
                               (4, "b", 3.0), (7, "b", 9.0), (8, "b", 1.0)]]
    df = spark.createDataFrame(rows, "time long, host string, v double")
    cat = Catalog(spark)
    cat.register_dataframe("db", "m", df, time_col="time", tags=["host"])
    return Engine(cat, database="db", now_ns=NOW)


LO, HI = JAN1 + 2 * HOUR, JAN1 + 10 * HOUR   # min bucket, max bucket + 1h


@pytest.mark.parametrize("fill", ["0", "null", "previous", "linear"])
@pytest.mark.parametrize("group", ["", ", host"])
def test_open_bounds_equal_explicit_bounds(gappy, fill, group):
    sel = f"SELECT max(v) FROM m WHERE {{}} GROUP BY time(1h){group} fill({fill})"
    want = _rows(gappy, sel.format(f"time >= {LO} AND time < {HI}"))
    assert len(want) == 8 * (2 if group else 1)
    assert _rows(gappy, sel.format(f"time >= {LO}")) == want
    assert _rows(gappy, sel.format(f"time < {HI}")) == want
    assert _rows(gappy, sel.format("time < now()")) == _rows(
        gappy, sel.format(f"time >= {LO} AND time < now()"))


@pytest.mark.parametrize("fill", ["0", "previous", "linear"])
@pytest.mark.parametrize("group", ["", ", host"])
def test_open_bounds_partial_range(gappy, fill, group):
    """One explicit bound inside the data: the other comes from the data
    left in range (an unaligned explicit start is floored)."""
    sel = f"SELECT max(v) FROM m WHERE {{}} GROUP BY time(1h){group} fill({fill})"
    start = JAN1 + 4 * HOUR + 17
    want = _rows(gappy, sel.format(f"time >= {start} AND time < {HI}"))
    assert _rows(gappy, sel.format(f"time >= {start}")) == want
    end = JAN1 + 6 * HOUR
    want = _rows(gappy, sel.format(f"time >= {LO} AND time < {end}"))
    assert _rows(gappy, sel.format(f"time < {end}")) == want


@pytest.mark.parametrize("fill", ["0", "previous", "linear"])
@pytest.mark.parametrize("group", ["", ", host"])
def test_open_bounds_no_data_in_range(gappy, fill, group):
    sel = f"SELECT max(v) FROM m WHERE {{}} GROUP BY time(1h){group} fill({fill})"
    assert _rows(gappy, sel.format(f"time >= {NOW}")) == []
    assert _rows(gappy, sel.format(f"time < {JAN1}")) == []


def test_open_bounded_fill_builds_without_jobs(spark, gappy):
    """Open bounds are resolved in the plan (0 build jobs), except the
    shape choice of an ungrouped previous/linear fill whose answer stays
    in Spark (here a subquery's inner plan); a collected one always takes
    the one-partition keyless window."""
    from influxdb_ha_spark.influxql.parser import parse_query
    from influxdb_ha_spark.planner import Planner
    sc = spark.sparkContext
    planner = Planner(gappy.catalog, "db", now_ns=NOW)
    for q, nested, want in [
            ("SELECT max(v) FROM m WHERE time < now() GROUP BY time(1h) "
             "fill(0)", False, 0),
            ("SELECT max(v) FROM m WHERE time < now() GROUP BY time(1h), "
             "host fill(linear)", False, 0),
            ("SELECT max(v) FROM m WHERE time < now() GROUP BY time(1h) "
             "fill(previous)", False, 0),
            ("SELECT max(v) FROM m WHERE time < now() GROUP BY time(1h) "
             "fill(previous)", True, 2)]:  # eager min/max: shuffle + result
        group = f"qj-open-{hash(q)}-{nested}"
        try:
            sc.setJobGroup(group, "open")
            planner.plan(parse_query(q), nested=nested)
        finally:
            sc._jsc.clearJobGroup()
        assert _jobs(sc, group) == want, (q, nested)


def test_open_bounded_spine_cap_matches_bounded(spark):
    """An open-bounded spine over the cap fails in the plan with the same
    QueryError text as the bounded path."""
    df = spark.createDataFrame([(0, 1.0), (2 * MAX_SPINE_BUCKETS, 2.0)],
                               "time long, v double")
    cat = Catalog(spark)
    cat.register_dataframe("db", "m", df, time_col="time", tags=[])
    eng = Engine(cat, database="db", now_ns=NOW)
    base = "SELECT max(v) FROM m WHERE {} GROUP BY time(1ns) fill(0)"
    with pytest.raises(QueryError) as bounded:
        eng.query(base.format(f"time >= 0 AND time < {2 * MAX_SPINE_BUCKETS + 1}"))
    with pytest.raises(QueryError) as open_:
        eng.query(base.format("time >= 0"))
    assert str(open_.value) == str(bounded.value)
    assert f"would generate {2 * MAX_SPINE_BUCKETS + 1} buckets" in str(
        open_.value)


@pytest.mark.parametrize("group", ["", ", host"])
def test_open_bounds_tz_equal_explicit_bounds(spark, group):
    """tz() spines resolve open bounds from the local-midnight buckets, so
    they match the explicit range of those buckets across the 2024-03-10
    DST change."""
    mar5 = 1_709_614_800_000_000_000   # 2024-03-05T00:00 America/New_York
    rows = [(mar5 + d * DAY + 7 * HOUR, host, float(d))
            for d, host in [(0, "a"), (3, "b"), (6, "a"), (9, "b")]]
    df = spark.createDataFrame(rows, "time long, host string, v double")
    cat = Catalog(spark)
    cat.register_dataframe("db", "m", df, time_col="time", tags=["host"])
    eng = Engine(cat, database="db", now_ns=NOW)
    sel = (f"SELECT max(v) FROM m WHERE {{}} GROUP BY time(1d){group} "
           "fill(0) tz('America/New_York')")
    last = mar5 + 9 * DAY - HOUR            # local midnight after the change
    want = _rows(eng, sel.format(f"time >= {mar5} AND time < {last + DAY}"))
    assert len(want) == 10 * (2 if group else 1)
    assert _rows(eng, sel.format(f"time >= {mar5}")) == want
    assert _rows(eng, sel.format(f"time < {last + DAY}")) == want


def test_audit_counts_one_partition_funnels():
    """explain_audit sees a one-partition producer feeding a sort, join or
    window without an Exchange between them; behind an Exchange (or with
    more than one split) it is not a funnel."""
    from tools.explain_audit import audit_plan
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- Sort [time#1L ASC NULLS FIRST], true, 0\n"
        "   +- BroadcastHashJoin [time#1L], [time#2L], LeftOuter, BuildRight\n"
        "      :- Generate explode(x), false, [time#1L]\n"
        "      :  +- Range (0, 1, step=1, splits={splits})\n"
        "      +- BroadcastExchange HashedRelationBroadcastMode(x)\n"
        "         +- Window [w], [time#2L ASC NULLS FIRST]\n"
        "            +- Exchange hashpartitioning(time#2L, 4)\n"
        "               +- Coalesce 1\n"
        "                  +- LocalTableScan [time#2L]\n")
    assert audit_plan(plan.format(splits=1))["one_part"] == 1
    assert audit_plan(plan.format(splits=4))["one_part"] == 0
    assert audit_plan(plan.format(splits=4).replace(
        "Exchange hashpartitioning(time#2L, 4)", "Project [time#2L]"))[
            "one_part"] == 1
