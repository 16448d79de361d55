"""The driver finisher answers exactly like the Spark spine.

A collected plain `GROUP BY time()` aggregate carries a `FinishSpec`:
Spark stops at the aggregated frame and the driver fills, bounds, sorts,
limits and shapes it (result.py). /query plans such an answer only up to
that frame (`Planner.plan(..., answer=True)`). Each case here plans one
statement both ways and compares `to_influx_series` of the answer plan
with the full plan collected whole by Spark and shaped by the same
shaper; the JSON must be identical byte for byte. Statements that keep
the Spark spine (tz(), outer transforms, row selectors, raw selects,
SELECT … INTO, subqueries) must carry no spec. Every contract `iq_*`
statement the finisher takes is also answered through `Engine.query` and
compared with its full plan. Over rows on the driver (a measurement born
from /write, or the driver copy of a source Spark reads as one split) the
aggregated rows come from pyarrow instead of Spark, and so do the rows of
a raw select and of a subquery whose inner statement is answered so;
those answers are compared with the full Spark plan over the same rows in
one parquet file.
"""

from __future__ import annotations

import itertools
import json
import math

import pytest
from hypothesis import assume, given, settings, strategies as st

from influxdb_ha_spark.errors import QueryError
from influxdb_ha_spark.functions.fill import MAX_SPINE_BUCKETS
from influxdb_ha_spark.influxql.parser import parse_query
from influxdb_ha_spark.model import Catalog
from influxdb_ha_spark.planner import Planner
from influxdb_ha_spark.result import (_FINISH, shape_series,
                                      to_influx_series)
from influxdb_ha_spark.server import Engine

H = 3_600_000_000_000
NOW = 100 * H

# two tags, one of them null for some points; gaps in every series;
# double, long and string fields
ROWS = [(2 * H + 60, "a", "x", 1.0, 3, "s1"),
        (2 * H + 90, "a", "y", 2.5, 1, "s0"),
        (5 * H, "a", "x", 4.0, 4, "s2"),
        (9 * H + 7, "a", None, 10.0, 5, None),
        (4 * H, None, "x", 3.0, 6, "s3"),
        (7 * H, None, "y", 9.0, 7, "s4"),
        (8 * H, "b", "x", 1.0, 8, "s5"),
        (11 * H, "c", "y", -2.0, -1, "s6")]


@pytest.fixture(scope="module")
def cat(spark):
    df = spark.createDataFrame(
        ROWS, "time long, host string, dc string, v double, i long, s string")
    c = Catalog(spark)
    c.register_dataframe("db", "m", df, time_col="time", tags=["host", "dc"])
    return c


def _plan(cat, q, answer=False):
    return Planner(cat, "db", now_ns=NOW).plan(parse_query(q), answer=answer)


def _both(cat, q, epoch=None):
    """(spec path JSON, Spark path JSON) of one statement: the answer plan
    /query runs, finished on the driver, and the full plan collected."""
    df = _plan(cat, q)
    answer = _plan(cat, q, answer=True)
    assert answer.__dict__.get(_FINISH) is not None, q
    tags = [t for t in ("host", "dc") if t in df.columns]
    got = json.dumps(to_influx_series(answer, "m", tags, epoch))
    want = json.dumps(shape_series(df.columns, df.collect(), "m", tags,
                                   epoch))
    return got, want


CLOSED = f"time >= {H} AND time < {12 * H}"
BOUNDS = [CLOSED,
          f"time >= {3 * H + 5}",              # half-open, start only
          f"time < {6 * H}",                   # half-open, end only
          "time < now()",                      # open start
          "dc = 'x'",                          # no time bound at all
          f"time >= {50 * H} AND time < {60 * H}",   # no data in range
          f"time >= {50 * H}"]                 # open, no data in range
FILLS = ["", "fill(none)", "fill(null)", "fill(0)", "fill(previous)",
         "fill(linear)", "fill(1.5)", "fill(-2)"]


@pytest.mark.parametrize("where", BOUNDS)
@pytest.mark.parametrize("fill", FILLS)
def test_finish_matches_spine(cat, where, fill):
    # grouped and ungrouped alternate over the grid, so every fill mode
    # and every bound is checked both ways
    grouped = (BOUNDS.index(where) + FILLS.index(fill)) % 2
    group = "time(2h, 1h), host" if grouped else "time(1h)"
    got, want = _both(cat, f"SELECT max(v), count(v) FROM m WHERE {where} "
                           f"GROUP BY {group} {fill}")
    assert got == want


@pytest.mark.parametrize("q", [
    # Spark's coercion shows in the JSON: count() is DOUBLE under
    # fill(linear) and fill(1.5), stays BIGINT under fill(0); a string
    # aggregate under fill(0) prints "0"
    f"SELECT count(v) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(linear)",
    f"SELECT count(v) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(1.5)",
    f"SELECT count(v) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(0)",
    f"SELECT sum(i) FROM m WHERE {CLOSED} GROUP BY time(1h), dc fill(linear)",
    f"SELECT first(s) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(0)",
    f"SELECT last(s), max(i) FROM m WHERE {CLOSED} GROUP BY time(1h), host "
    "fill(previous)",
    f"SELECT mean(v) AS mv, sum(i) AS si FROM m WHERE {CLOSED} "
    "GROUP BY time(1h), host, dc fill(-2)",
    # ORDER BY time DESC, OFFSET/LIMIT and SLIMIT/SOFFSET, with null tags
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h), host fill(0) "
    "ORDER BY time DESC",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h), host fill(0) "
    "LIMIT 7 OFFSET 5",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h), host fill(0) "
    "SLIMIT 2 SOFFSET 1",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h), host, dc "
    "fill(none) ORDER BY time DESC LIMIT 4 OFFSET 1 SLIMIT 3 SOFFSET 1",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h), * fill(linear) "
    "ORDER BY time DESC LIMIT 9 SLIMIT 2",
    "SELECT max(v) FROM m WHERE time < now() GROUP BY time(1h), host "
    "fill(previous) SOFFSET 2",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(0) LIMIT 0",
])
def test_finish_matches_spine_shapes(cat, q):
    got, want = _both(cat, q)
    assert got == want


def test_finish_matches_spine_rfc3339(cat):
    got, want = _both(cat, f"SELECT max(v) FROM m WHERE {CLOSED} "
                           "GROUP BY time(90m, 20m), host fill(0)", None)
    assert got == want
    got, want = _both(cat, f"SELECT max(v) FROM m WHERE {CLOSED} "
                           "GROUP BY time(90m, 20m), host fill(0)", "ms")
    assert got == want


@settings(max_examples=20, deadline=None)
@given(where=st.sampled_from(BOUNDS), fill=st.sampled_from(FILLS),
       group=st.sampled_from(["", ", host", ", dc", ", host, dc"]),
       interval=st.sampled_from(["1h", "2h", "3h, 1h", "45m"]),
       fields=st.sampled_from(["max(v)", "count(v), first(s)", "sum(i)",
                               "mean(v) AS mv, min(i) AS mi"]),
       desc=st.booleans(), limit=st.sampled_from(["", "LIMIT 5",
                                                  "LIMIT 3 OFFSET 4"]),
       slimit=st.sampled_from(["", "SLIMIT 2", "SLIMIT 1 SOFFSET 1"]))
def test_finish_matches_spine_sampled(cat, where, fill, group, interval,
                                      fields, desc, limit, slimit):
    # a string aggregate under fill(linear) or a float fill keeps the
    # Spark spine (test_other_statements_keep_the_spark_spine)
    assume("first(s)" not in fields or fill not in ("fill(linear)",
                                                     "fill(1.5)"))
    order = "ORDER BY time DESC" if desc else ""
    q = (f"SELECT {fields} FROM m WHERE {where} GROUP BY time({interval})"
         f"{group} {fill} {order} {limit} {slimit}")
    got, want = _both(cat, q)
    assert got == want


@pytest.mark.parametrize("q", [
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(0) "
    "tz('America/New_York')",
    f"SELECT derivative(mean(v), 1h) FROM m WHERE {CLOSED} GROUP BY time(1h)",
    f"SELECT holt_winters(mean(v), 2, 0) FROM m WHERE {CLOSED} "
    "GROUP BY time(1h)",
    f"SELECT top(v, 2) FROM m WHERE {CLOSED} GROUP BY time(2h)",
    f"SELECT v FROM m WHERE {CLOSED}",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY host",
    # a float fill literal on a string aggregate would need Spark's
    # double-to-string rendering; linear interpolation needs numbers
    f"SELECT first(s) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(1.5)",
    f"SELECT first(s) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(linear)",
])
def test_other_statements_keep_the_spark_spine(cat, q):
    df = _plan(cat, q)
    assert df.__dict__.get(_FINISH) is None, q


def test_into_and_subquery_keep_the_spark_spine(cat):
    planner = Planner(cat, "db", now_ns=NOW)
    inner = parse_query(f"SELECT max(v) FROM m WHERE {CLOSED} "
                        "GROUP BY time(1h) fill(0)")
    assert planner.plan(inner, nested=True).__dict__.get(_FINISH) is None
    into = parse_query(f"SELECT max(v) INTO t FROM m WHERE {CLOSED} "
                       "GROUP BY time(1h) fill(0)")
    assert planner.plan(into).__dict__.get(_FINISH) is None
    # the outer statement over a subquery is collected, so it finishes
    got, want = _both(cat, "SELECT max(mv) FROM (SELECT max(v) AS mv FROM m "
                           f"WHERE {CLOSED} GROUP BY time(1h), host) "
                           f"WHERE {CLOSED} GROUP BY time(2h) fill(0)")
    assert got == want


def test_null_tag_series_keep_their_values(cat):
    """A null tag is a series of its own on both paths: the spine's join
    and SLIMIT's semi-join match tags null-safely."""
    res = to_influx_series(_plan(cat, f"SELECT max(v) FROM m WHERE {CLOSED} "
                                      "GROUP BY time(1h), host fill(0) "
                                      "SLIMIT 2"), "m", ["host"], "ns")
    series = res["results"][0]["series"]
    assert [s["tags"] for s in series] == [{"host": None}, {"host": "a"}]
    assert [v for _, v in series[0]["values"] if v] == [3.0, 9.0]


def test_open_bounded_cap_refused_before_filling(spark):
    """The finisher refuses an open-bounded spine over the cap with the
    bounded path's text, before it builds any filled row."""
    df = spark.createDataFrame([(0, 1.0), (2 * MAX_SPINE_BUCKETS, 2.0)],
                               "time long, v double")
    c = Catalog(spark)
    c.register_dataframe("db", "m", df, time_col="time", tags=[])
    eng = Engine(c, database="db", now_ns=NOW)
    base = "SELECT max(v) FROM m WHERE {} GROUP BY time(1ns) fill(0)"
    with pytest.raises(QueryError) as bounded:
        eng.query(base.format(f"time >= 0 AND time < {2 * MAX_SPINE_BUCKETS + 1}"))
    open_df = eng.query_df(base.format("time >= 0"))
    assert open_df.__dict__.get(_FINISH) is not None
    with pytest.raises(QueryError) as open_:
        to_influx_series(open_df, "m")
    assert str(open_.value) == str(bounded.value)


def test_explicit_bounded_cap_refused_while_planning(spark, cat):
    """The answer plan skips the spine, but an explicit range over the
    cap is still refused while planning, with the full plan's text and
    before any job runs (over HTTP this is the 400 of
    test_http.test_open_bounded_spine_cap_is_400)."""
    q = (f"SELECT max(v) FROM m WHERE time >= 0 AND time < "
         f"{2 * MAX_SPINE_BUCKETS + 1} GROUP BY time(1ns), host fill(0)")
    with pytest.raises(QueryError) as full:
        _plan(cat, q)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("finish-cap", "cap")
        with pytest.raises(QueryError) as answer:
            _plan(cat, q, answer=True)
    finally:
        sc._jsc.clearJobGroup()
    assert str(answer.value) == str(full.value)
    assert f"would generate {2 * MAX_SPINE_BUCKETS + 1} buckets" in str(
        answer.value)
    assert list(sc.statusTracker().getJobIdsForGroup("finish-cap")) == []


def test_into_and_collected_slimit_pick_the_same_series(spark, cat):
    """SLIMIT 2 SOFFSET 1 with fill(0): SELECT … INTO (the Spark spine,
    series listed from the aggregated frame) stores the series the
    collected answer (the driver finisher) returns."""
    eng = Engine(cat, database="db", now_ns=NOW)
    sel = (f"SELECT max(v) AS mv {{}} FROM m WHERE {CLOSED} "
           "GROUP BY time(1h), host fill(0) SLIMIT 2 SOFFSET 1")
    collected = eng.query(sel.format(""), epoch="ns")["results"][0]["series"]
    eng.query(sel.format("INTO slimit_target"))
    stored = cat.get("db", "slimit_target").df
    stored_hosts = sorted({r["host"] for r in stored.select("host").collect()},
                          key=lambda h: (h is not None, h))
    assert [s["tags"]["host"] for s in collected] == stored_hosts == ["a", "b"]
    assert stored.count() == sum(len(s["values"]) for s in collected)


# -- the contract's iq_* statements through /query ---------------------------

def _contract_statements() -> dict[str, str]:
    """The InfluxQL statement of every contract `iq_*` key, read by calling
    the key with the entry's `_iq` replaced by a recorder (no Spark)."""
    import __spark_entry__ as entry

    class Statement(Exception):
        pass

    def record(spark, sf, q, **kw):
        raise Statement(q)

    out, planned = {}, entry._iq
    entry._iq = record
    try:
        for name, fn in entry.queries().items():
            if name.startswith("iq_"):
                with pytest.raises(Statement) as got:
                    fn(None, None)
                out[name] = got.value.args[0]
    finally:
        entry._iq = planned
    return out


CONTRACT = _contract_statements()
# the plain GROUP BY time() aggregates without tz(): the finished answers
CONTRACT_FINISHED = ["iq_bucket_offset", "iq_fill_linear", "iq_fill_null",
                     "iq_fill_offset", "iq_fill_previous", "iq_fill_zero",
                     "iq_kitchen_sink", "iq_mean_1d_tag", "iq_mean_1h"]
# those pyarrow answers from the driver copy of `events`: all but the
# regex WHERE of iq_kitchen_sink
CONTRACT_COPIED = [k for k in CONTRACT_FINISHED if k != "iq_kitchen_sink"]


@pytest.fixture(scope="module")
def contract_engine(spark, tmp_path_factory):
    """The contract keys' `events` catalog over a one-file gen_events
    table, behind an Engine at the contract's now()."""
    import __spark_entry__ as entry
    from tools.gen_scale import gen_events
    d = tmp_path_factory.mktemp("contract_events")
    gen_events(spark, 5000, 100).coalesce(1).write.parquet(
        str(d / "events.parquet"))
    return Engine(entry._catalog(spark, str(d)), database="default",
                  now_ns=entry.NOW_NS)


def test_contract_finished_statements(contract_engine):
    planner = Planner(contract_engine.catalog, "default",
                      now_ns=contract_engine.now_ns)
    finished = sorted(k for k, q in CONTRACT.items()
                      if planner.plan(parse_query(q)).__dict__.get(_FINISH))
    assert finished == CONTRACT_FINISHED


@pytest.mark.parametrize("key", CONTRACT_FINISHED)
def test_contract_query_matches_full_plan(contract_engine, key):
    """/query's answer (finished on the driver from the aggregated frame,
    or from pyarrow over the driver copy of the one-file source) equals
    the key's full Spark plan collected and shaped, byte for byte."""
    from influxdb_ha_spark.result import FinishSpec
    q = CONTRACT[key]
    full = contract_engine.query_df(q)
    answer = contract_engine.query_df(q, answer=True)
    assert isinstance(answer, FinishSpec) == (key in CONTRACT_COPIED)
    assert isinstance(answer, FinishSpec) or answer.__dict__.get(_FINISH)
    tags = [t for t in ("event_type",) if t in full.columns]
    want = shape_series(full.columns, full.collect(), "events", tags, "ns")
    got = contract_engine.query(q, epoch="ns")
    assert got["results"][0]["series"], key
    assert json.dumps(got) == json.dumps(want)


# -- answers from rows on the driver (pyarrow, no Spark job) -----------------

_COPIES = itertools.count()


@pytest.fixture(scope="module")
def parquet_root(tmp_path_factory):
    return tmp_path_factory.mktemp("driver_rows")


def _held_engines(spark, rows, root):
    """Three engines over the same rows, each answering /query from rows
    on the driver: `held` holds them (a measurement born from /write);
    `plain` registers them as a DataFrame over a LocalRelation and `file`
    as one parquet file, both read by Spark as one split, so /query
    answers them from the driver copy of that source."""
    import pyarrow.parquet as pq
    from influxdb_ha_spark.model import Measurement
    tags = ["host", "dc"]
    held, plain, file = Catalog(spark), Catalog(spark), Catalog(spark)
    held.register(Measurement.held(spark, "m", "db", tags, rows))
    plain.register(Measurement(name="m", database="db", tags=tags,
                               fields=["i", "v"],
                               df=spark.createDataFrame(rows), rows=None))
    path = str(root / f"m{next(_COPIES)}.parquet")
    pq.write_table(rows, path)
    file.register_dataframe("db", "m", spark.read.parquet(path),
                            time_col="time", tags=tags)
    return tuple(Engine(c, database="db", now_ns=NOW)
                 for c in (held, plain, file))


def _close(got, want) -> bool:
    """Equal, but for floats equal to 1e-9 relative. NaN equals NaN, as
    in the exact comparison of the JSON both render."""
    if isinstance(got, float) and isinstance(want, float):
        if math.isnan(got) or math.isnan(want):
            return math.isnan(got) and math.isnan(want)
        return math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(map(_close, got, want))
    if isinstance(got, dict) and isinstance(want, dict):
        return got.keys() == want.keys() and all(
            _close(got[k], want[k]) for k in got)
    return got == want


def _assert_matches_full_plan(engines, q, exact=True):
    """Every engine's /query answer equals the full Spark plan of the
    parquet engine (the Spark spine, which takes no driver copy),
    collected and shaped, byte for byte. One split keeps Spark's float
    sums in row order, as pyarrow's are; the series of an aggregate
    without GROUP BY time() are in tag order on every route. Not `exact`,
    floats compare to 1e-9 relative: for float sums over rows Spark
    shuffles (a subquery's inner answer), whose order it does not fix."""
    full = engines[-1].query_df(q)
    tags = [t for t in ("host", "dc") if t in full.columns]
    rows = full.collect()
    for epoch in ("ns", None):
        want = shape_series(full.columns, rows, "m", tags, epoch)
        for e in engines:
            got = e.query(q, epoch=epoch)
            if exact:
                assert json.dumps(got) == json.dumps(want), q
            else:
                assert _close(got, want), q


def _driver_answers(engines, q) -> bool:
    """Whether /query answers `q` from driver rows (a FinishSpec or a
    DriverAnswer, not a DataFrame), which must be the same on every
    route."""
    from pyspark.sql import DataFrame
    got = {not isinstance(e.query_df(q, answer=True), DataFrame)
           for e in engines}
    assert len(got) == 1, q
    return got.pop()


def _table(points):
    import pyarrow as pa
    schema = pa.schema([("time", pa.int64()), ("host", pa.string()),
                        ("dc", pa.string()), ("i", pa.int64()),
                        ("v", pa.float64())])
    cols = list(zip(*points)) if points else [[]] * len(schema)
    return pa.Table.from_arrays([pa.array(c, type=t)
                                 for c, t in zip(cols, schema.types)],
                                schema=schema)


POINT = st.tuples(
    st.integers(-5 * H, 15 * H),                  # negative times too
    st.sampled_from(["a", "b", None]), st.sampled_from(["x", "y", None]),
    st.one_of(st.none(), st.integers(-1000, 1000)),
    st.one_of(st.none(), st.floats(-1e6, 1e6), st.just(float("nan"))))
POINTS = st.lists(POINT, max_size=30)
AGG = st.sampled_from(["count", "sum", "mean", "min", "max"])
HELD_WHERE = ["", CLOSED, f"time >= {-3 * H + 7}", f"time <= {6 * H}",
              "time < now()", f"time >= {50 * H} AND time < {60 * H}",
              f"time > {-H} AND host = 'a'", "host != 'b'",
              "host = 'a' OR dc = 'y'", f"(host = 'b' OR v > 0) AND time < {H}",
              "i <= 3", "10 > v OR i = 7", "v >= -2.5 AND dc < 'y'",
              "i > 2.5", "v != 3"]
HELD_FILLS = ["", "fill(none)", "fill(null)", "fill(previous)",
              "fill(linear)", "fill(0)", "fill(1.5)", "fill(-2)"]


@settings(max_examples=60, deadline=None)
@given(points=POINTS,
       calls=st.lists(st.tuples(AGG, st.sampled_from(["i", "v"]),
                                st.booleans()), min_size=1, max_size=3),
       where=st.sampled_from(HELD_WHERE), fill=st.sampled_from(HELD_FILLS),
       group=st.sampled_from(["", ", host", ", dc", ", *"]),
       interval=st.sampled_from(["1h", "2h, 30m", "45m", "3h, 100m"]),
       desc=st.booleans(),
       limit=st.sampled_from(["", "LIMIT 4", "LIMIT 3 OFFSET 2"]),
       slimit=st.sampled_from(["", "SLIMIT 2", "SLIMIT 1 SOFFSET 1"]))
def test_held_answer_matches_spark(spark, parquet_root, points, calls, where,
                                   fill, group, interval, desc, limit,
                                   slimit):
    """/query over driver rows (pyarrow, finished on the driver) answers
    byte for byte like the full Spark plan: held rows, and the driver
    copy of a LocalRelation and of a parquet file, for every aggregate,
    WHERE shape and fill of the subset, with negative times, offsets,
    null tags and fields, NaN, int and double fields, empty windows,
    SLIMIT/SOFFSET and ORDER BY time DESC. A NaN in a field that is
    compared or ordered sends the statement to Spark on every route."""
    engines = _held_engines(spark, _table(points), parquet_root)
    fields = ", ".join(f"{fn}({f})" + (f" AS {fn}_{f}_{k}" if alias else "")
                       for k, (fn, f, alias) in enumerate(calls))
    order = "ORDER BY time DESC" if desc else ""
    cond = f"WHERE {where}" if where else ""
    q = (f"SELECT {fields} FROM m {cond} GROUP BY time({interval}){group} "
         f"{fill} {order} {limit} {slimit}")
    nan = any(p[4] != p[4] for p in points if p[4] is not None)
    assert _driver_answers(engines, q) or nan, q
    _assert_matches_full_plan(engines, q)


# one point per (time, tag set), as InfluxDB's upsert keeps them: equal
# times then order the same on every route
SERIES_POINTS = st.lists(POINT, max_size=30, unique_by=lambda p: p[:3])
RAW_FIELDS = st.lists(st.tuples(st.sampled_from(["i", "v", "host", "dc"]),
                                st.sampled_from([None, "x1", "host"])),
                      min_size=1, max_size=3)


@settings(max_examples=60, deadline=None)
@given(points=SERIES_POINTS, fields=RAW_FIELDS,
       where=st.sampled_from(HELD_WHERE), desc=st.booleans(),
       limit=st.sampled_from(["", "LIMIT 4", "LIMIT 3 OFFSET 2", "OFFSET 5",
                              "LIMIT 0"]))
def test_held_raw_select_matches_spark(spark, parquet_root, points, fields,
                                       where, desc, limit):
    """A raw select over driver rows (pyarrow: WHERE, ORDER BY time with
    equal times in tag order, OFFSET/LIMIT) answers byte for byte like
    the full Spark plan, for fields and tags, aliases (one may take a
    tag's name), every WHERE of the subset, ASC and DESC. A NaN in a
    field the WHERE compares sends it to Spark on every route."""
    engines = _held_engines(spark, _table(points), parquet_root)
    sel = ", ".join(f + (f" AS {a}" if a else "") for f, a in fields)
    order = "ORDER BY time DESC" if desc else ""
    cond = f"WHERE {where}" if where else ""
    q = f"SELECT {sel} FROM m {cond} {order} {limit}"
    nan = any(p[4] != p[4] for p in points if p[4] is not None)
    assert _driver_answers(engines, q) or nan, q
    _assert_matches_full_plan(engines, q)


@settings(max_examples=60, deadline=None)
@given(points=POINTS,
       calls=st.lists(st.tuples(AGG, st.sampled_from(["i", "v"])),
                      min_size=1, max_size=3),
       where=st.sampled_from(HELD_WHERE),
       group=st.sampled_from(["", "GROUP BY host", "GROUP BY dc",
                              "GROUP BY host, dc", "GROUP BY *"]),
       limit=st.sampled_from(["", "LIMIT 2", "LIMIT 1 OFFSET 1"]),
       slimit=st.sampled_from(["", "SLIMIT 2", "SLIMIT 1 SOFFSET 1"]))
def test_held_series_aggregate_matches_spark(spark, parquet_root, points,
                                             calls, where, group, limit,
                                             slimit):
    """An aggregate without GROUP BY time() over driver rows, ungrouped or
    grouped by tags (one row per series, in tag order on both routes),
    answers byte for byte like the full Spark plan, with SLIMIT/SOFFSET
    and OFFSET/LIMIT."""
    assume(group or not slimit)
    engines = _held_engines(spark, _table(points), parquet_root)
    fields = ", ".join(f"{fn}({f})" for fn, f in dict.fromkeys(calls))
    cond = f"WHERE {where}" if where else ""
    q = f"SELECT {fields} FROM m {cond} {group} {limit} {slimit}"
    nan = any(p[4] != p[4] for p in points if p[4] is not None)
    assert _driver_answers(engines, q) or nan, q
    _assert_matches_full_plan(engines, q)


@settings(max_examples=60, deadline=None)
@given(points=SERIES_POINTS, inner=AGG, field=st.sampled_from(["i", "v"]),
       where=st.sampled_from(HELD_WHERE), fill=st.sampled_from(HELD_FILLS),
       group=st.sampled_from(["", "host", "host, dc", "*"]),
       interval=st.sampled_from(["1h", "2h, 30m", None]),
       inner_limit=st.sampled_from(["", "LIMIT 2", "LIMIT 1 OFFSET 1"]),
       outer=st.lists(st.sampled_from(["count", "min", "max", "sum", "mean"]),
                      min_size=1, max_size=2, unique=True),
       outer_group=st.sampled_from(["", "GROUP BY host", "GROUP BY *"]),
       outer_where=st.sampled_from(["", "WHERE c > 1", f"WHERE {CLOSED}"]),
       limit=st.sampled_from(["", "LIMIT 2", "LIMIT 1 OFFSET 1"]))
def test_held_subquery_matches_spark(spark, parquet_root, points, inner,
                                     field, where, fill, group, interval,
                                     inner_limit, outer, outer_group,
                                     outer_where, limit):
    """A subquery whose inner aggregate is answered from driver rows is
    answered from its rows: the outer aggregate, ungrouped or by tag,
    with a WHERE and OFFSET/LIMIT, answers like the full Spark plan, for
    every inner fill and an inner OFFSET/LIMIT. An inner aggregate
    without GROUP BY time() has no time column, so its outer statement is
    planned in Spark over the inner rows. Outer sums and means of
    fractional values compare to 1e-9: the full plan adds the inner rows
    in the order its shuffle gives them."""
    assume(outer_group != "GROUP BY host" or group in ("host", "host, dc",
                                                       "*"))
    assume(outer_group != "GROUP BY *" or group)
    assume(interval or outer_where != f"WHERE {CLOSED}")
    engines = _held_engines(spark, _table(points), parquet_root)
    cond = f"WHERE {where}" if where else ""
    keys = ([f"time({interval})"] if interval else []) + ([group] if group
                                                         else [])
    by = f"GROUP BY {', '.join(keys)}" if keys else ""
    sub = (f"SELECT {inner}({field}) AS c FROM m {cond} {by} "
           f"{fill if interval else ''} {inner_limit}")
    fields = ", ".join(f"{fn}(c)" for fn in outer)
    q = f"SELECT {fields} FROM ({sub}) {outer_where} {outer_group} {limit}"
    nan = any(p[4] != p[4] for p in points if p[4] is not None)
    assert _driver_answers(engines, q) or nan or not interval, q
    fractional = (field == "v" or inner == "mean"
                  or fill in ("fill(linear)", "fill(1.5)"))
    _assert_matches_full_plan(
        engines, q, exact=not (fractional and {"sum", "mean"} & set(outer)))


NAN_POINTS = [(H, "a", "x", 1, float("nan")), (2 * H, "b", "y", 2, 4.0),
              (2 * H + 5, "a", None, None, -0.0), (3 * H, None, "x", 3, 0.0)]


@pytest.mark.parametrize("q", [
    # outside the subset: planned in Spark
    f"SELECT max(v) FROM m WHERE host =~ /a/ AND {CLOSED} GROUP BY time(1h)",
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h) fill(0) "
    "tz('America/New_York')",
    f"SELECT percentile(i, 50) FROM m WHERE {CLOSED} GROUP BY time(1h)",
    f"SELECT count(distinct(i)) FROM m WHERE {CLOSED} GROUP BY time(1h)",
    f"SELECT max(i) * 2 FROM m WHERE {CLOSED} GROUP BY time(1h)",
    f"SELECT max(i) FROM m WHERE i * 2 > 3 AND {CLOSED} GROUP BY time(1h)",
    f"SELECT max(i) FROM m WHERE host = 1 AND {CLOSED} GROUP BY time(1h)",
    f"SELECT max(i) FROM m WHERE i = 'a' AND {CLOSED} GROUP BY time(1h)",
    f"SELECT max(i) FROM m WHERE {CLOSED} GROUP BY time(1h), i",
    f"SELECT sum(host) FROM m WHERE {CLOSED} GROUP BY time(1h)",
    f"SELECT i FROM m WHERE host =~ /a/ AND {CLOSED}",
    f"SELECT i FROM m WHERE i * 2 > 3",
    f"SELECT * FROM m WHERE {CLOSED}",
    f"SELECT i + 1 FROM m WHERE {CLOSED}",
    f"SELECT i FROM m WHERE {CLOSED} GROUP BY host",
    f"SELECT i FROM m WHERE {CLOSED} tz('America/New_York')",
    # the inner statement is outside the subset: the subquery is Spark's
    f"SELECT max(p) FROM (SELECT percentile(i, 50) AS p FROM m "
    f"WHERE {CLOSED} GROUP BY time(1h))",
    # the inner rows have no time column: the outer statement is Spark's
    # over them, and the inner LIMIT picks series in tag order
    f"SELECT sum(c) FROM (SELECT max(i) AS c FROM m WHERE {CLOSED} "
    "GROUP BY dc LIMIT 1 OFFSET 1)",
    # the outer statement is outside the subset
    f"SELECT percentile(c, 50) FROM (SELECT count(i) AS c FROM m "
    f"WHERE {CLOSED} GROUP BY time(1h))",
    # Spark orders NaN above every number: min, max and comparisons of a
    # field holding NaN stay in Spark
    f"SELECT max(v) FROM m WHERE {CLOSED} GROUP BY time(1h)",
    f"SELECT count(v) FROM m WHERE v > 0 AND {CLOSED} GROUP BY time(1h)",
    f"SELECT i FROM m WHERE v < 3",
])
def test_declined_held_statements_keep_spark(spark, parquet_root, q):
    """A statement outside the pyarrow subset is planned in Spark over the
    driver's rows or the copied source, and answers like the full plan."""
    engines = _held_engines(spark, _table(NAN_POINTS), parquet_root)
    assert not _driver_answers(engines, q), q
    _assert_matches_full_plan(engines, q)


@pytest.mark.parametrize("q", [
    f"SELECT max(i) FROM m WHERE {CLOSED} GROUP BY host",
    f"SELECT i FROM m WHERE {CLOSED}",
    f"SELECT v AS host, dc, v FROM m ORDER BY time DESC LIMIT 3 OFFSET 1",
    f"SELECT max(c) FROM (SELECT count(v) AS c FROM m WHERE {CLOSED} "
    "GROUP BY time(1h), host fill(0)) GROUP BY host",
    f"SELECT c FROM (SELECT count(i) AS c FROM m WHERE {CLOSED} "
    "GROUP BY time(1h), host) WHERE c > 0 ORDER BY time DESC LIMIT 5",
])
def test_answered_held_statements_match_spark(spark, parquet_root, q):
    """An aggregate grouped by tags without GROUP BY time(), a raw select
    (an alias may take a tag's name: equal times still follow the tags)
    and a subquery, aggregated or raw over its inner rows, are answered
    from driver rows over NaN too, and answer like the full plan."""
    engines = _held_engines(spark, _table(NAN_POINTS), parquet_root)
    assert _driver_answers(engines, q), q
    _assert_matches_full_plan(engines, q)


@pytest.mark.parametrize("q", [
    f"SELECT sum(v), mean(v), count(v) FROM m WHERE {CLOSED} "
    "GROUP BY time(1h), host",
    f"SELECT max(i), min(i) FROM m WHERE dc = 'x' OR {CLOSED} "
    "GROUP BY time(1h)",
])
def test_nan_free_held_statements_stay_in_arrow(spark, parquet_root, q):
    """NaN sums, means and counts like IEEE in both engines, so only the
    fields compared or ordered must be NaN-free."""
    engines = _held_engines(spark, _table(NAN_POINTS), parquet_root)
    assert _driver_answers(engines, q), q
    _assert_matches_full_plan(engines, q)


@pytest.mark.parametrize("first,second", [(0.0, -0.0), (-0.0, 0.0)])
def test_held_signed_zeros_match_spark(spark, parquet_root, first, second):
    """min and max of equal values (0.0 and -0.0) keep the first one in
    both engines; sums start from 0.0 in both, so a sum of -0.0 is 0.0."""
    engines = _held_engines(spark, _table([
        (H, "a", "x", 1, first), (H + 1, "a", "x", 2, second),
        (2 * H, "a", "x", 3, -0.0), (2 * H + 1, "b", "x", 3, -0.0)]),
        parquet_root)
    q = (f"SELECT min(v), max(v), sum(v), mean(v) FROM m WHERE {CLOSED} "
         "GROUP BY time(1h), host")
    assert _driver_answers(engines, q)
    _assert_matches_full_plan(engines, q)


def test_held_full_plan_carries_the_arrow_answer(spark, parquet_root):
    """The full plan of a held answer (EXPLAIN, the traced benchmark) is
    the Spark plan, and collecting it runs the same pyarrow aggregation as
    /query's answer."""
    held, _, _ = _held_engines(spark, _table([(H, "a", "x", 1, 2.0),
                                              (3 * H, "b", None, None, 5.0)]),
                               parquet_root)
    q = f"SELECT sum(i), max(v) FROM m WHERE {CLOSED} GROUP BY time(1h), host"
    full = held.query_df(q)
    spec = full.__dict__.get(_FINISH)
    assert spec is not None and not hasattr(spec.aggregated, "toArrow")
    assert to_influx_series(full, "m", ["host"], "ns") == held.query(
        q, epoch="ns")
