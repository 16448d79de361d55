"""Property-based round-trip: format_point → parse_line recovers the point
exactly, for arbitrary measurement/tag/field content including characters
that require escaping (commas, spaces, equals, quotes, backslashes); and
the driver-side pivot and upsert of /write agree with the Spark ones."""

import math
import re

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from influxdb_ha_spark.ingest import upsert_points, upsert_rows
from influxdb_ha_spark.lineprotocol import (_number, format_point,
                                            parse_line, parse_lines_df,
                                            pivot_points, pivot_records)

name = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\n\r\\\"",
                           exclude_categories=("Cc",)),
    min_size=1, max_size=12).filter(lambda s: s.strip() == s and s)

field_val = st.one_of(
    st.integers(min_value=-2**62, max_value=2**62),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(alphabet=st.characters(codec="ascii", exclude_characters="\n\r",
                                   exclude_categories=("Cc",)), max_size=20))


@settings(max_examples=200, deadline=None)
@given(measurement=name.filter(lambda s: not s.startswith("#")),
       tags=st.dictionaries(name, name, max_size=3),
       fields=st.dictionaries(name, field_val, min_size=1, max_size=3),
       time_ns=st.integers(min_value=0, max_value=2**62))
def test_roundtrip(measurement, tags, fields, time_ns):
    line = format_point(measurement, tags, fields, time_ns)
    recs = parse_line(line)
    assert recs and all(r["error"] is None for r in recs), (line, recs)
    r0 = recs[0]
    assert r0["measurement"] == measurement
    assert r0["tags"] == tags
    assert r0["time"] == time_ns
    got = {}
    for r in recs:
        if r["f_int"] is not None:
            got[r["field_key"]] = r["f_int"]
        elif r["f_bool"] is not None:
            got[r["field_key"]] = r["f_bool"]
        elif r["f_float"] is not None:
            got[r["field_key"]] = r["f_float"]
        else:
            got[r["field_key"]] = r["f_str"]
    for k, v in fields.items():
        if isinstance(v, bool):
            assert got[k] is v
        elif isinstance(v, float):
            assert math.isclose(got[k], v, rel_tol=0, abs_tol=0) or got[k] == v
        else:
            assert got[k] == v


@pytest.mark.parametrize("value", [
    "nan", "NaN", "-nan", "inf", "-inf", "Infinity", "-Infinity", "1e400",
    "-1e400", "1_5", "1_5i", "+1", "+1i", "0x10", "1.5.2", "1e", ".e5",
    "-", "", "1.5i", "1e3i", "9223372036854775808i", "-9223372036854775809i",
    "-5u", "٣", "1__0"])
def test_invalid_numbers_are_error_records(value):
    """Only the line-protocol number grammar with a finite value in range
    parses (InfluxDB 1.x models/points.go); the rest is one error record
    naming "invalid number"."""
    recs = parse_line(f"m v={value} 1")
    assert len(recs) == 1 and recs[0]["measurement"] is None, recs
    assert "invalid number" in recs[0]["error"]


@pytest.mark.parametrize("value,col,want", [
    ("1", "f_float", 1.0), ("-0.5", "f_float", -0.5), (".5", "f_float", 0.5),
    ("5.", "f_float", 5.0), ("1e+16", "f_float", 1e16),
    ("1.5E-07", "f_float", 1.5e-07), ("-1e308", "f_float", -1e308),
    ("7i", "f_int", 7), ("-9223372036854775808i", "f_int", -2**63),
    ("9223372036854775807i", "f_int", 2**63 - 1), ("5u", "f_int", 5)])
def test_valid_numbers_parse(value, col, want):
    (rec,) = parse_line(f"m v={value} 1")
    assert rec["error"] is None and rec[col] == want
    assert type(rec[col]) is type(want)


@pytest.mark.parametrize("value,want", [
    ("nan", None), ("inf", None), ("1e400", None), ("+1", None),
    ("1_0", None), (" 1", None), ("1 ", None), ("١", None), ("1٣", None),
    ("1٣i", None), ("٣u", None), ("9223372036854775808i", None),
    (".5", ("f_float", 0.5)), ("1.", ("f_float", 1.0)),
    ("-.5e3", ("f_float", -500.0)), ("3u", ("f_int", 3)),
    ("-0i", ("f_int", 0)), ("1E+05", ("f_float", 1e5))])
def test_number_table(value, want):
    """`_number` without a regex: what Python's `float` and `int` read
    beyond the grammar (signs, separators, spaces, non-ASCII digits,
    nan/inf) is refused, and the grammar's edge forms are read."""
    if want is None:
        with pytest.raises(ValueError, match="invalid number"):
            _number(value)
    else:
        got = _number(value)
        assert got == want and type(got[1]) is type(want[1])


# the number grammar as a regex (InfluxDB 1.x models/points.go scanNumber)
_GRAMMAR_FLOAT = re.compile(
    r"-?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?")
_GRAMMAR_INT = re.compile(r"-?[0-9]+i|[0-9]+u")


@settings(max_examples=2000, deadline=None)
@given(v=st.text(alphabet="0123456789.-+eEiu_ nNaIf\t٣²x", max_size=8))
def test_number_accepts_exactly_the_grammar(v):
    """`_number` reads a string iff the grammar matches it and its value
    is a finite float or an integer inside BIGINT."""
    if _GRAMMAR_INT.fullmatch(v):
        n = int(v[:-1])
        want = ("f_int", n) if -2**63 <= n < 2**63 else None
    elif _GRAMMAR_FLOAT.fullmatch(v) and math.isfinite(float(v)):
        want = ("f_float", float(v))
    else:
        want = None
    try:
        got = _number(v)
    except ValueError:
        got = None
    assert got == want, v


@pytest.mark.parametrize("ts", ["1_0", "1e3", "1.0", "٣", "9223372036854775808"])
def test_invalid_timestamps_are_error_records(ts):
    recs = parse_line(f"m v=1 {ts}")
    assert len(recs) == 1 and "invalid timestamp" in recs[0]["error"]


@settings(max_examples=200, deadline=None)
@given(x=st.floats(allow_nan=False, allow_infinity=False))
def test_finite_float_roundtrip(x):
    (rec,) = parse_line(format_point("m", {}, {"v": x}, 1))
    assert rec["error"] is None and rec["f_float"] == x


@settings(max_examples=200, deadline=None)
@given(ns=st.integers(min_value=0, max_value=2**62))
def test_time_literal_roundtrip(ns):
    """RFC3339 formatting ↔ parsing agree at µs fidelity (Spark timestamp
    precision; coordinator.go:32-42 RFC3339/epoch duality)."""
    from influxdb_ha_spark.timeutil import parse_time_literal_ns
    import datetime as dt
    us = (ns // 1000) * 1000
    iso = dt.datetime.fromtimestamp(us / 1e9, tz=dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S")
    frac_us = (us // 1000) % 1_000_000
    lit = f"{iso}.{frac_us:06d}Z"
    got = parse_time_literal_ns(lit)
    assert abs(got - us) < 1000, (lit, got, us)


@given(t=st.integers(min_value=0, max_value=2**62),
       interval=st.integers(min_value=1, max_value=10**15),
       offset=st.integers(min_value=0, max_value=10**15))
@settings(max_examples=300, deadline=None)
def test_floor_bucket_matches_time_bucket_arithmetic(t, interval, offset):
    """fill.bucket_spine's python floor must equal timeutil.time_bucket's
    column arithmetic for every (t, interval, offset) — the invariant that
    keeps fill spines joinable to aggregated buckets (the round-2
    offset-spine bug class). Evaluated in pure python on both sides:
    time_bucket is (t-o) - pmod(t-o, i) + o with pmod ≥ 0."""
    from influxdb_ha_spark.functions.fill import _floor_bucket

    offset = offset % interval if interval else 0
    shifted = t - offset
    want = shifted - (shifted % interval) + offset  # python % is pmod for i>0
    assert _floor_bucket(t, interval, offset) == want
    b = _floor_bucket(t, interval, offset)
    assert b <= t < b + interval  # the bucket actually contains t
    assert (b - offset) % interval == 0  # and sits on the offset grid


point = st.tuples(
    st.sampled_from(["cpu", "disk io"]),
    st.dictionaries(st.sampled_from(["host", "dc", "rack"]),
                    st.sampled_from(["a", "b", "c,d", "e f"]), max_size=2),
    st.dictionaries(st.sampled_from(["x", "y", "z"]),
                    st.one_of(st.integers(-2**62, 2**62), st.booleans(),
                              st.floats(allow_nan=False,
                                        allow_infinity=False),
                              st.text("ab \",=", max_size=4)),
                    min_size=1, max_size=3))


@settings(max_examples=12, deadline=None)
@given(points=st.lists(point, min_size=1, max_size=12),
       times=st.lists(st.integers(0, 2**62), min_size=12, max_size=12,
                      unique=True))
def test_pivot_records_matches_pivot_points(spark, points, times):
    """On bodies without a repeated (time, tagset), `pivot_records` gives
    the rows and dtypes of `pivot_points(parse_lines_df(...))`, including
    a field written with two types (the earliest point's type wins and
    the other values are dropped). Distinct times keep the Spark pivot's
    type choice free of ties."""
    lines = [format_point(m, tags, fields, t)
             for (m, tags, fields), t in zip(points, times)]
    long_df = parse_lines_df(
        spark.createDataFrame([(ln,) for ln in lines], "value string"))
    recs = [r for ln in lines for r in parse_line(ln)]
    for name in {r["measurement"] for r in recs}:
        mine = [r for r in recs if r["measurement"] == name]
        tag_keys = sorted({k for r in mine for k in r["tags"]})
        got = spark.createDataFrame(pivot_records(mine, tag_keys))
        want = pivot_points(long_df, name, tag_keys)
        assert got.dtypes == want.dtypes
        assert sorted(map(repr, got.collect())) == \
            sorted(map(repr, want.collect()))


# field name → (Arrow type, values); ints reach past 2**53, where a double
# would round them
_FIELDS = {
    "fi": (pa.int64(), st.one_of(st.sampled_from([2**53 + 1, -(2**62) - 3]),
                                 st.integers(-2**63, 2**63 - 1))),
    "ff": (pa.float64(), st.floats(allow_nan=False)),
    "fs": (pa.string(), st.text("ab,", max_size=3)),
    "fb": (pa.bool_(), st.booleans()),
}


@st.composite
def generation(draw, min_rows):
    """One generation of a measurement's rows: unique (time, tagset) keys
    from a small domain (so two generations overlap), null tags, null
    fields, and its own subset of tag and field columns."""
    tags = draw(st.lists(st.sampled_from(["ta", "tb"]), unique=True))
    fields = draw(st.lists(st.sampled_from(sorted(_FIELDS)), min_size=1,
                           unique=True))
    rows = draw(st.dictionaries(
        st.tuples(st.integers(0, 3),
                  *[st.sampled_from([None, "x", "y"]) for _ in tags]),
        st.tuples(*[st.none() | _FIELDS[f][1] for f in fields]),
        min_size=min_rows, max_size=6))
    schema = pa.schema([("time", pa.int64())]
                       + [(t, pa.string()) for t in tags]
                       + [(f, _FIELDS[f][0]) for f in fields])
    cols = list(zip(*[k + v for k, v in rows.items()])) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, schema.types)],
        schema=schema)


@settings(max_examples=25, deadline=None)
@given(old=generation(0), new=generation(1))
def test_upsert_rows_matches_upsert_points(spark, old, new):
    """The driver's Arrow merge of a /write-born measurement gives the
    columns (in order), dtypes and rows of the Spark `upsert_points`."""
    tags = sorted({"ta", "tb"} & set(old.column_names + new.column_names))
    got = spark.createDataFrame(upsert_rows(old, new, tags))
    want = upsert_points(spark.createDataFrame(old),
                         spark.createDataFrame(new), tags)
    assert got.dtypes == want.dtypes
    assert sorted(map(repr, got.collect())) == \
        sorted(map(repr, want.collect()))
