"""Property-based round-trip: format_point → parse_line recovers the point
exactly, for arbitrary measurement/tag/field content including characters
that require escaping (commas, spaces, equals, quotes, backslashes); and
the driver-side pivot of /write agrees with the Spark one."""

import math

from hypothesis import given, settings, strategies as st

from influxdb_ha_spark.lineprotocol import (format_point, parse_line,
                                            parse_lines_df, pivot_points,
                                            pivot_records)

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
