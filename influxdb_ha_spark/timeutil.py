"""Nanosecond-precision time helpers.

InfluxDB's native time resolution is nanoseconds (reference
service/write_handler.go:48-51: precision defaults to "nanoseconds";
syncing/importer.go:392-397 parses result times with `time.Unix(0, ns)`).
Spark's TimestampType is microseconds, so the engine's canonical `time`
column is LongType ns; these helpers do bucket math and duration parsing.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

from .errors import QueryError

NS = 1
US = 1_000
MS = 1_000_000
SECOND = 1_000_000_000
MINUTE = 60 * SECOND
HOUR = 60 * MINUTE
DAY = 24 * HOUR
WEEK = 7 * DAY

_DURATION_UNITS = {
    "ns": NS, "u": US, "µ": US, "us": US, "ms": MS,
    "s": SECOND, "m": MINUTE, "h": HOUR, "d": DAY, "w": WEEK,
}

_DURATION_RE = re.compile(r"(\d+)(ns|us|µ|u|ms|s|m|h|d|w)")

# Precision strings accepted by the reference's /write and /query endpoints
# (write_handler.go:48-51, coordinator.go:210-216 epoch formatting).
PRECISIONS = {"ns": NS, "n": NS, "u": US, "µ": US, "ms": MS, "s": SECOND,
              "m": MINUTE, "h": HOUR}


def parse_duration_ns(text: str) -> int:
    """Parse an InfluxQL duration literal like ``1d``, ``90m``, ``1h30m`` → ns."""
    text = text.strip()
    pos = 0
    total = 0
    for m in _DURATION_RE.finditer(text):
        if m.start() != pos:
            raise ValueError(f"invalid duration literal: {text!r}")
        total += int(m.group(1)) * _DURATION_UNITS[m.group(2)]
        pos = m.end()
    if pos != len(text) or total == 0 and text not in ("0", "0s"):
        if not (pos == len(text) and pos > 0):
            raise ValueError(f"invalid duration literal: {text!r}")
    return total


_TIME_LITERAL_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})"
    r"(?:[T ](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,9}))?)?Z?$")


def parse_time_literal_ns(text: str) -> int:
    """RFC3339(-ish) string → epoch ns (InfluxQL time literals).

    Fractional seconds carry 1-9 digits — strptime's %f caps at 6, but the
    reference's native resolution is ns, so '…00.123456789Z' is a legal
    literal. Failures raise QueryError (→ HTTP 400, not a 500)."""
    t = text.strip().strip("'\"")
    m = _TIME_LITERAL_RE.match(t)
    if not m:
        raise QueryError(f"cannot parse time literal: {text!r}")
    try:
        dt = datetime(int(m[1]), int(m[2]), int(m[3]),
                      int(m[4] or 0), int(m[5] or 0), int(m[6] or 0),
                      tzinfo=timezone.utc)
    except ValueError as e:
        raise QueryError(f"cannot parse time literal: {text!r}") from e
    frac_ns = int((m[7] or "").ljust(9, "0")) if m[7] else 0
    return int(dt.timestamp()) * SECOND + frac_ns


def time_bucket(time_col: Column, interval_ns: int, offset_ns: int = 0) -> Column:
    """Floor an ns-long time column to its `GROUP BY time(interval)` bucket.

    InfluxDB aligns buckets to the epoch (plus optional offset); for positive
    epochs this is plain floor-div arithmetic — stays fully inside
    whole-stage codegen, no UDF. (Reference delegates bucketing to the data
    nodes — coordinator.go:196-204; here Catalyst owns it.)
    """
    shifted = time_col - F.lit(offset_ns)
    return (shifted - _pmod(shifted, interval_ns)) + F.lit(offset_ns)


def time_bucket_values(times, interval_ns: int, offset_ns: int = 0):
    """`time_bucket` over a null-free int64 Arrow column on the driver:
    the same floor toward −∞ (negative times, offsets), in the same
    wrapping int64 arithmetic (numpy's `%` takes the divisor's sign, as
    `pmod` does for a positive interval)."""
    import pyarrow as pa
    shifted = times.to_numpy() - offset_ns
    return pa.array(shifted - shifted % interval_ns + offset_ns)


def _pmod(col: Column, divisor: int) -> Column:
    return F.pmod(col, F.lit(divisor))


def ns_to_timestamp(time_col: Column) -> Column:
    """ns-long → TimestampType (µs truncation) for APIs that need timestamps.

    NOT a plain `/ 1000`: Spark's `/` is double division, and a ~1.7e18 ns
    epoch doesn't fit a 53-bit mantissa — the low ~9 bits round away, so
    times within ~512 ns of a µs boundary land on the WRONG microsecond.
    Split into seconds + sub-second first: `t - t % 1e9` is a multiple of
    2^9·5^9 (exactly double-representable at this magnitude, spacing 256),
    so its division is exact; the sub-second part is < 1e9 and exact."""
    sub_ns = time_col % F.lit(1_000_000_000)
    sec = ((time_col - sub_ns) / F.lit(1_000_000_000)).cast("long")
    us = sec * F.lit(1_000_000) + (sub_ns / F.lit(1000)).cast("long")
    return F.timestamp_micros(us)


def timestamp_to_ns(ts_col: Column) -> Column:
    """TimestampType → ns-long (µs precision preserved, sub-µs zero).

    Accepts TIMESTAMP_NTZ too: `unix_micros` requires TIMESTAMP_LTZ, so we
    cast first (a no-op for LTZ input). With the engine's UTC session
    timezone the NTZ wall-clock is read as a UTC instant — the same
    convention DuckDB's `epoch_ns(naive_ts)` uses, keeping oracle
    comparisons consistent."""
    return F.unix_micros(ts_col.cast("timestamp_ltz")) * F.lit(1000)


def format_time(time_col: Column, epoch: str | None) -> Column:
    """Format result `time` per the client's `epoch` parameter.

    The reference emits RFC3339 strings by default and numeric epochs when
    `epoch=ns|u|ms|s|m|h` is passed (coordinator.go:210-216).
    """
    if epoch is None:
        return F.date_format(ns_to_timestamp(time_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    div = PRECISIONS[epoch]
    return (time_col / F.lit(div)).cast("long")


def time_bucket_tz(time_col: Column, interval_ns: int, zone: str,
                   offset_ns: int = 0) -> Column:
    """tz('zone') bucketing: floor in local wall-clock time, then map the
    bucket edge back to the UTC instant (influxql's tz clause; the
    reference forwards it verbatim inside the statement).

    Shift-floor-unshift at µs precision: from_utc_timestamp applies the
    zone offset in effect at each point, so buckets track DST the way the
    local calendar does. Sub-µs interval alignment is unsupported with tz
    (as is sub-second in practice).
    """
    local = F.from_utc_timestamp(ns_to_timestamp(time_col), zone)
    local_ns = F.unix_micros(local) * F.lit(1000)
    shifted = local_ns - F.lit(offset_ns)
    floored = (shifted - _pmod(shifted, interval_ns)) + F.lit(offset_ns)
    back = F.to_utc_timestamp(F.timestamp_micros(
        (floored / F.lit(1000)).cast("long")), zone)
    return F.unix_micros(back) * F.lit(1000)
