"""InfluxDB line-protocol parsing → DataFrames.

The reference accepts line protocol on POST /write and parses with
`models.ParsePoints` (service/write_handler.go:74); points carry
measurement, tags, typed fields, and an optional ns timestamp:

    weather,location=us-midwest temperature=82,humidity=71i 1465839830100400200

Two parsers are provided:
- `parse_line`      — single-point Python parser. It is the /write path
  (`server.write_lines`): the request body is already in the driver, so it
  is parsed there and `pivot_records` pivots it without a Spark job.
- `parse_lines_df`  — vectorized `mapInPandas` parser over `parse_line`
  (Arrow-batched; bytes in, typed rows out, no driver involvement; scales
  linearly with partitions of the raw-line DataFrame). It serves the
  data-parallel ingests (`ingest.ingest_lines`, `stream_ingest_lines`) and
  is the reference `pivot_records` is tested against.

Output is "long" shape: (measurement, tags map, field key, field value typed
columns, time ns). `pivot_points` turns it into a per-measurement wide
DataFrame matching the model.Measurement layout.

Type rules follow InfluxDB 1.x: `1i` → int, `t/true/f/false` → bool, quoted
→ string, bare number → float; missing timestamp → ingest time (we require
explicit timestamps in deterministic tests). A number outside the
line-protocol grammar (`nan`, `inf`, `1_5`, `+1`) or its range (`1e400`,
an integer beyond BIGINT) makes the line an error record, "invalid
number", as InfluxDB 1.x answers it.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LONG_SCHEMA = ("measurement string, tags map<string,string>, "
               "field_key string, f_float double, f_int long, f_bool boolean, "
               "f_str string, time long, error string")

_ESCAPED_COMMA_SPACE = re.compile(r"\\([,\s=])")

# InfluxDB 1.x number grammar (models/points.go scanNumber): an optional
# minus, ASCII digits with at most one decimal point and, for a float, an
# exponent; an integer ends in `i`, an unsigned one in `u`. No NaN, no
# infinity, no `+` sign, no digit separators. `_number` checks it without
# a regex: Python's `int` and `float` read a superset of it, and what they
# read beyond it (spaces around the number, a leading `+`, `_` separators,
# non-ASCII digits, `nan`/`inf`) is excluded by the checks before them.
_TIMESTAMP = re.compile(r"[+-]?[0-9]+")
_INT64 = (-2**63, 2**63 - 1)
_FLOAT_FIRST = frozenset("-.0123456789")
_FLOAT_LAST = frozenset(".0123456789")


def _number(v: str) -> tuple[str, float | int]:
    """A field value in the number grammar → ("f_int", int) or
    ("f_float", float); ValueError "invalid number" for anything else, a
    float that is not finite (1e400) or an integer outside BIGINT."""
    last = v[-1:]
    if last in _FLOAT_LAST:
        if v[0] in _FLOAT_FIRST and v.isascii() and "_" not in v:
            try:
                x = float(v)
            except ValueError:
                x = math.inf
            if math.isfinite(x):
                return "f_float", x
    elif last == "i" or last == "u":
        digits = v[1:-1] if last == "i" and v[0] == "-" else v[:-1]
        if digits.isdecimal() and digits.isascii():
            n = int(v[:-1])
            if _INT64[0] <= n <= _INT64[1]:
                return "f_int", n
    raise ValueError(f"invalid number {v!r}")


def _timestamp(v: str) -> int:
    if _TIMESTAMP.fullmatch(v):
        n = int(v)
        if _INT64[0] <= n <= _INT64[1]:
            return n
    raise ValueError(f"invalid timestamp {v!r}")


def _split_escaped(s: str, sep: str) -> list[str]:
    """Split on sep unless backslash-escaped."""
    out, cur, i = [], [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(c)
            cur.append(s[i + 1])
            i += 2
            continue
        if c == sep:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def _unescape(s: str) -> str:
    """Drop one level of backslash escaping (`\\x` → `x`, incl. `\\\\`)."""
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(s[i + 1])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _split_quote_aware(s: str, sep: str) -> list[str]:
    """Split on `sep` unless backslash-escaped or inside double quotes
    (string field values may contain separators — influx line protocol)."""
    out, cur, i, in_q = [], [], 0, False
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(c)
            cur.append(s[i + 1])
            i += 2
            continue
        if c == '"':
            in_q = not in_q
        if c == sep and not in_q:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def _partition_unescaped_eq(s: str) -> tuple[str, str]:
    """Split key=value at the first unescaped `=` (keys may contain `\\=`)."""
    i = 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            i += 2
            continue
        if s[i] == "=":
            return s[:i], s[i + 1:]
        i += 1
    raise ValueError(f"missing '=' in {s!r}")


def parse_line(line: str, default_time_ns: int | None = None) -> list[dict]:
    """One line → list of long-shape dicts (one per field), or a single
    error record with `error` set."""
    line = line.strip()
    if not line or line.startswith("#"):
        return []
    try:
        # measurement[,tags] <space> fields [<space> timestamp]
        parts = _split_quote_aware(line, " ")
        parts = [p for p in parts if p != ""]
        if len(parts) < 2:
            raise ValueError("missing fields")
        head, fields_part = parts[0], parts[1]
        ts = _timestamp(parts[2]) if len(parts) >= 3 else default_time_ns
        head_parts = _split_escaped(head, ",")
        measurement = _unescape(head_parts[0])
        if not measurement:
            raise ValueError("missing measurement")
        tags = {}
        for t in head_parts[1:]:
            k, v = _partition_unescaped_eq(t)
            if not k or not v:
                raise ValueError(f"bad tag: {t!r}")
            tags[_unescape(k)] = _unescape(v)
        out = []
        for fp in _split_quote_aware(fields_part, ","):
            k, v = _partition_unescaped_eq(fp)
            rec = {"measurement": measurement, "tags": tags,
                   "field_key": _unescape(k), "f_float": None, "f_int": None,
                   "f_bool": None, "f_str": None, "time": ts, "error": None}
            if v.startswith('"') and v.endswith('"') and len(v) >= 2:
                rec["f_str"] = _unescape(v[1:-1])
            elif v in ("t", "T", "true", "True", "TRUE"):
                rec["f_bool"] = True
            elif v in ("f", "F", "false", "False", "FALSE"):
                rec["f_bool"] = False
            else:
                col, rec[col] = _number(v)
            out.append(rec)
        if not out:
            raise ValueError("no fields")
        return out
    except Exception as exc:  # noqa: BLE001 — malformed line → error record
        return [{"measurement": None, "tags": None, "field_key": None,
                 "f_float": None, "f_int": None, "f_bool": None,
                 "f_str": None, "time": None, "error": f"{exc}: {line[:120]}"}]


def parse_lines_df(lines: DataFrame, line_col: str = "value",
                   default_time_ns: int | None = None) -> DataFrame:
    """Vectorized parse of a DataFrame of raw lines (one string per row).

    `mapInPandas` keeps parsing on the executors with Arrow-batched
    transfer — the 100 TB ingest shape: a file/Kafka source of raw lines is
    already partitioned; parsing is map-only, no shuffle.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            recs: list[dict] = []
            for line in pdf[line_col]:
                if line is not None:
                    recs.extend(parse_line(line, default_time_ns))
            # object columns: a long column holding nulls would otherwise
            # become float64 and round integers beyond 2**53
            yield pd.DataFrame(recs, dtype=object, columns=[
                "measurement", "tags", "field_key", "f_float", "f_int",
                "f_bool", "f_str", "time", "error"])

    return lines.mapInPandas(run, LONG_SCHEMA)


def pivot_points(long_df: DataFrame, measurement: str,
                 tag_keys: list[str]) -> DataFrame:
    """Long shape → wide per-measurement DataFrame (time + tags + fields).

    Field columns are typed by first-seen type, like InfluxDB's
    first-write-wins typing; one output row per (time, tagset).
    """
    m = long_df.where((F.col("measurement") == measurement) &
                      F.col("error").isNull())
    # first-write-wins: the type of the EARLIEST row per field (InfluxDB
    # fixes a field's type at its first write; min over the type-tag string
    # would instead pick alphabetically and let a later bool beat an
    # earlier float). collect() is bounded: one row per field key.
    field_types = {r["field_key"]: r["t"] for r in (
        m.select("field_key", "time",
                 F.when(F.col("f_float").isNotNull(), "f_float")
                 .when(F.col("f_int").isNotNull(), "f_int")
                 .when(F.col("f_bool").isNotNull(), "f_bool")
                 .otherwise("f_str").alias("t"))
        .groupBy("field_key").agg(F.min_by("t", "time").alias("t")).collect())}
    keys = [F.col("time")] + [F.col("tags")[k].alias(k) for k in tag_keys]
    aggs = [F.first(F.when(F.col("field_key") == fk, F.col(col)),
                    ignorenulls=True).alias(fk)
            for fk, col in sorted(field_types.items())]
    return m.groupBy(*keys).agg(*aggs)


def pivot_records(recs: list[dict], tag_keys: list[str]):
    """`pivot_points` on the driver: one measurement's `parse_line` records,
    in line order → a `pyarrow.Table` with one row per (time, tagset) and
    columns time + `tag_keys` + sorted field keys.

    A field's type is the one of its earliest point, ties broken by line
    order. Lines that repeat a (time, tagset) merge like writes do in
    `ingest.upsert_points`: the later line wins field by field and fields
    it lacks keep their value. As in `pivot_points`, a value of another type
    than its field's is dropped.
    """
    import pyarrow as pa

    arrow_type = {"f_float": pa.float64(), "f_int": pa.int64(),
                  "f_bool": pa.bool_(), "f_str": pa.string()}

    def value_col(r: dict) -> str:  # pivot_points' f_float > … > f_str
        return next((c for c in ("f_float", "f_int", "f_bool")
                     if r[c] is not None), "f_str")

    first: dict[str, tuple] = {}
    for i, r in enumerate(recs):
        order = (r["time"] is None, r["time"] or 0, i)
        if r["field_key"] not in first or order < first[r["field_key"]][0]:
            first[r["field_key"]] = (order, value_col(r))
    fields = sorted(first)
    col_of = {fk: first[fk][1] for fk in fields}
    pos = {fk: j for j, fk in enumerate(fields, start=1 + len(tag_keys))}
    rows: dict[tuple, list] = {}
    for r in recs:
        key = (r["time"], *(r["tags"].get(k) for k in tag_keys))
        row = rows.get(key)
        if row is None:
            row = rows[key] = [*key] + [None] * len(fields)
        v = r[col_of[r["field_key"]]]
        if v is not None:
            row[pos[r["field_key"]]] = v
    schema = pa.schema([("time", pa.int64())]
                       + [(k, pa.string()) for k in tag_keys]
                       + [(fk, arrow_type[col_of[fk]]) for fk in fields])
    cols = list(zip(*rows.values()))
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, schema.types)],
        schema=schema)


def errors_df(long_df: DataFrame) -> DataFrame:
    """Malformed lines (the dead-letter stream)."""
    return long_df.where(F.col("error").isNotNull()).select("error")


# -- formatting (the write/export direction) --------------------------------

def _escape_key(s: str) -> str:
    return s.replace("\\", "\\\\").replace(",", "\\,") \
            .replace(" ", "\\ ").replace("=", "\\=")


def format_point(measurement: str, tags: dict[str, str],
                 fields: dict[str, object], time_ns: int | None = None) -> str:
    """Point → line protocol (the inverse of `parse_line`; the export shape
    the reference relays to data nodes, write_handler.go:166-172).

    Field typing mirrors InfluxDB: int → `42i`, bool → `true`/`false`,
    str → quoted with escaped quotes, float → repr.
    """
    head = _escape_key(measurement)
    for k in sorted(tags):
        head += f",{_escape_key(k)}={_escape_key(str(tags[k]))}"
    fps = []
    for k in sorted(fields):
        v = fields[k]
        if isinstance(v, bool):
            s = "true" if v else "false"
        elif isinstance(v, int):
            s = f"{v}i"
        elif isinstance(v, float):
            s = repr(v)
        else:
            s = '"' + str(v).replace("\\", "\\\\").replace('"', '\\"') + '"'
        fps.append(f"{_escape_key(k)}={s}")
    line = f"{head} {','.join(fps)}"
    if time_ns is not None:
        line += f" {time_ns}"
    return line


def _escape_col(c: Column) -> Column:
    """Columnar key/tag-value escaping (mirror of `_escape_key`)."""
    out = F.regexp_replace(c, r"\\", r"\\\\")
    out = F.regexp_replace(out, ",", r"\\,")
    out = F.regexp_replace(out, " ", r"\\ ")
    return F.regexp_replace(out, "=", r"\\=")


def to_line_protocol(df: DataFrame, measurement: str, tags: list[str],
                     fields: list[str], time_col: str = "time") -> DataFrame:
    """Wide rows → line-protocol strings, fully columnar (the export
    direction of the reference's import/export cycle —
    convertRowToPoints, syncing/importer.go:361-404 — with no per-row
    Python). Output: one `line` string column; null fields are omitted
    per-row via array_compact.
    """
    head = F.concat_ws(",", F.lit(_escape_key(measurement)), *[
        F.when(F.col(t).isNotNull(),
               F.concat(F.lit(_escape_key(t) + "="), _escape_col(F.col(t))))
        for t in tags])
    dtypes = dict(df.dtypes)
    fps = []
    for fld in fields:
        c = F.col(fld)
        t = dtypes.get(fld, "double")
        if t in ("bigint", "int", "smallint", "tinyint", "long"):
            v = F.concat(c.cast("string"), F.lit("i"))
        elif t == "boolean":
            v = F.when(c, "true").otherwise("false")
        elif t in ("double", "float"):
            v = c.cast("string")
        else:
            quoted = F.regexp_replace(
                F.regexp_replace(c, r"\\", r"\\\\"), '"', r'\\"')
            v = F.concat(F.lit('"'), quoted, F.lit('"'))
        fps.append(F.when(c.isNotNull(),
                          F.concat(F.lit(_escape_key(fld) + "="), v)))
    field_part = F.array_join(F.array_compact(F.array(*fps)), ",")
    line = F.concat(head, F.lit(" "), field_part, F.lit(" "),
                    F.col(time_col).cast("string"))
    return df.select(line.alias("line"))
