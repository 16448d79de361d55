"""Result shaping: DataFrame → InfluxDB JSON response format.

The reference returns `{"results": [{"statement_id": 0, "series": [{name,
tags, columns, values}]}]}` with column 0 always `time`
(service/query_utils.go:22-46; coordinator.go:131-158), timestamps RFC3339
by default or numeric epoch per the `epoch` parameter
(coordinator.go:210-216).

This is a presentation layer over a bounded result, and the answer is
collected here in one of two ways before one shaper builds the JSON:

- a plain aggregate with `GROUP BY time()` whose answer the driver collects
  has a `FinishSpec` (built by the planner). Its aggregated rows (WHERE
  plus GROUP BY) come from one of two places:
  - for a statement pyarrow answers as Spark does, they are aggregated in
    pyarrow when collected (`functions/aggregates.held_aggregate`) from
    rows on the driver (`Measurement.answer_rows`): the rows of a
    measurement the driver holds (born from /write), or the driver copy
    of a source Spark reads as one split (one `toArrow()` job the first
    time a generation is answered, none after it). /query then builds no
    DataFrame and runs no Spark job, and its answer is the FinishSpec
    itself;
  - otherwise Spark runs only the aggregated frame, collected with
    `toArrow()`: one job over a source read as one split, two otherwise
    (its shuffle stage and the result stage). /query plans nothing past
    that frame.
  Either way the driver then fills each series' buckets
  (`functions/fill.fill_collected`), resolves open bounds from the
  collected buckets, and applies SLIMIT/SOFFSET, ORDER BY time and
  OFFSET/LIMIT. This is the reference's coordinator re-aggregating and
  shaping the merged per-node answers in-process (coordinator.go:131-158,
  196-237; merge/query_merge.go:106-209);
- every other DataFrame is collected whole with `collect()`, after the
  engine has applied its LIMITs in the plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from itertools import islice
from operator import itemgetter
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame

from .functions.fill import collected_spine, fill_collected
from .timeutil import PRECISIONS

if TYPE_CHECKING:
    import pyarrow as pa


def _sql_lit(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "STRING":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if typ == "DOUBLE":
        return f"CAST({float(v)!r} AS DOUBLE)"
    if typ in ("BIGINT", "INT"):
        return f"CAST({int(v)} AS {typ})"
    if typ == "BOOLEAN":
        return "true" if v else "false"
    raise ValueError(f"unsupported local-result type: {typ}")


def local_result(spark, rows, schema: list[tuple[str, str]]) -> DataFrame:
    """Driver-local rows as a VALUES LocalRelation DataFrame.

    `createDataFrame(local_rows).collect()` parallelizes the rows into an
    RDD scan whose collect launches a real Spark job — which queues behind
    busy task slots, so e.g. SHOW QUERIES would hang exactly when the
    cluster is saturated (when an operator needs it most). A VALUES
    relation optimizes to LocalTableScan, whose executeCollect returns
    driver-side without submitting a job — meta statements stay live at
    any load. Verified: with every local[4] slot pinned by a held UDF,
    VALUES-collect returns in <0.1 s while createDataFrame-collect blocks
    until a slot frees.

    `schema` is [(column_name, SQL type)] with types in
    {STRING, DOUBLE, BIGINT, INT, BOOLEAN}; values are embedded as escaped
    SQL literals (bounded meta results only — never row data).

    Callers (every driver-local answer):
    - server.Engine: SHOW QUERIES, KILL QUERY, EXPLAIN, SELECT … INTO's
      count, the CQ / retention-policy / subscription / user / grant
      statements and the DDL acknowledgements;
    - model.Catalog: SHOW DATABASES / MEASUREMENTS / TAG KEYS / FIELD
      KEYS, an empty SHOW SERIES, Measurement.series_df of a tagless
      measurement, SHOW SERIES / TAG VALUES of a measurement the driver
      holds (answered from its rows) and /query's SHOW TAG VALUES over
      the driver copy of a one-split source;
    - admin.AdminHandler: SHOW PARTITION KEYS, SHOW NODES, SHOW
      REPLICATION FACTORS, SHOW USERS, BACKUP's export list and the
      empty acknowledgements;
    - planner.Planner: the empty answer to a SELECT of unknown fields.
    """
    names = ", ".join(f"`{n}`" for n, _ in schema)
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS `{n}`" for n, t in schema)
        return spark.sql(f"SELECT {cols} WHERE 1=0")
    vals = ", ".join(
        "(" + ", ".join(_sql_lit(v, t)
                        for v, (_, t) in zip(r, schema)) + ")"
        for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({names})")


def _format_time(ns: int, epoch: str | None):
    if epoch is None:
        dt = datetime.fromtimestamp(ns / 1e9, tz=timezone.utc)
        iso = dt.strftime("%Y-%m-%dT%H:%M:%S")
        frac = ns % 1_000_000_000
        if frac:
            iso += f".{frac:09d}".rstrip("0")
        return iso + "Z"
    return ns // PRECISIONS[epoch]


@dataclass(frozen=True)
class FinishSpec:
    """How the driver finishes a collected `GROUP BY time()` answer from
    its aggregated rows. Built by `Planner.plan`, which attaches it to the
    full Spark plan (EXPLAIN, SELECT … INTO, subqueries and the contract
    keys run that one). Asked for /query's answer plan, the planner
    attaches it to the aggregated frame itself, or, for an answer from
    rows on the driver, returns the spec as the answer.

    `columns` are the answer's columns, as a DataFrame's are."""
    # the aggregated rows (time, group tags, value columns): a DataFrame,
    # collected with toArrow() (over a one-split source it aggregates in
    # one partition: one job), or the pyarrow aggregation of rows on the
    # driver (held, or a one-split source's copy), run when collected
    aggregated: DataFrame | Callable[[], pa.Table]
    group_tags: tuple[str, ...]
    value_cols: tuple[str, ...]
    # per value column, from the filled columns' types: a cast for the
    # collected values (float where Spark's coercion made an integer
    # aggregate DOUBLE) and the numeric fill literal in the column's type
    casts: tuple
    fill_values: tuple
    fill: str | float | int | None
    interval_ns: int
    offset_ns: int
    start_ns: int | None
    end_ns: int | None
    order_desc: bool
    offset: int
    limit: int | None
    soffset: int | None
    slimit: int | None

    @property
    def columns(self) -> list[str]:
        return ["time", *self.group_tags, *self.value_cols]


_FINISH = "_influx_finish"


def attach_finish(df: DataFrame, spec: FinishSpec) -> None:
    """Mark `df` (the full plan, or the answer plan) as finished on the
    driver by `spec`. A DataFrame derived from it carries no spec, so it
    is collected."""
    setattr(df, _FINISH, spec)


def _tag_order(key: tuple) -> tuple:
    # ASC NULLS FIRST, Spark's default ascending order
    return tuple((v is not None, v) for v in key)


def _finished_rows(spec: FinishSpec) -> tuple[list[str], list[tuple]]:
    """The answer rows of `spec`: the aggregated rows are collected
    (Spark's last step, or pyarrow's over driver rows); fill, bounds,
    SLIMIT, ORDER BY time and OFFSET/LIMIT run here, in the planner's
    order."""
    agg = spec.aggregated
    tbl = agg.toArrow() if isinstance(agg, DataFrame) else agg()
    times = tbl.column("time").to_pylist()
    keys = (list(zip(*[tbl.column(t).to_pylist() for t in spec.group_tags]))
            if spec.group_tags else [()] * len(times))
    values = list(zip(*[tbl.column(c).to_pylist() for c in spec.value_cols]))
    spine_fill = spec.fill != "none"

    series: dict[tuple, dict[int, tuple]] = {}
    if spine_fill and not spec.group_tags:
        series[()] = {}   # an ungrouped spine exists without data
    for t, k, v in zip(times, keys, values):
        if spine_fill or any(x is not None for x in v):
            series.setdefault(k, {})[t] = v
    picked = sorted(series, key=_tag_order)
    if spec.group_tags and (spec.slimit is not None
                            or spec.soffset is not None):
        lo = spec.soffset or 0
        picked = picked[lo:None if spec.slimit is None else lo + spec.slimit]

    if spine_fill:
        spine = collected_spine(times, spec.interval_ns, spec.start_ns,
                                spec.end_ns, spec.offset_ns)
        filled = [fill_collected(spine, series[k], spec.fill,
                                 spec.fill_values, len(spec.value_cols))
                  for k in picked]
        order = (range(len(spine) - 1, -1, -1) if spec.order_desc
                 else range(len(spine)))
        rows = ((spine[i], k, f[i]) for i in order
                for k, f in zip(picked, filled))
    else:
        rows = [(t, k, v) for k in picked for t, v in series[k].items()]
        # stable: equal times keep the tag order of `picked`
        rows.sort(key=itemgetter(0), reverse=spec.order_desc)
    stop = None if spec.limit is None else spec.offset + spec.limit
    casts = spec.casts if any(spec.casts) else None
    out = []
    for t, k, v in islice(rows, spec.offset, stop):
        if casts:
            v = tuple(x if c is None or x is None else c(x)
                      for x, c in zip(v, casts))
        out.append((t,) + k + v)
    return spec.columns, out


def collect_rows(df: DataFrame | FinishSpec) -> tuple[list[str], list[tuple]]:
    """The columns and rows of an answer: finished on the driver when it
    is a FinishSpec or the planner attached one, else the collected
    plan."""
    spec = df if isinstance(df, FinishSpec) else df.__dict__.get(_FINISH)
    if spec is not None:
        return _finished_rows(spec)
    return df.columns, df.collect()


def to_influx_series(df: DataFrame | FinishSpec, measurement: str,
                     tag_cols: list[str] | None = None,
                     epoch: str | None = None,
                     statement_id: int = 0,
                     messages: list[tuple[str, str]] | None = None) -> dict:
    """Collect an answer (a DataFrame, or a FinishSpec) and shape it into
    the InfluxDB JSON result object."""
    columns, rows = collect_rows(df)
    return shape_series(columns, rows, measurement, tag_cols, epoch,
                        statement_id, messages)


def shape_series(columns: list[str], rows, measurement: str,
                 tag_cols: list[str] | None = None,
                 epoch: str | None = None,
                 statement_id: int = 0,
                 messages: list[tuple[str, str]] | None = None) -> dict:
    """The InfluxDB JSON result object of collected rows (tuples aligned
    with `columns`).

    Rows are grouped into one series per tag combination
    (groupResultsByTags, coordinator.go:48-70); `time` leads the columns.
    """
    pos: dict[str, int] = {}
    for i, c in enumerate(columns):
        pos.setdefault(c, i)
    tag_cols = [t for t in (tag_cols or []) if t in pos]
    value_cols = [c for c in columns if c not in tag_cols]
    if "time" in value_cols:  # time first (coordinator.go:134)
        value_cols = ["time"] + [c for c in value_cols if c != "time"]
    tag_idx = [pos[t] for t in tag_cols]
    val_idx = [pos[c] for c in value_cols]
    timed = [j for j, c in enumerate(value_cols) if c == "time"]
    stamps: dict[int, object] = {}

    series_map: dict[tuple, dict] = {}
    for row in rows:
        key = tuple(row[i] for i in tag_idx)
        s = series_map.get(key)
        if s is None:
            s = {"name": measurement,
                 "tags": dict(zip(tag_cols, key)) if tag_cols else {},
                 "columns": list(value_cols), "values": []}
            series_map[key] = s
        vals = [row[i] for i in val_idx]
        for j in timed:
            v = vals[j]
            if v is not None:
                f = stamps.get(v)
                if f is None:
                    f = stamps[v] = _format_time(v, epoch)
                vals[j] = f
        s["values"].append(vals)

    out_series = list(series_map.values())
    if not tag_cols:
        for s in out_series:
            s.pop("tags", None)
    result = {"statement_id": statement_id, "series": out_series}
    if messages:
        # query_utils.go:15-28: user-facing notes ride along with the result
        result["messages"] = [{"level": lvl, "text": txt}
                              for lvl, txt in messages]
    return {"results": [result]}


def empty_result(statement_id: int = 0) -> dict:
    return {"results": [{"statement_id": statement_id}]}


def chunk_result(result: dict, chunk_size: int) -> list[dict]:
    """Split one statement result into chunked responses.

    Mirrors the reference/InfluxDB chunked transfer (query_utils.go:22-28 +
    httpd): each chunk carries at most `chunk_size` values per series and
    sets `"partial": true` on the result (and series) when more chunks
    follow. The final chunk omits the flags (omitempty parity).
    """
    series = result.get("series") or []
    if not series or chunk_size <= 0:
        return [result]
    chunks: list[dict] = []
    offsets = [0] * len(series)
    while True:
        out_series = []
        more = False
        for i, s in enumerate(series):
            vals = s["values"][offsets[i]:offsets[i] + chunk_size]
            if not vals and offsets[i] > 0:
                continue
            offsets[i] += len(vals)
            entry = {k: v for k, v in s.items() if k != "values"}
            entry["values"] = vals
            if offsets[i] < len(s["values"]):
                entry["partial"] = True
                more = True
            out_series.append(entry)
        chunk = {"statement_id": result.get("statement_id", 0),
                 "series": out_series}
        if "messages" in result and not chunks:
            chunk["messages"] = result["messages"]
        if more:
            chunk["partial"] = True
        chunks.append(chunk)
        if not more:
            return chunks
