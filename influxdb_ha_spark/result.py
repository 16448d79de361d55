"""Result shaping: DataFrame → InfluxDB JSON response format.

The reference returns `{"results": [{"statement_id": 0, "series": [{name,
tags, columns, values}]}]}` with column 0 always `time`
(service/query_utils.go:22-46; coordinator.go:131-158), timestamps RFC3339
by default or numeric epoch per the `epoch` parameter
(coordinator.go:210-216).

This is a presentation layer over a bounded result: `collect()` happens here
and only here, after the engine has applied LIMITs — mirroring the
reference, which streams JSON rows to the client.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame

from .timeutil import PRECISIONS


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
      KEYS, an empty SHOW SERIES, and Measurement.series_df of a tagless
      measurement;
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


def to_influx_series(df: DataFrame, measurement: str,
                     tag_cols: list[str] | None = None,
                     epoch: str | None = None,
                     statement_id: int = 0,
                     messages: list[tuple[str, str]] | None = None) -> dict:
    """Shape a result DataFrame into the InfluxDB JSON result object.

    Rows are grouped into one series per tag combination
    (groupResultsByTags, coordinator.go:48-70); `time` leads the columns.
    """
    tag_cols = [t for t in (tag_cols or []) if t in df.columns]
    value_cols = [c for c in df.columns if c not in tag_cols]
    if "time" in value_cols:  # time first (coordinator.go:134)
        value_cols = ["time"] + [c for c in value_cols if c != "time"]

    series_map: dict[tuple, dict] = {}
    for row in df.collect():
        key = tuple(row[t] for t in tag_cols)
        s = series_map.get(key)
        if s is None:
            s = {"name": measurement,
                 "tags": {t: row[t] for t in tag_cols} if tag_cols else {},
                 "columns": list(value_cols), "values": []}
            series_map[key] = s
        vals = []
        for c in value_cols:
            v = row[c]
            if c == "time" and v is not None:
                v = _format_time(v, epoch)
            vals.append(v)
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
