"""The benchmark's workloads. Each is a closed loop with one client.

query
    A fixed rotation of InfluxQL statements over HTTP /query against the
    `events` measurement (sf0.1: 100k points written by the repo's
    tools/gen_scale.gen_events, the same for every seed and written once
    per checkout). `now()` is
    fixed; the time windows and tags come from the seed. It is the
    dashboard read path: influxql -> planner -> result -> http_server.
    Warm statements take 0.1-0.6 s, so a run holds fifty or more
    samples. It skips the write path.

ingest
    Cycles of DROP/CREATE DATABASE, then 10 x (one 1000-point /write and
    one GROUP BY time(10m), region read of the written measurement). It is
    the only workload through lineprotocol, server.write_lines and
    ingest.upsert_points. Reads slow with every write since the last
    reset (the upsert plan grows one union per write), so the reset keeps
    every cycle the same shape and only whole cycles are measured. The
    first write of a fresh engine takes ~5 s against ~1 s warm, so the
    first three ops of a cycle are run as warm-up. One op is a write plus
    its read.

An op of `query` is one HTTP request. The tail percentile is fixed per
workload; a `query` run measures until at least ten samples lie beyond it.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np

import data
import harness

DB_QUERY = "default"
DB_INGEST = "bench"
INGEST_MEASUREMENT = "cpu"


def series_table(body: bytes) -> tuple[list[str], list[tuple]]:
    """An InfluxDB JSON response as one table: tag columns, then the
    series columns."""
    res = json.loads(body)["results"][0]
    cols: list[str] | None = None
    rows: list[tuple] = []
    for s in res.get("series", []):
        tags = s.get("tags") or {}
        c = sorted(tags) + s["columns"]
        if cols is None:
            cols = c
        for v in s["values"]:
            rows.append(tuple(tags[t] for t in sorted(tags)) + tuple(v))
    return cols or [], rows


def response_ok(body: bytes) -> bool:
    """A 2xx /query answer can still carry a per-statement error."""
    try:
        res = json.loads(body)["results"]
    except (ValueError, KeyError, TypeError):
        return False
    return all("error" not in r for r in res)


def points_in(body: bytes) -> int:
    res = json.loads(body)["results"][0]
    return sum(len(s["values"]) for s in res.get("series", []))


class Op:
    """One measured request."""
    __slots__ = ("kind", "ok", "seconds", "points", "body")

    def __init__(self, kind, ok, seconds, points, body):
        self.kind, self.ok, self.seconds = kind, ok, seconds
        self.points, self.body = points, body


class Workload:
    name = ""
    tail_pct = 90.0

    def __init__(self):
        self.engine = self.server = self.client = None

    def prepare(self, spark) -> None:
        """Write the run's input tables (untimed, once per run)."""

    # set-up: build the serving stack on a live Spark session -------------
    def setup(self, spark) -> None:
        from influxdb_ha_spark.http_server import serve
        self.close()
        self.engine = self.make_engine(spark)
        self.server, port = serve(self.engine)
        self.client = harness.Client(port)
        if not self.client.ping():
            raise RuntimeError("server did not answer /ping")

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def min_ops(self) -> int:
        """Fewest ops that leave ten samples beyond the tail percentile."""
        n = 10
        while harness.beyond([0.0] * n, self.tail_pct) < 10:
            n += 1
        return n


# -- query -------------------------------------------------------------------

class QueryWorkload(Workload):
    name = "query"
    # Nine statements, so the median falls inside the middle (hourly)
    # statements rather than between two of them. The four slowest (the
    # open-bounded fill, GROUP BY time(1d), event_type, the subquery and
    # the linear fill) lie within ~30% of each other and make up 4/9 of
    # the rotation, so p75 falls inside that group; in runs on 4 CPUs the
    # samples beyond it were mostly the open-bounded fill and time(1d),
    # then the linear fill and the subquery. Each run prints
    # the median per statement and which statements lie beyond the tail.
    tail_pct = 75.0
    # Five rotations are the fewest with ten samples beyond p75, but over
    # ten such runs on 4 shared CPUs the median's interquartile range was
    # 25% of its median; a run measures at least eight rotations (72 ops,
    # 18 beyond p75), which brought it to 13%.
    measure_rounds = 8
    # The first rotation compiles every plan (~4x a warm one) and the JIT
    # keeps shaving later rotations for a while. Warm-up is a fixed number
    # of rotations, not a time, so every run times the same stretch of
    # that curve whatever the host's speed; three keep a run short enough
    # for 22 runs of each workload to fit the benchmark's time budget.
    warmup_rounds = 3

    def min_ops(self) -> int:
        return max(super().min_ops(),
                   self.measure_rounds * len(self.rotation))

    def warmup(self) -> list[Op]:
        ops = []
        for _ in range(self.warmup_rounds):
            ops += self.run_round()
        return ops

    def __init__(self, seed: int, work_dir: str):
        super().__init__()
        self.events_dir = None
        self.rotation, self.params = self.statements(seed)

    def prepare(self, spark) -> None:
        self.events_dir = data.write_events(spark, harness.CACHE_DIR)

    @staticmethod
    def statements(seed: int):
        """The rotation [(kind, InfluxQL)] and each statement's window and
        tag {kind: params}. Windows have a fixed length and a seeded
        position inside the days that hold data, so every seed does the
        same amount of work."""
        rng = np.random.default_rng(seed + 1_000_003)
        J, D = data.JAN1_NS, data.DAY_NS

        def window(days):
            start = int(rng.integers(0, data.EVENTS_DAYS - days + 1))
            return {"lo": J + start * D, "hi": J + (start + days) * D}

        def tag():
            return str(rng.choice(data.EVENT_TYPES))

        p = {
            "group_1h": window(7),
            "group_1h_tag": dict(window(7), tag=tag()),
            "group_1d_tag": window(14),
            "raw_limit": dict(window(7), tag=tag(), limit=100),
            # 5-minute buckets of one tag leave about one bucket in ten
            # empty, so the linear fill has gaps to interpolate
            "fill_linear": dict(window(2), tag=tag(), every=300 * 10**9),
            "fill_open": {"tag": tag()},
            "subquery": window(14),
            "show_tag_values": {},
            "show_measurements": {},
        }

        def w(k):
            return f"time >= {p[k]['lo']} AND time < {p[k]['hi']}"
        rotation = [
            ("group_1h", "SELECT mean(value) FROM events "
                         f"WHERE {w('group_1h')} GROUP BY time(1h)"),
            ("group_1h_tag", "SELECT count(value), max(value) FROM events "
                             f"WHERE {w('group_1h_tag')} "
                             f"AND event_type = '{p['group_1h_tag']['tag']}' "
                             "GROUP BY time(1h)"),
            ("group_1d_tag", "SELECT mean(value), sum(value) FROM events "
                             f"WHERE {w('group_1d_tag')} "
                             "GROUP BY time(1d), event_type"),
            ("raw_limit", "SELECT value, event_id FROM events "
                          f"WHERE {w('raw_limit')} "
                          f"AND event_type = '{p['raw_limit']['tag']}' "
                          "ORDER BY time LIMIT 100"),
            ("fill_linear", "SELECT sum(value) FROM events "
                            f"WHERE {w('fill_linear')} "
                            f"AND event_type = '{p['fill_linear']['tag']}' "
                            "GROUP BY time(5m) fill(linear)"),
            ("fill_open", "SELECT count(value) FROM events WHERE time < now() "
                          f"AND event_type = '{p['fill_open']['tag']}' "
                          "GROUP BY time(1d) fill(0)"),
            ("subquery", "SELECT max(c), min(c) FROM (SELECT count(value) "
                         f"AS c FROM events WHERE {w('subquery')} "
                         "GROUP BY time(1d), event_type) GROUP BY event_type"),
            ("show_tag_values",
             "SHOW TAG VALUES FROM events WITH KEY = event_type"),
            ("show_measurements", "SHOW MEASUREMENTS"),
        ]
        return rotation, p

    def make_engine(self, spark):
        from influxdb_ha_spark.model import events_measurement
        from influxdb_ha_spark.server import Engine
        catalog, _ = events_measurement(spark, self.events_dir)
        return Engine(catalog, database=DB_QUERY, now_ns=data.NOW_NS)

    def run_round(self) -> list[Op]:
        ops = []
        for kind, q in self.rotation:
            status, body, dt = self.client.query(q, DB_QUERY)
            ops.append(Op(kind, harness.ok_status(status), dt, 0, body))
        return ops

    def finish(self, ops: list[Op]) -> None:
        for op in ops:
            op.ok = op.ok and response_ok(op.body)
            if op.ok:
                op.points = points_in(op.body)

    # output checks (untimed) ------------------------------------------------
    def check(self, ops: list[Op]) -> list[str]:
        """Every timed response must equal the first one of its kind, and
        that one must equal the answer computed from the table in pandas.
        The oracles.py statements are checked on top."""
        errors = []
        first: dict[str, bytes] = {}
        for op in ops:
            if not op.ok:
                continue
            ref = first.setdefault(op.kind, op.body)
            if op.body != ref:
                errors.append(f"{op.kind}: response changed between "
                              "identical requests")
        ev = data.read_events(self.events_dir)
        for kind, _ in self.rotation:
            if kind not in first:
                errors.append(f"{kind}: no successful response")
                continue
            cols, rows = series_table(first[kind])
            wcols, want = data.expected_query(kind, self.params[kind], ev)
            if kind == "subquery" and "time" in cols:
                # an outer query without GROUP BY time() reports time 0
                i = cols.index("time")
                cols = cols[:i] + cols[i + 1:]
                rows = [r[:i] + r[i + 1:] for r in rows]
            if cols != wcols or not data.rows_match(rows, want):
                errors.append(f"{kind}: response differs from the answer "
                              "computed from the table")
        errors += self._check_oracles()
        return errors

    # (key in oracles.py, the InfluxQL its q_iq_* contract function runs)
    ORACLE_CHECKS = [
        ("iq_mean_1h",
         "SELECT sum(value) AS sum_value, count(value) AS n FROM events "
         "WHERE time <= now() GROUP BY time(1h) fill(none)"),
        ("iq_mean_1d_tag",
         "SELECT sum(value) AS sum_value, count(value) AS n FROM events "
         "GROUP BY time(1d), event_type fill(none)"),
        ("iq_raw_limit",
         "SELECT value, event_id FROM events WHERE time >= {JAN1} "
         "AND time < {JAN1_7} AND event_type = 'click' "
         "ORDER BY time LIMIT 100"),
        ("iq_fill_linear",
         "SELECT sum(value) AS mv FROM events WHERE time >= {JAN1} "
         "AND time < {FEB1} AND event_type='signup' "
         "GROUP BY time(6h) fill(linear)"),
        ("iq_subquery",
         "SELECT max(c) AS max_daily, min(c) AS min_daily FROM "
         "(SELECT count(value) AS c FROM events "
         "GROUP BY time(1d), event_type fill(none)) GROUP BY event_type"),
    ]

    @staticmethod
    def _shape(key: str, cols: list[str], rows: list[tuple]):
        """Apply the contract's post-processing (the `q_iq_*` functions
        in __spark_entry__) to the HTTP response table."""
        def cents(x):
            return math.floor(x * 100 + 0.5) / 100
        ix = {c: i for i, c in enumerate(cols)}
        if key == "iq_mean_1h":
            return (["time", "mean_value", "n"],
                    [(r[ix["time"]], cents(r[ix["sum_value"]]) / r[ix["n"]],
                      r[ix["n"]]) for r in rows])
        if key == "iq_mean_1d_tag":
            return (["time", "event_type", "mean_value", "sum_value"],
                    [(r[ix["time"]], r[ix["event_type"]],
                      cents(r[ix["sum_value"]]) / r[ix["n"]],
                      cents(r[ix["sum_value"]])) for r in rows])
        if key == "iq_fill_linear":
            return (["time", "mv"],
                    [(r[ix["time"]], None if r[ix["mv"]] is None else
                      math.floor(r[ix["mv"]] * 1e4 + 0.5) / 1e4)
                     for r in rows])
        keep = [c for c in cols if not (key == "iq_subquery" and c == "time")]
        return keep, [tuple(r[ix[c]] for c in keep) for r in rows]

    def _check_oracles(self) -> list[str]:
        import duckdb
        import oracles
        from tools.check_correctness import df_hash
        sqls = oracles.build_oracles()
        con = duckdb.connect()
        path = os.path.join(self.events_dir, "events.parquet", "*.parquet")
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        fmt = {"JAN1": data.JAN1_NS, "JAN1_7": data.JAN1_NS + 7 * data.DAY_NS,
               "FEB1": data.FEB1_NS}
        errors = []
        for key, q in self.ORACLE_CHECKS:
            status, body, _ = self.client.query(q.format(**fmt), DB_QUERY)
            if not harness.ok_status(status):
                errors.append(f"{key}: HTTP {status}")
                continue
            cols, rows = self._shape(key, *series_table(body))
            rel = con.sql(sqls[key])
            dcols, drows = rel.columns, rel.fetchall()
            if sorted(cols) != sorted(dcols) or len(rows) != len(drows) \
                    or df_hash(cols, rows) != df_hash(dcols, drows):
                errors.append(f"{key}: response differs from the oracle")
        con.close()
        return errors

    # traced calls into each layer ----------------------------------------
    def traced_round(self, tracer) -> list[dict]:
        """One rotation, each statement split into its layers."""
        from influxdb_ha_spark.influxql.ast import SelectStatement
        from influxdb_ha_spark.influxql.parser import parse_query
        from influxdb_ha_spark.planner import Planner
        from influxdb_ha_spark.result import to_influx_series
        eng = self.engine
        out = []
        for kind, q in self.rotation:
            t0 = time.perf_counter()
            stmt = parse_query(q)
            parse_s = time.perf_counter() - t0
            if isinstance(stmt, SelectStatement):
                planner = Planner(eng.catalog, DB_QUERY, now_ns=eng.now_ns)
                build_g, df, build_s = tracer.call(
                    "build", lambda: planner.plan(stmt))
            else:
                build_g, df, build_s = tracer.call(
                    "build", lambda: eng.query_df(q, DB_QUERY))
            tags = []
            try:
                m = eng.catalog.get(DB_QUERY, "events")
                tags = [t for t in m.tags if t in df.columns]
            except KeyError:
                pass
            result_g, _, result_s = tracer.call(
                "result", lambda: to_influx_series(df, "events", tags, "ns"))
            t0 = time.perf_counter()
            eng.query(q, DB_QUERY, epoch="ns")
            engine_s = time.perf_counter() - t0
            status, _, http_s = self.client.query(q, DB_QUERY)
            out.append({"kind": kind, "ok": harness.ok_status(status),
                        "parse_s": parse_s, "build_s": build_s,
                        "build_group": build_g, "result_s": result_s,
                        "result_group": result_g,
                        "http_overhead_s": http_s - engine_s})
        return out


# -- ingest --------------------------------------------------------------------

class IngestWorkload(Workload):
    name = "ingest"
    # One op is one /write plus its read-after-write, so every op is of the
    # same kind and its latency rises smoothly with the depth since the
    # last reset (about 1.7 s at depth 1 to 3.3 s at depth 10 on 4 shared
    # CPUs). A run measures whole cycles, at least one: a cycle takes
    # ~27 s, and a second would push 22 runs of each workload past the
    # benchmark's time budget. One cycle cannot hold ten samples beyond
    # any percentile, so the tail is p90, in one cycle the second-slowest
    # op, which is one of the deepest (depth 8-10).
    tail_pct = 90.0
    # The first write of a fresh engine takes ~5 s (Python workers start,
    # plans compile); the warm-up writes and reads the first
    # `warmup_depth` batches of a cycle. Each run prints how much faster
    # the measured ops of those depths were than their warm-up ops.
    warmup_depth = 3

    def min_ops(self) -> int:
        return data.INGEST_DEPTH

    def warmup(self) -> list[Op]:
        self.reset()
        return [self._op(d, body) for d, body in
                enumerate(self.bodies[:self.warmup_depth], start=1)]

    def __init__(self, seed: int, work_dir: str):
        super().__init__()
        self.resets_failed = 0
        self.batches = data.ingest_batches(seed)
        self.bodies = [data.line_protocol(b, INGEST_MEASUREMENT).encode()
                       for b in self.batches]
        t0 = data.INGEST_T0_NS
        self.read_q = (
            "SELECT count(usage), sum(usage), max(load) FROM "
            f"{INGEST_MEASUREMENT} WHERE time >= {t0} AND "
            f"time < {t0 + 3600 * 10**9} GROUP BY time(10m), region "
            "fill(none)")

    def make_engine(self, spark):
        from influxdb_ha_spark.model import Catalog
        from influxdb_ha_spark.server import Engine
        return Engine(Catalog(spark), database=DB_INGEST, now_ns=data.NOW_NS)

    def setup(self, spark) -> None:
        super().setup(spark)
        status, _, _ = self.client.query(f"CREATE DATABASE {DB_INGEST}", "")
        if not harness.ok_status(status):
            raise RuntimeError(f"CREATE DATABASE failed: HTTP {status}")

    def reset(self) -> None:
        for q in (f"DROP DATABASE {DB_INGEST}", f"CREATE DATABASE {DB_INGEST}"):
            status, _, _ = self.client.query(q, "")
            if not harness.ok_status(status):
                self.resets_failed += 1

    def run_round(self) -> list[Op]:
        self.reset()
        return [self._op(d, body)
                for d, body in enumerate(self.bodies, start=1)]

    def _op(self, depth: int, body: bytes) -> Op:
        wstatus, _, wdt = self.client.write(DB_INGEST, body)
        rstatus, rbody, rdt = self.client.query(self.read_q, DB_INGEST)
        wok = harness.ok_status(wstatus)
        return Op(f"d{depth}", wok and harness.ok_status(rstatus),
                  wdt + rdt, data.INGEST_BATCH if wok else 0, rbody)

    def finish(self, ops: list[Op]) -> None:
        for op in ops:
            op.ok = op.ok and response_ok(op.body)

    def check(self, ops: list[Op]) -> list[str]:
        """Every read must equal what InfluxDB upsert semantics give for
        the batches written so far in its cycle."""
        want = {}
        for d in range(1, len(self.batches) + 1):
            want[d] = data.expected_read(data.upserted(self.batches[:d]))
        errors = []
        for op in ops:
            if not op.ok:
                continue
            d = int(op.kind[1:])
            cols, rows = series_table(op.body)
            ix = {c: i for i, c in enumerate(cols)}
            got = {(r[ix["region"]], r[ix["time"]]):
                   (r[ix["count"]], r[ix["sum"]], r[ix["max"]]) for r in rows}
            exp = want[d]
            if got.keys() != exp.keys() or any(
                    got[k][0] != exp[k][0] or got[k][2] != exp[k][2]
                    or abs(got[k][1] - exp[k][1]) > 1e-6 * max(1, exp[k][1])
                    for k in exp):
                errors.append(f"depth {d}: read differs from the points "
                              "written")
        if self.resets_failed:
            errors.append(f"{self.resets_failed} DROP/CREATE DATABASE failed")
        return errors

    def traced_round(self, tracer) -> list[dict]:
        """One cycle: each write and each read split into its layers, then
        the HTTP overhead of the deepest read."""
        from influxdb_ha_spark.influxql.parser import parse_query
        from influxdb_ha_spark.lineprotocol import parse_line
        from influxdb_ha_spark.planner import Planner
        from influxdb_ha_spark.result import to_influx_series
        from influxdb_ha_spark.server import write_lines
        eng = self.engine
        jsc = eng.catalog.spark.sparkContext._jsc
        eng.query(f"DROP DATABASE {DB_INGEST}", "")
        eng.query(f"CREATE DATABASE {DB_INGEST}", "")
        out = []
        for depth, body in enumerate(self.bodies, start=1):
            text = body.decode()
            t0 = time.perf_counter()
            for line in text.splitlines():
                parse_line(line)
            lp_s = time.perf_counter() - t0
            persisted = jsc.getPersistentRDDs().size()
            write_g, n, write_s = tracer.call(
                "write", lambda: write_lines(eng, DB_INGEST, text))
            new_persisted = jsc.getPersistentRDDs().size() - persisted
            t0 = time.perf_counter()
            stmt = parse_query(self.read_q)
            parse_s = time.perf_counter() - t0
            planner = Planner(eng.catalog, DB_INGEST, now_ns=eng.now_ns)
            build_g, df, build_s = tracer.call(
                "build", lambda: planner.plan(stmt))
            unions = df._jdf.queryExecution().analyzed().toString().count(
                "Union")
            m = eng.catalog.get(DB_INGEST, INGEST_MEASUREMENT)
            tags = [t for t in m.tags if t in df.columns]
            result_g, _, result_s = tracer.call(
                "result", lambda: to_influx_series(
                    df, INGEST_MEASUREMENT, tags, "ns"))
            out.append({"kind": f"d{depth}", "depth": depth,
                        "ok": n == data.INGEST_BATCH,
                        "lp_parse_s": lp_s, "write_s": write_s,
                        "write_group": write_g,
                        "persisted": new_persisted, "unions": unions,
                        "parse_s": parse_s, "build_s": build_s,
                        "build_group": build_g, "result_s": result_s,
                        "result_group": result_g})
        for _ in range(2):
            t0 = time.perf_counter()
            eng.query(self.read_q, DB_INGEST, epoch="ns")
            engine_s = time.perf_counter() - t0
            status, _, http_s = self.client.query(self.read_q, DB_INGEST)
            out.append({"kind": "http", "ok": harness.ok_status(status),
                        "http_overhead_s": http_s - engine_s})
        return out


WORKLOADS = {w.name: w for w in (QueryWorkload, IngestWorkload)}
