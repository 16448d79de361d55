"""Engine façade: the statement-routing surface of the reference's /query
endpoint (service/routing.go:96-152, SURVEY §2.11), minus HTTP.

`Engine.query(q)` dispatches exactly like `RoutingStrategyFactory.Build`:

- clusterql admin statements (regex-detected first — admin.go:16-22)
- SELECT → Planner (the RouteWithCoordination path)
- SHOW meta statements → Catalog (the RouteToFirstAvailable path)
- DDL (CREATE/DROP DATABASE, DROP MEASUREMENT, DELETE/DROP SERIES) →
  catalog mutations (the RouteToAll broadcast path)
- unsupported statements → QueryError, mirroring the 400 "Statement is not
  supported on cluster" (routing.go:113-119)

An HTTP layer (stdlib http.server) can wrap this 1:1; the engine surface is
what parity requires and what tests drive.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import ExitStack

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .admin import AdminHandler
from .functions.fill import spine_cap_error
from .influxql.ast import SelectStatement, ShowStatement
from .influxql.clusterql import is_admin_statement
from .influxql.parser import parse_query
from .model import Catalog, Measurement
from .planner import Planner, QueryError
from .result import (DriverAnswer, FinishSpec, empty_result, local_result,
                     to_influx_series)
from .streaming.cq import ContinuousQuery, CQRunner

# routing.go:113-119 rejects DropShard/ShowShards/ShowStats/ShowDiagnostics/
# KillQuery. This engine goes one further than the reference and *implements*
# query management (SHOW QUERIES routes first-available in the reference,
# routing.go:130-135; KILL QUERY maps naturally onto Spark job-group
# cancellation), so only the genuinely shard-local statements stay rejected.
_REJECTED = re.compile(
    r"^\s*(DROP\s+SHARD|SHOW\s+(SHARD|STATS|DIAGNOSTICS))",
    re.IGNORECASE)

_DDL = re.compile(
    r"^\s*(CREATE|DROP)\s+DATABASE\s+(\S+)|^\s*DROP\s+MEASUREMENT\s+(\S+)"
    r"|^\s*(DELETE|DROP)\s+SERIES\s+FROM\s+(\S+)(?:\s+WHERE\s+(.*))?",
    re.IGNORECASE)

_CQ = re.compile(
    r"^\s*CREATE\s+CONTINUOUS\s+QUERY\s+(\S+)\s+ON\s+(\S+)"
    r"(?:\s+RESAMPLE(?:\s+EVERY\s+(\S+))?(?:\s+FOR\s+(\S+))?)?"
    r"\s+BEGIN\s+(.*?)\s+END\s*$",
    re.IGNORECASE | re.DOTALL)
_DROP_CQ = re.compile(
    r"^\s*DROP\s+CONTINUOUS\s+QUERY\s+(\S+)\s+ON\s+(\S+)", re.IGNORECASE)

# RouteToAll statements (routing.go:98-111) not covered by _DDL
_RP = re.compile(
    r"^\s*(CREATE|ALTER)\s+RETENTION\s+POLICY\s+\"?([\w.]+)\"?\s+ON\s+\"?(\w+)\"?"
    r"(?:\s+DURATION\s+(\S+))?(?:\s+REPLICATION\s+(\d+))?"
    r"(?:\s+SHARD\s+DURATION\s+(\S+))?(\s+DEFAULT)?", re.IGNORECASE)
_DROP_RP = re.compile(
    r"^\s*DROP\s+RETENTION\s+POLICY\s+\"?([\w.]+)\"?\s+ON\s+\"?(\w+)\"?",
    re.IGNORECASE)
_SUB = re.compile(
    r"^\s*CREATE\s+SUBSCRIPTION\s+\"([^\"]+)\"\s+ON\s+\"?(\w+)\"?\.\"?(\w+)\"?"
    r"\s+DESTINATIONS\s+(ALL|ANY)\s+(.*)$", re.IGNORECASE)
_DROP_SUB = re.compile(
    r"^\s*DROP\s+SUBSCRIPTION\s+\"([^\"]+)\"\s+ON\s+\"?(\w+)\"?\.\"?(\w+)\"?",
    re.IGNORECASE)

# RouteAuthService statements (routing.go:140-148; service/auth.go:205-243)
_CREATE_USER = re.compile(
    r"^\s*CREATE\s+USER\s+\"?(\w+)\"?\s+WITH\s+PASSWORD\s+'([^']*)'"
    r"(\s+WITH\s+ALL\s+PRIVILEGES)?", re.IGNORECASE)
_DROP_USER = re.compile(r"^\s*DROP\s+USER\s+\"?(\w+)\"?", re.IGNORECASE)
_SET_PASSWORD = re.compile(
    r"^\s*SET\s+PASSWORD\s+FOR\s+\"?(\w+)\"?\s*=\s*'([^']*)'", re.IGNORECASE)
_GRANT = re.compile(
    r"^\s*GRANT\s+(READ|WRITE|ALL)(?:\s+PRIVILEGES)?(?:\s+ON\s+\"?(\w+)\"?)?"
    r"\s+TO\s+\"?(\w+)\"?", re.IGNORECASE)
_REVOKE = re.compile(
    r"^\s*REVOKE\s+(?:READ|WRITE|ALL)(?:\s+PRIVILEGES)?(?:\s+ON\s+\"?(\w+)\"?)?"
    r"\s+FROM\s+\"?(\w+)\"?", re.IGNORECASE)
_SHOW_USERS = re.compile(r"^\s*SHOW\s+USERS", re.IGNORECASE)
_SHOW_SUBS = re.compile(r"^\s*SHOW\s+SUBSCRIPTIONS", re.IGNORECASE)
_SHOW_GRANTS = re.compile(r"^\s*SHOW\s+GRANTS\s+FOR\s+\"?(\w+)\"?",
                          re.IGNORECASE)
_DELETE = re.compile(r"^\s*DELETE\s+FROM\s+(\S+)(?:\s+WHERE\s+(.*))?$",
                     re.IGNORECASE | re.DOTALL)


# Statement → required privileges, mirroring influxql's RequiredPrivileges
# as consumed by the reference's checkAccess (service/query_handler.go:90-114
# + service/auth.go:43-53): admin-only management/DDL, WRITE for mutations,
# READ+WRITE for SELECT INTO, READ otherwise.
_ADMIN_STMT = re.compile(
    r"^\s*((CREATE|DROP)\s+(DATABASE|USER|SUBSCRIPTION)"
    r"|(CREATE|ALTER|DROP)\s+(RETENTION\s+POLICY|CONTINUOUS\s+QUERY)"
    r"|SET\s+PASSWORD|GRANT\b|REVOKE\b|KILL\s+QUERY\b"
    r"|SHOW\s+(USERS|GRANTS|SUBSCRIPTIONS)\b)", re.IGNORECASE)
_WRITE_STMT = re.compile(
    r"^\s*(DELETE\b|DROP\s+(SERIES|MEASUREMENT)\b)", re.IGNORECASE)
_SELECT_INTO = re.compile(r"^\s*SELECT\b.*\bINTO\b",
                          re.IGNORECASE | re.DOTALL)
_EXPLAIN = re.compile(r"^\s*EXPLAIN(\s+ANALYZE)?\s+(.+)$",
                      re.IGNORECASE | re.DOTALL)
_SHOW_QUERIES = re.compile(r"^\s*SHOW\s+QUERIES\s*$", re.IGNORECASE)
_KILL_QUERY = re.compile(r"^\s*KILL\s+QUERY\s+(\d+)\s*$", re.IGNORECASE)


def statement_privileges(q: str) -> list[str]:
    """Privileges a statement needs: ['admin'] | ['WRITE'] |
    ['READ', 'WRITE'] (SELECT INTO) | ['READ']."""
    if is_admin_statement(q) or _ADMIN_STMT.match(q):
        return ["admin"]
    if _WRITE_STMT.match(q):
        return ["WRITE"]
    if _SELECT_INTO.match(q):
        return ["READ", "WRITE"]
    return ["READ"]


class Engine:
    def __init__(self, catalog: Catalog, database: str = "default",
                 now_ns: int | None = None, **planner_kw):
        self.catalog = catalog
        self.database = database
        self.now_ns = now_ns
        self.planner_kw = planner_kw
        self.admin = AdminHandler(catalog)
        self.cq = CQRunner(catalog, now_ns=now_ns)
        self.subscriptions: list[dict] = []
        # SHOW QUERIES / KILL QUERY bookkeeping: qid → Spark job group.
        self._qid = itertools.count(1)
        self._running: dict[int, dict] = {}

    # -- the /query surface --------------------------------------------------
    def query_df(self, q: str, database: str | None = None,
                 answer: bool = False
                 ) -> DataFrame | FinishSpec | DriverAnswer:
        """The DataFrame of one statement: the full plan, or with `answer`
        the plan `query` collects (Planner.plan's `answer`; for an answer
        from rows on the driver, a FinishSpec or a DriverAnswer and no
        DataFrame). With `answer`, SHOW MEASUREMENTS and SHOW TAG VALUES
        are DriverAnswers too when the driver reads them (`_show_rows`)."""
        db = database or self.database
        if _REJECTED.match(q):
            # routing.go:113-119 → 400
            raise QueryError("Statement is not supported on cluster")
        if is_admin_statement(q):
            return self.admin.handle(q)
        m = _CQ.match(q)
        if m:
            # RESAMPLE EVERY <d> = trigger interval; FOR <d> = recompute
            # coverage window (influxql 1.x CQ resampling)
            self.cq.create(ContinuousQuery(name=m.group(1), database=db,
                                           query=m.group(5),
                                           every=m.group(3),
                                           for_=m.group(4)))
            return local_result(self.catalog.spark, [], [("ok", "STRING")])
        m = _DROP_CQ.match(q)
        if m:
            self.cq.drop(m.group(1))
            return local_result(self.catalog.spark, [], [("ok", "STRING")])
        if re.match(r"^\s*SHOW\s+CONTINUOUS\s+QUERIES", q, re.IGNORECASE):
            return self.cq.show()
        m = _DDL.match(q)
        if m:
            return self._ddl(m, db)
        out = self._route_meta(q, db)
        if out is not None:
            return out

        if _SHOW_QUERIES.match(q):
            # query management (InfluxQL 1.x SHOW QUERIES): one row per
            # in-flight /query execution plus one per active streaming
            # query. Built entirely from driver-local state as a VALUES
            # LocalRelation (result.local_result), so collect() launches
            # no Spark job — SHOW QUERIES stays live even when every task
            # slot is busy (which is exactly when an operator reaches for
            # it).
            # a snapshot: other requests add and remove entries meanwhile
            now, running = time.time(), self._running.copy()
            rows = [(str(qid), r["query"], r["database"],
                     round(now - r["started"], 3), "interactive")
                    for qid, r in sorted(running.items())]
            rows += [(s.id, s.name or "", db, None, "streaming")
                     for s in self.catalog.spark.streams.active]
            return local_result(
                self.catalog.spark, rows,
                [("qid", "STRING"), ("query", "STRING"),
                 ("database", "STRING"), ("duration_s", "DOUBLE"),
                 ("kind", "STRING")])
        m = _KILL_QUERY.match(q)
        if m:
            qid = int(m.group(1))
            # one read: the query may finish between a check and an index
            running = self._running.get(qid)
            if running is None:
                raise QueryError(f"no such query id: {qid}")
            # Spark-native kill: cancel every job tagged with the query's
            # job group (interruptOnCancel was set at submission). The
            # result must be job-free too — a busy cluster is the whole
            # point of killing something.
            self.catalog.spark.sparkContext.cancelJobGroup(running["group"])
            return local_result(self.catalog.spark, [(qid, "killed")],
                                [("qid", "BIGINT"), ("status", "STRING")])

        m = _EXPLAIN.match(q)
        if m:
            return self._explain(m.group(2), db, analyze=bool(m.group(1)))

        stmt = parse_query(q)
        if isinstance(stmt, SelectStatement):
            planner = Planner(self.catalog, db, now_ns=self.now_ns,
                              **self.planner_kw)
            out = planner.plan(stmt, answer=answer)
            if stmt.into is not None:
                # batch SELECT … INTO target: materialize the result as a
                # new measurement (InfluxDB writes it back; the CQ runner
                # uses the same path on a schedule — importer.go:579-594)
                tags = [t for t in stmt.group_by_tags
                        if t != "*" and t in out.columns]
                stored = out
                if "time" not in stored.columns:
                    # ungrouped-time aggregates land at epoch 0, like
                    # InfluxDB's INTO behavior
                    stored = stored.withColumn("time", F.lit(0).cast("long"))
                fields = [c for c in stored.columns
                          if c != "time" and c not in tags]
                # one execution per INTO: persist, count the persisted
                # DataFrame (materializes the cache), and register the
                # cached plan — later reads of the target measurement hit
                # the cache instead of recomputing the source query
                stored = stored.persist()
                n = stored.count()
                self.catalog.register(Measurement(
                    name=stmt.into.name,
                    database=stmt.into.database or db,
                    tags=tags, fields=fields, df=stored))
                return local_result(
                    self.catalog.spark, [(stmt.into.name, n)],
                    [("written", "STRING"), ("n", "BIGINT")])
            return out
        if isinstance(stmt, ShowStatement):
            return self._show(stmt, db, answer)
        raise QueryError(f"unsupported statement: {q[:60]}")

    def query(self, q: str, database: str | None = None,
              epoch: str | None = None) -> dict:
        """Full /query semantics: DataFrame + InfluxDB JSON shaping.

        Execution runs under a per-query Spark job group so SHOW QUERIES
        can list it and KILL QUERY can cancel it mid-flight (the
        Spark-native form of InfluxDB 1.x query management; job-group
        scope is thread-local, matching one HTTP request per thread)."""
        qid = next(self._qid)
        group = f"influxql-q{qid}"
        sc = self.catalog.spark.sparkContext
        self._running[qid] = {"query": q, "database": database or
                              self.database, "started": time.time(),
                              "group": group}
        sc.setJobGroup(group, q[:120], interruptOnCancel=True)
        try:
            # a DataFrame, or a FinishSpec or DriverAnswer built on the
            # driver
            answer = self.query_df(q, database, answer=True)
            columns = answer.columns
            if not columns:
                return empty_result()
            measurement = self._measurement_of(q) or ""
            tag_cols = []
            try:
                m = self.catalog.get(database or self.database, measurement)
                tag_cols = [t for t in m.tags if t in columns]
            except KeyError:
                pass
            return to_influx_series(answer, measurement, tag_cols, epoch)
        except Exception as e:
            # an open-bounded fill's in-plan spine cap fails the Spark job;
            # answer it with the bounded path's QueryError
            cap = None if isinstance(e, QueryError) else spine_cap_error(e)
            if cap is None:
                raise
            raise cap from None
        finally:
            self._running.pop(qid, None)
            sc._jsc.clearJobGroup()

    def _explain(self, select_q: str, db: str,
                 analyze: bool = False) -> DataFrame:
        """`EXPLAIN [ANALYZE] SELECT …` (InfluxQL 1.x statement; the plan
        shown is Catalyst's — the honest answer for this engine). EXPLAIN
        returns the parsed/optimized/physical plan tree; ANALYZE executes
        the query first so the AQE-final physical plan is reported."""
        try:
            stmt = parse_query(select_q)
        except SyntaxError as exc:
            raise QueryError(f"EXPLAIN: {exc}") from exc
        if not isinstance(stmt, SelectStatement):
            raise QueryError("EXPLAIN expects a SELECT statement")
        planner = Planner(self.catalog, db, now_ns=self.now_ns,
                          **self.planner_kw)
        df = planner.plan(stmt)
        qe = df._jdf.queryExecution()
        if analyze:
            df.count()
            text = ("== Physical Plan (executed, AQE final) ==\n"
                    + qe.executedPlan().toString())
        else:
            text = qe.toString()
        lines = [(ln,) for ln in text.splitlines() if ln.strip()]
        return local_result(self.catalog.spark, lines,
                            [("QUERY PLAN", "STRING")])

    def _route_meta(self, q: str, db: str) -> DataFrame | None:
        """Retention-policy / subscription / user statements — the rest of
        the RouteToAll + RouteAuthService surface (routing.go:98-111,
        140-148). Returns None if `q` is none of these."""
        spark = self.catalog.spark
        ok = lambda: local_result(spark, [], [("ok", "STRING")])  # noqa: E731
        m = _RP.match(q)
        if m:
            rps = self.catalog.retention_policies.setdefault(m.group(3), [])
            rps[:] = [r for r in rps if r.get("name") != m.group(2)]
            rps.append({"name": m.group(2), "duration": m.group(4) or "0s",
                        "replicas": int(m.group(5) or 1),
                        "shard_duration": m.group(6),
                        "default": bool(m.group(7))})
            return ok()
        m = _DROP_RP.match(q)
        if m:
            rps = self.catalog.retention_policies.get(m.group(2), [])
            rps[:] = [r for r in rps if r.get("name") != m.group(1)]
            return ok()
        m = _SUB.match(q)
        if m:
            self.subscriptions.append(
                {"name": m.group(1), "database": m.group(2), "rp": m.group(3),
                 "mode": m.group(4).upper(), "destinations": m.group(5)})
            return ok()
        m = _DROP_SUB.match(q)
        if m:
            self.subscriptions[:] = [
                s for s in self.subscriptions
                if not (s["name"] == m.group(1) and s["database"] == m.group(2)
                        and s["rp"] == m.group(3))]
            return ok()
        if _SHOW_SUBS.match(q):
            rows = [(s["database"], s["rp"], s["name"], s["mode"],
                     s["destinations"]) for s in self.subscriptions]
            return local_result(
                spark, rows,
                [("database", "STRING"), ("retention_policy", "STRING"),
                 ("name", "STRING"), ("mode", "STRING"),
                 ("destinations", "STRING")])
        m = _CREATE_USER.match(q)
        if m:
            self.admin.create_user(m.group(1), m.group(2), bool(m.group(3)))
            return ok()
        m = _DROP_USER.match(q)
        if m:
            self.admin.drop_user(m.group(1))
            return ok()
        m = _SET_PASSWORD.match(q)
        if m:
            self.admin.set_password(m.group(1), m.group(2))
            return ok()
        m = _GRANT.match(q)
        if m:
            self.admin.grant(m.group(3), m.group(2) or "", m.group(1).upper())
            return ok()
        m = _REVOKE.match(q)
        if m:
            self.admin.revoke(m.group(2), m.group(1) or "")
            return ok()
        if _SHOW_USERS.match(q):
            return self.admin.show_users()
        m = _SHOW_GRANTS.match(q)
        if m:
            u = self.admin.users.get(m.group(1), {})
            rows = sorted((d, p) for d, p in u.get("grants", {}).items())
            return local_result(spark, rows,
                                [("database", "STRING"),
                                 ("privilege", "STRING")])
        m = _DELETE.match(q)
        if m:
            self._delete_points(m.group(1), m.group(2), db)
            return ok()
        return None

    # -- SHOW routing (routing.go:121-135) ------------------------------------
    def _show(self, stmt: ShowStatement, db: str,
              answer: bool) -> DataFrame | DriverAnswer:
        if answer and not stmt.cardinality:
            got = self._show_rows(stmt, db)
            if got is not None:
                columns, rows = got
                lo = stmt.offset or 0
                rows = rows[lo:None if stmt.limit is None else lo + stmt.limit]
                return DriverAnswer(columns, rows.copy)
        if stmt.cardinality:
            # SHOW <x> [EXACT] CARDINALITY (influxql 1.x cardinality
            # statements): EXACT counts the meta scan; the bare form is
            # HLL-ESTIMATED like InfluxDB's — the meta scan's row
            # identity (concat of its columns) feeds the m=256 sketch
            # (operators/sketch.hll_distinct), whose register maxima are
            # map-side combinable, so the estimate never pays the exact
            # path's global distinct at scale. The estimate rounds to
            # the exact value for small catalogs (linear counting).
            # InfluxDB 1.x supports ESTIMATED cardinality only
            # database-wide: a SCOPED bare form (FROM <m>, WITH KEY,
            # regex) silently falls back to exact counts there, so it
            # does here too (the r9 ADVICE semantic-fidelity gap).
            scoped = bool(stmt.measurement or stmt.measurement_regex
                          or stmt.with_key or stmt.with_keys
                          or stmt.with_key_regex)
            inner = self._show_inner(stmt, db, answer)
            if stmt.exact or scoped:
                return inner.agg(F.count(F.lit(1)).alias("count"))
            from .operators.sketch import hll_distinct
            keyed = inner.select(F.concat_ws(
                "\x1f", *[F.col(c).cast("string")
                          for c in inner.columns]).alias("__k"))
            est = hll_distinct(keyed, "__k", by=None)
            return est.select(
                F.floor(F.coalesce(F.col("est_distinct"), F.lit(0.0))
                        + F.lit(0.5)).cast("long").alias("count"))
        out = self._show_inner(stmt, db, answer)
        # SHOW ... LIMIT/OFFSET — paginated meta scans (the reference pages
        # SHOW SERIES 1000 at a time, syncing/series.go:67-89)
        if stmt.offset:
            out = out.offset(stmt.offset)
        if stmt.limit is not None:
            out = out.limit(stmt.limit)
        return out

    def _show_rows(self, stmt: ShowStatement, db: str
                   ) -> tuple[list[str], list[tuple]] | None:
        """(columns, rows) of a SHOW the driver answers with no Spark round
        trip, or None: SHOW MEASUREMENTS without a regex, from the catalog,
        and SHOW TAG VALUES whose every key's values the driver reads from
        rows (`Catalog.tag_values`). `_show_inner` answers the same rows
        as a DataFrame."""
        what = stmt.what.upper()
        database = stmt.database or db
        if what == "MEASUREMENTS" and not stmt.measurement_regex:
            return ["name"], [
                (n,) for n in sorted(self.catalog.databases.get(database, {}))
                if not stmt.measurement or n == stmt.measurement]
        if what == "TAG VALUES" and stmt.measurement and (
                stmt.with_key or stmt.with_keys or stmt.with_key_regex):
            rows = []
            for k in self._tag_keys(stmt, database):
                values = self.catalog.tag_values(database, stmt.measurement,
                                                 k, answer=True)
                if values is None:
                    return None
                rows += [(k, v) for v in values]
            return ["key", "value"], rows
        return None

    def _tag_keys(self, stmt: ShowStatement, database: str) -> list[str]:
        """The tag keys of SHOW TAG VALUES … WITH KEY."""
        m = self.catalog.get(database, stmt.measurement)
        if stmt.with_key:
            return [stmt.with_key]
        if stmt.with_keys:
            return [k for k in stmt.with_keys if k in m.tags]
        rx = re.compile(stmt.with_key_regex)
        return [t for t in m.tags if rx.search(t)]

    def _show_inner(self, stmt: ShowStatement, db: str,
                    answer: bool) -> DataFrame:
        what = stmt.what.upper()
        database = stmt.database or db
        if what == "DATABASES":
            return self.catalog.show_databases()
        if what == "MEASUREMENTS":
            out = self.catalog.show_measurements(database)
            if stmt.measurement_regex:
                out = out.where(F.col("name").rlike(stmt.measurement_regex))
            elif stmt.measurement:
                out = out.where(F.col("name") == stmt.measurement)
            return out
        if what == "SERIES":
            return self.catalog.show_series(database, stmt.measurement)
        if what == "TAG KEYS":
            return self.catalog.show_tag_keys(database, stmt.measurement)
        if what == "FIELD KEYS":
            return self.catalog.show_field_keys(database, stmt.measurement)
        if what == "TAG VALUES":
            if not stmt.measurement or not (stmt.with_key or stmt.with_keys
                                            or stmt.with_key_regex):
                raise QueryError("SHOW TAG VALUES requires FROM and WITH KEY")
            dfs = [self.catalog.show_tag_values(database, stmt.measurement, k,
                                                answer)
                   for k in self._tag_keys(stmt, database)]
            if not dfs:
                return local_result(self.catalog.spark, [],
                                    [("key", "STRING"), ("value", "STRING")])
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out
        if what == "RETENTION POLICIES":
            rows = self.catalog.retention_policies.get(database, [])
            if not rows:
                # every InfluxDB database carries the implicit default
                # autogen policy (infinite retention)
                rows = [{"name": "autogen", "duration": "0s",
                         "default": True}]
            return local_result(
                self.catalog.spark,
                [(r.get("name"), r.get("duration"), r.get("default", False))
                 for r in rows],
                [("name", "STRING"), ("duration", "STRING"),
                 ("default", "BOOLEAN")])
        raise QueryError(f"unsupported SHOW statement: {what}")

    # -- DDL broadcast path (routing.go:98-111) --------------------------------
    def _ddl(self, m: re.Match, db: str) -> DataFrame:
        spark = self.catalog.spark
        if m.group(1):  # CREATE/DROP DATABASE
            name = m.group(2)
            if m.group(1).upper() == "CREATE":
                self.catalog.databases.setdefault(name, {})
            else:
                self.catalog.databases.pop(name, None)
        elif m.group(3):  # DROP MEASUREMENT
            self.catalog.databases.get(db, {}).pop(m.group(3), None)
        elif m.group(5):  # DELETE/DROP SERIES FROM m|/re/ [WHERE tag='v' …]
            self._delete_points(m.group(5), m.group(6), db)
        return local_result(spark, [], [("ok", "STRING")])

    def _delete_points(self, name: str, cond: str | None, db: str) -> None:
        """DELETE FROM and DELETE/DROP SERIES FROM m|/re/ [WHERE …]: drop
        the points matching WHERE (tag and time conditions; all points
        without one). A /regex/ source applies to every matching
        measurement, as InfluxQL 1.x regex sources do.

        Each target is changed under its `Catalog.write_lock`, so a
        concurrent /write cannot merge into the generation before the
        delete and register over it. A measurement held by the driver
        filters its rows in pyarrow with the WHERE mask /query uses
        (`Planner._held_where`), so a DELETE runs no Spark job. A WHERE
        outside that mask's subset (a regex, field math) is planned in
        Spark, and the measurement is no longer held: later writes upsert
        it lazily, like a file-backed one."""
        if name.startswith("/") and name.endswith("/") and len(name) > 1:
            rx = re.compile(name[1:-1])
            names = [n for n in sorted(self.catalog.databases.get(db, {}))
                     if rx.search(n)]
        else:
            names = [self.catalog.get(db, name.strip('"')).name]
        planner = expr = None
        if cond:
            from .influxql.parser import Parser
            from .planner import PlanContext, _held_ordered
            expr = Parser(cond).parse_expr()
            planner = Planner(self.catalog, db, now_ns=self.now_ns)
        for n in names:
            with self.catalog.write_lock(db, n):
                meas = self.catalog.databases.get(db, {}).get(n)
                if meas is None:  # dropped meanwhile
                    continue
                if expr is None:
                    if meas.rows is None:
                        meas.df = meas.df.limit(0)
                    else:
                        meas.hold(meas.rows.slice(0, 0))
                    continue
                ctx = PlanContext(meas, planner.now_ns)
                # a point WHERE does not match (a null tag compared) stays
                ordered = set()
                hit = (planner._held_where(expr, ctx, meas.rows.schema,
                                           ordered)
                       if meas.rows is not None else None)
                if hit is not None and all(_held_ordered(meas.rows, c)
                                           for c in ordered):
                    drop = pc.fill_null(hit(meas.rows), False)
                    meas.hold(meas.rows.filter(pc.invert(drop)))
                    continue
                hit = planner._where_expr(expr, ctx)
                meas.df = meas.df.where(~F.coalesce(hit, F.lit(False)))
                meas.rows = None

    @staticmethod
    def _measurement_of(q: str) -> str | None:
        m = re.search(r"\bFROM\s+([\w\".]+)", q, re.IGNORECASE)
        return m.group(1).split(".")[-1].strip('"') if m else None


# -- in-memory write path (the /write surface without storage paths) --------

_PRECISION_NS = {"ns": 1, "n": 1, "nanoseconds": 1, "u": 1_000, "us": 1_000,
                 "µ": 1_000, "microseconds": 1_000, "ms": 1_000_000,
                 "milliseconds": 1_000_000, "s": 1_000_000_000,
                 "seconds": 1_000_000_000, "m": 60_000_000_000,
                 "h": 3_600_000_000_000}


class WriteError(Exception):
    pass


def write_lines(engine: Engine, database: str, body: str,
                precision: str = "ns",
                default_time_ns: int | None = None) -> int:
    """Batch /write semantics against the in-memory catalog: parse line
    protocol, pivot per measurement, validate partition keys, merge into
    (or register) each measurement. Returns the accepted point count, one
    per (time, tagset) of each measurement.

    The body is already a string in the driver, so it is parsed there
    (`lineprotocol.parse_line`, pivoted by `pivot_records`); discovering
    measurements, tag keys and field types and checking them fires no Spark
    job. Every check runs for every measurement before any is registered,
    so a malformed line, an unfulfilled partition key or a field-type
    conflict raises WriteError and writes nothing, mirroring the
    reference's 400s (write_handler.go:74-78, 103-112).

    Concurrent writes: from reading a measurement's old generation to
    registering the merged one, the write holds that measurement's
    `Catalog.write_lock` (all of them for a body naming several, taken in
    name order), so two writers to one measurement cannot both merge
    into the same old generation and drop each other's points.

    Generations: a measurement born from /write is held by the driver:
    `Measurement.rows` is a `pyarrow.Table`. A write into it merges in
    Arrow on the driver (`ingest.upsert_rows`, the `upsert_points` rule)
    and builds no DataFrame (the LocalRelation over the rows is built
    only when a Spark plan first reads them), so it fires no Spark job
    and ships no rows to the JVM. A /query the driver finishes reads the
    rows in pyarrow too (`Planner._held_finish`); any other read scans a
    flat relation whose plan does not grow with the number of writes,
    and no generation depends on executor storage. Any other
    measurement (file-backed, ingested by Spark, a SELECT … INTO target)
    is upserted lazily with `upsert_points`, so a write does not shuffle
    or copy the whole table and its scans keep pruning and pushdown. A
    superseded generation is never released explicitly: a reader still
    holding it keeps working, and it is freed once nothing references
    it."""
    from .lineprotocol import parse_line

    factor = _PRECISION_NS.get(precision or "ns")
    if factor is None:
        raise WriteError(f"invalid precision {precision!r}")
    by_name: dict[str, list[dict]] = {}
    for line in body.splitlines():
        for rec in parse_line(line, default_time_ns):
            if rec["error"] is not None:
                raise WriteError(f"unable to parse points: {rec['error']}")
            if rec["time"] is not None:
                rec["time"] *= factor
            by_name.setdefault(rec["measurement"], []).append(rec)
    with ExitStack() as held:
        for name in sorted(by_name):
            held.enter_context(engine.catalog.write_lock(database, name))
        return _merge_and_register(engine, database, by_name)


def _merge_and_register(engine: Engine, database: str,
                        by_name: dict[str, list[dict]]) -> int:
    """write_lines' checks, merges and registration, under its locks."""
    from .ingest import (FieldTypeConflict, check_field_types, upsert_points,
                         upsert_rows)
    from .lineprotocol import pivot_records

    spark = engine.catalog.spark
    staged, total = [], 0
    for name in sorted(by_name):
        recs = by_name[name]
        tag_keys = sorted({k for r in recs for k in r["tags"]})
        pk = engine.catalog.partition_key_for(database, name)
        if pk is not None and any(t not in r["tags"]
                                  for r in recs for t in pk.tags):
            raise WriteError(
                f"missing partition key tags {pk.tags} for {name}")
        table = pivot_records(recs, tag_keys)
        old = engine.catalog.databases.get(database, {}).get(name)
        tags = tag_keys
        if old is not None:
            tags = sorted(set(old.tags) | set(tag_keys))
            try:
                check_field_types(old.column_types(), table.schema, tags)
            except FieldTypeConflict as e:
                raise WriteError(str(e))  # first-write-wins typing
        staged.append((name, tags, old, table))
        total += table.num_rows
    # merge every measurement before registering any: a failure leaves the
    # catalog untouched
    generations = []
    for name, tags, old, table in staged:
        # InfluxDB upsert: same (time, tagset) → newest fields win
        if old is None:
            m = Measurement.held(spark, name, database, tags, table)
        elif old.rows is not None:
            m = Measurement.held(spark, name, database, tags,
                                 upsert_rows(old.rows, table, tags))
        else:
            df = upsert_points(old.df, spark.createDataFrame(table), tags)
            m = Measurement(name=name, database=database, tags=tags,
                            fields=[c for c in df.columns
                                    if c != "time" and c not in tags],
                            df=df)
        generations.append(m)
    for m in generations:
        engine.catalog.register(m)
    return total
