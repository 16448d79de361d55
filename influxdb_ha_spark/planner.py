"""InfluxQL AST → DataFrame planner.

This module is the Spark-side analog of the reference's read path
(service/coordinator.go:172-249 + service/merge/*): where the reference
extracts tag equalities for hash routing, rewrites the SELECT into partial
aggregates, scatters HTTP queries, and merges per time bucket, this planner
just declares the equivalent logical plan — `filter → withColumn(bucket) →
groupBy(bucket, tags).agg(...) → fill → orderBy → limit` — and lets Catalyst
do pruning, partial/final aggregation, and shuffle placement.

Collapsed reference strategies (coordinator.go:238-259, 204-237):
- single-partition fast path     → same plan, pruned to one partition
- scatter + k-way merge-sort     → scan + orderBy(time)
- scatter + merge tree           → groupBy().agg() (partial+final is automatic)

100 TB notes: every aggregate here is a native Catalyst aggregate (map-side
partial combine); predicate pushdown carries the WHERE to the parquet/Delta
scan; the only Python in the hot path is plan *construction*.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, replace
from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .functions.aggregates import (AGGREGATES, ARROW_AGGREGATES, agg_column,
                                   held_aggregate)
from .functions.fill import checked_spine_size, fill_buckets, fill_values
from .functions.math import MATH_FUNCS, apply_math, binary_op
from .functions import transforms as T
from .influxql.ast import (BinaryExpr, Call, DurationLit, IntegerLit,
                           NumberLit, RegexLit, SelectField, SelectStatement,
                           SourceList, StringLit, SubQuery, VarRef, Wildcard)
from .model import Catalog, Measurement, TIME_COL
from .operators.util import one_split
from .result import FinishSpec, attach_finish, local_result
from .timeutil import parse_time_literal_ns, time_bucket, time_bucket_tz

TRANSFORMS = {"derivative", "non_negative_derivative", "difference",
              "non_negative_difference", "cumulative_sum", "elapsed",
              "moving_average", "exponential_moving_average",
              "double_exponential_moving_average",
              "triple_exponential_moving_average",
              "chande_momentum_oscillator", "relative_strength_index",
              "kaufmans_efficiency_ratio",
              "kaufmans_adaptive_moving_average", "integral",
              "holt_winters", "holt_winters_with_fit"}
ROW_SELECTORS = {"top", "bottom", "distinct", "sample"}
# applyInPandas-based transforms re-emit their own schema, so they can't
# carry rider columns from other select fields
_SEQUENTIAL_TRANSFORMS = {"holt_winters", "holt_winters_with_fit",
                          "exponential_moving_average",
                          "double_exponential_moving_average",
                          "triple_exponential_moving_average",
                          "relative_strength_index",
                          "kaufmans_adaptive_moving_average"}


_INTEGRAL_TYPES = {"long", "integer", "short", "byte"}
_NUMERIC_TYPES = _INTEGRAL_TYPES | {"double"}
_SCALAR_TYPES = _NUMERIC_TYPES | {"string", "boolean"}
_INT64 = (-2**63, 2**63 - 1)

_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
# WHERE comparisons → pyarrow.compute kernels (held rows)
_ARROW_CMP = {"=": "equal", "!=": "not_equal", "<": "less",
              "<=": "less_equal", ">": "greater", ">=": "greater_equal"}


# Re-exported from errors.py so existing `from .planner import QueryError`
# call sites keep working; defined there so leaf modules (timeutil) can
# raise them without a circular import.
from .errors import PartitionKeyError, QueryError  # noqa: F401,E402


@dataclass
class PlanContext:
    measurement: Measurement
    now_ns: int
    start_ns: int | None = None
    end_ns: int | None = None
    # the driver collects the answer (not SELECT … INTO, not a subquery)
    to_driver: bool = True
    # plan only what /query collects (Planner.plan's `answer`)
    answer: bool = False
    # the frame a fill spine is built from: its distinct groups are the
    # answer's series, listed for SLIMIT without exploding the spine
    spine_groups: DataFrame | None = None
    # set when the driver finishes the answer from its aggregated frame
    finish: FinishSpec | None = None


def _held_type(schema, name: str) -> str | None:
    """The Spark type name of column `name` of driver rows with Arrow
    `schema` ("string", "long", "double", "boolean"), or None for a
    missing column or one whose name another column's equals up to case
    (Spark resolves names case-insensitively)."""
    import pyarrow as pa

    low = name.lower()
    if name not in schema.names or sum(
            c.lower() == low for c in schema.names) != 1:
        return None
    typ = schema.field(name).type
    return {pa.string(): "string", pa.int64(): "long",
            pa.float64(): "double", pa.bool_(): "boolean"}.get(typ, str(typ))


def _held_ordered(rows, name: str) -> bool:
    """Whether pyarrow orders column `name` of driver rows as Spark does: a
    BIGINT, or a DOUBLE without NaN (Spark orders NaN above every number
    and equal to itself)."""
    import pyarrow.compute as pc

    typ = _held_type(rows.schema, name)
    return typ == "long" or (
        typ == "double"
        and not pc.any(pc.is_nan(rows.column(name))).as_py())


class Planner:
    def __init__(self, catalog: Catalog, database: str = "default",
                 now_ns: int | None = None, compat: bool = False,
                 strict_partition_key: bool = False):
        self.catalog = catalog
        self.database = database
        self.now_ns = now_ns if now_ns is not None else _time.time_ns()
        self.compat = compat  # InfluxDB quirk emulation (div0→0, int %)
        self.strict_partition_key = strict_partition_key

    # ------------------------------------------------------------------
    def plan(self, stmt: SelectStatement, nested: bool = False,
             answer: bool = False) -> DataFrame:
        """DataFrame of a SELECT; `nested` for a subquery's inner plan.

        `answer` asks for the plan /query runs: a statement the driver
        finishes (result.FinishSpec) is planned only up to the aggregated
        frame it collects, which carries the spec. When pyarrow can
        aggregate it from rows on the driver (`_held_finish`), the answer
        is the spec itself and no DataFrame is built: over a measurement
        the driver holds, or, with `answer` only, over the driver copy of
        a catalog measurement Spark reads as one split
        (`Measurement.answer_rows`). Without `answer`, and for every other
        statement, this is the full Spark plan (EXPLAIN, SELECT … INTO,
        subqueries and the contract keys run that one); it never takes a
        driver copy, so it does not depend on earlier answers."""
        db = stmt.source.database or self.database
        if stmt.source.regex is not None:
            return self._plan_regex_source(stmt, db, nested)
        if isinstance(stmt.source, SourceList):
            return self._plan_source_list(stmt, db, nested)
        if isinstance(stmt.source, SubQuery):
            m = self._subquery_measurement(stmt.source, db)
        else:
            m = self.catalog.get(db, stmt.source.name)
        ctx = PlanContext(measurement=m, now_ns=self.now_ns,
                          to_driver=not nested and stmt.into is None,
                          answer=answer)
        # decided before any Spark Column is built: a statement answered
        # from driver rows needs no DataFrame and, over held rows, no job
        copy = answer and not isinstance(stmt.source, SubQuery)
        held = (self._held_finish(stmt, m, ctx, db, copy)
                if ctx.to_driver and (copy or m.rows is not None) else None)
        if held is not None and answer:
            return held

        df = m.df
        if stmt.where is not None:
            df = df.where(self._where_expr(stmt.where, ctx))
        if self.strict_partition_key:
            self._check_partition_key(stmt, db, m)

        group_tags = self._expand_tags(stmt.group_by_tags, m)
        stmt = self._expand_wildcard_calls(stmt, m)
        unknown = self._unknown_refs(stmt, m)
        if unknown:
            # InfluxDB returns an empty result set (not an error) when a
            # selected field does not exist in the measurement
            names = [f.alias or self._default_name(f.expr)
                     for f in stmt.fields]
            schema = [(TIME_COL, "BIGINT")] + [(n, "DOUBLE") for n in names
                                               if n != TIME_COL]
            return local_result(df.sparkSession, [], schema)
        calls = self._find_calls(stmt)

        if not calls:
            if stmt.group_by_time_ns:
                # fixture golden: raw field + GROUP BY time() is a 400
                # (FIXTURES.md §1; InfluxDB: "GROUP BY requires at least one
                # aggregate function")
                raise QueryError("GROUP BY time() requires an aggregate function")
            out = self._plan_raw(stmt, df, m)
        elif len(calls) == 1 and calls[0].name in ROW_SELECTORS:
            out = self._plan_row_selector(stmt, df, m, group_tags, ctx)
        elif len(calls) == 1 and calls[0].name in TRANSFORMS and \
                not self._has_inner_agg(calls[0]):
            out = self._plan_transform_raw(stmt, df, m, group_tags, ctx)
        elif (len(calls) > 1
              and all(isinstance(f.expr, Call)
                      and f.expr.name in TRANSFORMS
                      and not self._has_inner_agg(f.expr)
                      for f in stmt.fields)):
            out = self._plan_transform_raw_multi(stmt, df, m, group_tags, ctx)
        else:
            out = self._plan_aggregate(stmt, df, m, group_tags, ctx)
            if answer and ctx.finish is not None:
                attach_finish(out, ctx.finish)
                return out

        out = self._apply_series_limits(stmt, out, group_tags,
                                        ctx.spine_groups)
        order = [F.col(TIME_COL).desc() if stmt.order_desc else F.col(TIME_COL).asc()] \
            if TIME_COL in out.columns else []
        if order:
            out = out.orderBy(*order, *[F.col(t) for t in group_tags
                                        if t in out.columns])
        if stmt.offset:
            out = out.offset(stmt.offset)
        if stmt.limit is not None:
            # applied post-merge, globally — fixes the reference's
            # per-node LIMIT semantics (query_merge.go:86-92, SURVEY §2.6)
            out = out.limit(stmt.limit)
        if ctx.finish is not None:
            # the full plan of an answer from held rows carries the same
            # Arrow computation as the answer
            attach_finish(out, held or ctx.finish)
        return out

    def _unknown_refs(self, stmt: SelectStatement,
                      m: Measurement) -> set[str]:
        """Field/tag names referenced in the SELECT list that the
        measurement does not have (time/tags/fields)."""
        known = set(m.tags) | set(m.fields) | {TIME_COL}
        known |= set(m.column_types())
        out: set[str] = set()

        def walk(e):
            if isinstance(e, VarRef):
                if e.name not in known and e.name.lower() != "time":
                    out.add(e.name)
            elif isinstance(e, Call):
                for a in e.args:
                    walk(a)
            elif isinstance(e, BinaryExpr):
                walk(e.lhs)
                walk(e.rhs)

        for f in stmt.fields:
            walk(f.expr)
        return out

    def _expand_wildcard_calls(self, stmt: SelectStatement,
                               m: Measurement) -> SelectStatement:
        """`agg(*)` → one call per field (`agg_field` naming); bare
        `SELECT /re/` and `agg(/re/)` → the matching fields (influxql
        regex field selection)."""
        def is_exp(e):
            return isinstance(e, RegexLit) or (
                isinstance(e, Call) and e.args
                and isinstance(e.args[0], (Wildcard, RegexLit)))
        if not any(is_exp(f.expr) for f in stmt.fields):
            return stmt
        import copy
        import re as _re
        out = copy.copy(stmt)
        out.fields = []
        for f in stmt.fields:
            e = f.expr
            if isinstance(e, RegexLit):
                rx = _re.compile(e.pattern)
                for fld in m.fields:
                    if rx.search(fld):
                        out.fields.append(SelectField(expr=VarRef(fld),
                                                      alias=fld))
                continue
            if isinstance(e, Call) and e.args and \
                    isinstance(e.args[0], RegexLit):
                rx = _re.compile(e.args[0].pattern)
                for fld in m.fields:
                    if rx.search(fld):
                        call = Call(e.name, [VarRef(fld)] + list(e.args[1:]))
                        out.fields.append(SelectField(
                            expr=call, alias=f"{e.name}_{fld}"))
                continue
            if isinstance(e, Call) and e.args and isinstance(e.args[0], Wildcard):
                numeric = {"int", "bigint", "smallint", "tinyint",
                           "float", "double", "decimal"}
                dtypes = m.column_types()
                flds = [fl for fl in m.fields
                        if dtypes.get(fl, "").split("(")[0] in numeric] \
                    if e.name != "count" else m.fields
                for fld in flds:
                    call = Call(e.name, [VarRef(fld)] + list(e.args[1:]))
                    out.fields.append(SelectField(
                        expr=call, alias=f"{e.name}_{fld}"))
            else:
                out.fields.append(f)
        return out

    def _subquery_measurement(self, src: SubQuery, db: str) -> Measurement:
        """FROM (SELECT …) — plan the inner statement and adopt its result
        as a synthetic measurement. The reference cannot do this
        (README.md:190-194 "subqueries currently do not work at all",
        though coordinator.go:376-387 recurses into SubQuery nodes in
        preparation); on Spark the inner plan simply becomes the scan."""
        inner_stmt = src.stmt
        inner_df = self.plan(inner_stmt, nested=True)
        cols = inner_df.columns
        tags: list[str] = []
        isrc = inner_stmt.source
        if getattr(isrc, "name", None) and getattr(isrc, "regex", None) is None \
                and not isinstance(isrc, SubQuery):
            try:
                im = self.catalog.get(isrc.database or db, isrc.name)
                tags = [t for t in im.tags if t in cols]
            except KeyError:
                pass
        for t in inner_stmt.group_by_tags:
            if t != "*" and t in cols and t not in tags:
                tags.append(t)
        fields = [c for c in cols if c != TIME_COL and c not in tags]
        return Measurement(name="(subquery)", database=db, tags=tags,
                           fields=fields, df=inner_df)

    def _plan_source_list(self, stmt: SelectStatement, db: str,
                          nested: bool) -> DataFrame:
        """FROM m1, m2 — per-measurement plans unioned with a `measurement`
        column (README.md:196-200: rejected by the reference on partitioned
        data; the Spark union is the natural semantics)."""
        import copy
        outs = []
        for ref in stmt.source.refs:
            sub = copy.deepcopy(stmt)
            sub.source = ref
            outs.append(self.plan(sub, nested).withColumn(
                "measurement", F.lit(ref.name)))
        result = outs[0]
        for o in outs[1:]:
            result = result.unionByName(o, allowMissingColumns=True)
        return result

    def _plan_regex_source(self, stmt: SelectStatement, db: str,
                           nested: bool) -> DataFrame:
        """FROM /re/ — run the statement against every matching measurement
        and union the results, tagged with a `measurement` column (the
        analog of InfluxDB's per-measurement series names; influxql supports
        regex sources, the reference forwards them verbatim)."""
        import copy
        import re as _re
        rx = _re.compile(stmt.source.regex)
        names = sorted(n for n in self.catalog.databases.get(db, {})
                       if rx.search(n))
        if not names:
            raise QueryError(
                f"no measurements match /{stmt.source.regex}/ in {db}")
        outs = []
        for n in names:
            sub = copy.deepcopy(stmt)
            sub.source = type(stmt.source)(name=n, database=db)
            outs.append(self.plan(sub, nested).withColumn("measurement",
                                                          F.lit(n)))
        result = outs[0]
        for o in outs[1:]:
            result = result.unionByName(o, allowMissingColumns=True)
        return result

    # -- raw projection ---------------------------------------------------
    def _plan_raw(self, stmt: SelectStatement, df: DataFrame,
                  m: Measurement) -> DataFrame:
        cols: list[Column] = [F.col(TIME_COL)]
        for f in stmt.fields:
            if isinstance(f.expr, Wildcard):
                cols += [F.col(c) for c in m.tags + m.fields]
                continue
            c = self._value_expr(f.expr, agg=None)
            cols.append(c.alias(f.alias) if f.alias else
                        c.alias(self._default_name(f.expr)))
        return df.select(*cols)

    # -- aggregate path ---------------------------------------------------
    def _plan_aggregate(self, stmt: SelectStatement, df: DataFrame,
                        m: Measurement, group_tags: list[str],
                        ctx: PlanContext) -> DataFrame:
        keys: list[str] = []
        if stmt.group_by_time_ns:
            bucket = (time_bucket_tz(F.col(TIME_COL), stmt.group_by_time_ns,
                                     stmt.tz, stmt.group_by_offset_ns)
                      if stmt.tz else
                      time_bucket(F.col(TIME_COL), stmt.group_by_time_ns,
                                  stmt.group_by_offset_ns))
            keys.append("__bucket")
        keys += group_tags

        # collect aggregate sub-calls across all select fields
        agg_exprs: dict[str, Column] = {}
        outer_transforms: list[tuple[str, Call, str]] = []
        post_fields: list[tuple[str, object]] = []  # (output name, expr)
        for i, (f, name) in enumerate(zip(stmt.fields,
                                          self._field_names(stmt))):
            expr = f.expr
            if isinstance(expr, Call) and expr.name in TRANSFORMS and \
                    self._has_inner_agg(expr):
                # e.g. derivative(mean(value), 1s) over GROUP BY time()
                if expr.name in _SEQUENTIAL_TRANSFORMS \
                        and len(stmt.fields) > 1:
                    # applyInPandas transforms re-emit their own schema,
                    # so rider columns can't survive alongside them
                    raise QueryError(
                        f"{expr.name} cannot be combined with other "
                        "select fields")
                outer_transforms.append((name, expr, f"__inner_{i}"))
                expr = expr.args[0]
                name = f"__inner_{i}"
            self._collect_aggs(expr, agg_exprs)
            post_fields.append((name, expr))

        sel: list[Column] = []
        if stmt.group_by_time_ns:
            sel.append(F.col("__bucket").alias(TIME_COL))
        sel += [F.col(t) for t in group_tags]
        value_names: list[str] = []
        for name, expr in post_fields:
            sel.append(self._post_agg_expr(expr).alias(name))
            value_names.append(name)

        def aggregate(src: DataFrame) -> DataFrame:
            if stmt.group_by_time_ns:
                src = src.withColumn("__bucket", bucket)
            grouped = (src.groupBy(*[F.col(k) for k in keys]) if keys
                       else src.groupBy())
            return grouped.agg(*[c.alias(n) for n, c in agg_exprs.items()]) \
                .select(*sel)

        # The driver may finish this answer (result.FinishSpec). Over a
        # source Spark reads as one split, the frame it collects is
        # aggregated in that one partition (the WHERE is pushed below the
        # coalesce): the partial and final aggregate share a stage, so it
        # runs as one job with no shuffle.
        finishing = (ctx.to_driver and bool(stmt.group_by_time_ns)
                     and not stmt.tz and not outer_transforms)
        one_part = finishing and one_split(m.df)
        src = df.coalesce(1) if one_part and ctx.answer else df
        out = aggregate(src)

        for tname, texpr, inner_col in outer_transforms:
            # the transform's window rides over the aggregated frame, so
            # any plain aggregate columns selected alongside survive; the
            # inner (unnamed) aggregate column is consumed. With riders,
            # undefined rows keep a null value instead of being filtered
            # (InfluxDB's column alignment).
            out = self._apply_transform(out, texpr, inner_col, tname,
                                        group_tags, stmt.group_by_time_ns,
                                        strict=len(post_fields) == 1)
            value_names = [n for n in value_names if n != inner_col]
            value_names.append(tname)
            if texpr.name.startswith("holt_winters"):
                # forecast rows lie beyond the query range — a fill spine
                # over [start, end) would drop them (influxql applies no
                # fill to holt_winters output either)
                return out

        if stmt.group_by_time_ns:
            tr = (ctx.start_ns, ctx.end_ns)   # tracked by the WHERE walk
            spec = (self._finish_spec(stmt, out, group_tags, value_names, tr)
                    if finishing else None)
            if spec is not None:
                if one_part and src is df:
                    spec = replace(spec, aggregated=aggregate(df.coalesce(1)))
                ctx.finish = spec
                if ctx.answer:
                    # the answer plan ends here; the spine it skips would
                    # refuse an explicit range over the cap while planning
                    if stmt.fill != "none" and None not in tr:
                        checked_spine_size(tr[0], tr[1], stmt.group_by_time_ns,
                                           stmt.group_by_offset_ns)
                    return spec.aggregated
            elif src is not df:
                # declined: the full plan over the source as it is
                out = aggregate(df)
            bucketed = out
            out = fill_buckets(out, TIME_COL, stmt.group_by_time_ns, stmt.fill,
                               value_names, group_tags,
                               start_ns=tr[0], end_ns=tr[1],
                               offset_ns=stmt.group_by_offset_ns,
                               tz=stmt.tz, one_partition=ctx.to_driver)
            if stmt.fill != "none":
                ctx.spine_groups = bucketed
        return out

    def _finish_spec(self, stmt: SelectStatement, bucketed: DataFrame,
                     group_tags: list[str], value_names: list[str],
                     tr: tuple[int | None, int | None]) -> FinishSpec | None:
        """The driver finisher's spec (result.FinishSpec) for a plain
        GROUP BY time() aggregate, collected, without tz() (`finishing` in
        _plan_aggregate), or None when the finisher cannot reproduce its
        column types. The filled types come from the fill's own value
        expressions (`fill_values`) over the aggregated frame, which show
        Spark's coercion (count() under fill(linear) is DOUBLE; fill(0) on
        a string aggregate is "0"); reading their schema analyses them
        and runs no job."""
        bucketed_t = {f.name: f.dataType.typeName()
                      for f in bucketed.schema.fields}
        if len(bucketed_t) != len(bucketed.columns) \
                or bucketed_t.get(TIME_COL) != "long" \
                or any(bucketed_t.get(t) != "string" for t in group_tags) \
                or any(bucketed_t.get(c) not in _SCALAR_TYPES
                       or (stmt.fill == "linear"
                           and bucketed_t.get(c) not in _NUMERIC_TYPES)
                       for c in value_names):
            return None
        planned_t = bucketed_t
        if stmt.fill not in (None, "null", "none"):
            filled = bucketed.select(*fill_values(stmt.fill, value_names,
                                                  TIME_COL, group_tags))
            planned_t = {f.name: f.dataType.typeName()
                         for f in filled.schema.fields}
        return self._spec(stmt, bucketed, group_tags, value_names, tr,
                          bucketed_t, planned_t)

    @staticmethod
    def _spec(stmt: SelectStatement, aggregated, group_tags: list[str],
              value_names: list[str], tr: tuple[int | None, int | None],
              bucketed_t: dict, planned_t: dict) -> FinishSpec | None:
        """The FinishSpec over `aggregated`, given each value column's
        aggregated and filled type (Spark type names): a cast where the
        fill makes an integer aggregate DOUBLE, and the fill literal in
        the filled type; None when the finisher cannot reproduce it."""
        literal = (isinstance(stmt.fill, (int, float))
                   and not isinstance(stmt.fill, bool))
        casts, literals = [], []
        for c in value_names:
            p, b = planned_t.get(c), bucketed_t.get(c)
            if p == b:
                casts.append(None)
            elif p == "double" and b in _INTEGRAL_TYPES:
                casts.append(float)
            else:
                return None
            if not literal:
                literals.append(None)
            elif p == "double":
                literals.append(float(stmt.fill))
            elif p in _INTEGRAL_TYPES and isinstance(stmt.fill, int):
                literals.append(stmt.fill)
            elif p == "string" and isinstance(stmt.fill, int):
                literals.append(str(stmt.fill))
            else:
                return None
        return FinishSpec(
            aggregated=aggregated, group_tags=tuple(group_tags),
            value_cols=tuple(value_names), casts=tuple(casts),
            fill_values=tuple(literals), fill=stmt.fill,
            interval_ns=stmt.group_by_time_ns,
            offset_ns=stmt.group_by_offset_ns, start_ns=tr[0], end_ns=tr[1],
            order_desc=bool(stmt.order_desc), offset=stmt.offset or 0,
            limit=stmt.limit, soffset=stmt.soffset, slimit=stmt.slimit)

    def _held_finish(self, stmt: SelectStatement, m: Measurement,
                     ctx: PlanContext, db: str,
                     copy: bool) -> FinishSpec | None:
        """The FinishSpec of a statement answered from rows on the driver
        in pyarrow (`held_aggregate`, run when the answer is collected),
        or None to plan it in Spark. The rows are the measurement's held
        rows or, with `copy`, `Measurement.answer_rows` (which may take the
        driver copy of a one-split source); column types are read from
        their Arrow schema (`Measurement.answer_schema`, no job).

        It takes a plain `GROUP BY time()` aggregate the driver collects,
        without tz(), whose select fields are each a bare count, sum, mean,
        min or max of a field (ARROW_AGGREGATES), whose WHERE `_held_where`
        takes, and whose group keys are string tags. The rows are read
        only once the statement's shape, WHERE included, is in that subset
        on the schema; then a DOUBLE that min, max or the WHERE orders
        must hold no NaN (`_held_ordered`). Every fill is
        finished as `_finish_spec` finishes it; the filled types follow
        Spark's coercion of the fill expression over a BIGINT or DOUBLE
        aggregate (fill(linear) and a float literal make it DOUBLE; an
        integer literal keeps the type)."""
        fill = stmt.fill
        literal = isinstance(fill, (int, float)) and not isinstance(fill, bool)
        if (not stmt.group_by_time_ns or stmt.group_by_time_ns <= 0
                or stmt.tz
                or not (literal or fill in (None, "null", "none", "previous",
                                            "linear"))
                or (literal and isinstance(fill, int)
                    and not _INT64[0] <= fill <= _INT64[1])):
            return None
        group_tags = self._expand_tags(stmt.group_by_tags, m)
        if any(t not in m.tags for t in group_tags):
            return None
        stmt = self._expand_wildcard_calls(stmt, m)
        if self._unknown_refs(stmt, m):
            return None
        values = []
        for f, name in zip(stmt.fields, self._field_names(stmt)):
            e = f.expr
            if not (isinstance(e, Call) and e.name in ARROW_AGGREGATES
                    and len(e.args) == 1 and isinstance(e.args[0], VarRef)):
                return None
            values.append((name, e.name, e.args[0].name))
        value_names = [n for n, _, _ in values]
        if len({TIME_COL, *group_tags, *value_names}) \
                != 1 + len(group_tags) + len(values):
            return None
        # the structure is checked on the rows' schema; the rows (over a
        # copy, one job the first time) are read only once it holds
        schema = m.answer_schema() if copy else m.rows.schema
        if (schema is None or _held_type(schema, TIME_COL) != "long"
                or any(_held_type(schema, t) != "string" for t in group_tags)):
            return None
        types, ordered = [], set()
        for _, fn, field in values:
            typ = _held_type(schema, field)
            if typ is None or (ARROW_AGGREGATES[fn]
                               and typ not in ("long", "double")):
                return None
            if fn in ("min", "max"):
                ordered.add(field)
            types.append("long" if fn == "count"
                         else "double" if fn == "mean" else typ)
        tracked = replace(ctx)
        keep = None
        if stmt.where is not None:
            keep = self._held_where(stmt.where, tracked, schema, ordered)
            if keep is None:
                return None
        rows = m.answer_rows() if copy else m.rows
        if (rows is None or rows.column(TIME_COL).null_count
                or not all(_held_ordered(rows, c) for c in ordered)):
            return None
        ctx.start_ns, ctx.end_ns = tracked.start_ns, tracked.end_ns
        if self.strict_partition_key:
            self._check_partition_key(stmt, db, m)
        tr = (ctx.start_ns, ctx.end_ns)
        if fill != "none" and None not in tr:
            checked_spine_size(tr[0], tr[1], stmt.group_by_time_ns,
                               stmt.group_by_offset_ns)
        as_double = fill == "linear" or isinstance(fill, float)
        return self._spec(
            stmt, partial(held_aggregate, rows, keep, TIME_COL,
                          stmt.group_by_time_ns, stmt.group_by_offset_ns,
                          group_tags, values),
            group_tags, value_names, tr, dict(zip(value_names, types)),
            {c: "double" if as_double else t
             for c, t in zip(value_names, types)})

    def _held_where(self, expr, ctx: PlanContext, schema, ordered: set):
        """WHERE over driver rows with Arrow `schema`: a function of a
        `pyarrow.Table` to the boolean mask Spark's WHERE gives (null where
        Spark's is null), or None when `expr` is outside what pyarrow
        answers the same way. Read from the schema alone; a field compared
        with a number is added to `ordered`, which the caller checks on
        the rows (`_held_ordered`: a DOUBLE with NaN is left to Spark).

        It takes AND/OR (Kleene, three-valued like Spark's) of time
        comparisons and of a tag or field compared with a literal of its
        kind: a string with a string, a BIGINT or DOUBLE with a number.
        Time bounds are tracked on `ctx` as `_where_expr` tracks them
        (`_time_bound`). Regexes, field math and mixed-type comparisons
        are left to Spark."""
        import pyarrow.compute as pc

        if not isinstance(expr, BinaryExpr):
            return None
        if expr.op in ("AND", "OR"):
            left = self._held_where(expr.lhs, ctx, schema, ordered)
            right = left and self._held_where(expr.rhs, ctx, schema, ordered)
            if right is None:
                return None
            both = pc.and_kleene if expr.op == "AND" else pc.or_kleene
            return lambda t: both(left(t), right(t))
        lhs, op, rhs = self._oriented(expr)
        if op not in _ARROW_CMP or not isinstance(lhs, VarRef):
            return None
        if lhs.name.lower() == "time":
            col, val = TIME_COL, self._time_bound(op, rhs, ctx)
        else:
            col, val = lhs.name, getattr(rhs, "value", None)
            typ = _held_type(schema, col)
            if isinstance(rhs, (NumberLit, IntegerLit)) \
                    and typ in ("long", "double"):
                ordered.add(col)
            elif not (isinstance(rhs, StringLit) and typ == "string"):
                return None
        if isinstance(val, int) and not _INT64[0] <= val <= _INT64[1]:
            return None
        cmp = getattr(pc, _ARROW_CMP[op])
        return lambda t: cmp(t.column(col), val)

    def _apply_transform(self, out: DataFrame, texpr: Call, inner_col: str,
                         tname: str, group_tags: list[str],
                         bucket_ns: int | None,
                         strict: bool = True) -> DataFrame:
        args = texpr.args[1:]
        unit = args[0].ns if args and isinstance(args[0], DurationLit) else None
        n = args[0].value if args and isinstance(args[0], IntegerLit) else None
        kw = dict(time_col=TIME_COL, by=group_tags, out=tname)
        if texpr.name == "derivative":
            return T.derivative(out, inner_col, unit or bucket_ns or 10**9,
                                strict=strict, **kw).drop(inner_col)
        if texpr.name == "non_negative_derivative":
            return T.non_negative_derivative(
                out, inner_col, unit or bucket_ns or 10**9,
                strict=strict, **kw).drop(inner_col)
        if texpr.name == "difference":
            return T.difference(out, inner_col, strict=strict, **kw) \
                .drop(inner_col)
        if texpr.name == "non_negative_difference":
            return T.non_negative_difference(out, inner_col, strict=strict,
                                             **kw).drop(inner_col)
        if texpr.name == "cumulative_sum":
            return T.cumulative_sum(out, inner_col, **kw).drop(inner_col)
        if texpr.name == "moving_average":
            return T.moving_average(out, inner_col, int(n or 2),
                                    strict=strict, **kw).drop(inner_col)
        if texpr.name == "chande_momentum_oscillator":
            return T.chande_momentum_oscillator(
                out, inner_col, int(n or 2), strict=strict, **kw) \
                .drop(inner_col)
        if texpr.name == "exponential_moving_average":
            return T.exponential_moving_average(out, inner_col, int(n or 2),
                                                **kw)
        if texpr.name == "double_exponential_moving_average":
            return T.double_exponential_moving_average(out, inner_col,
                                                       int(n or 2), **kw)
        if texpr.name == "triple_exponential_moving_average":
            return T.triple_exponential_moving_average(out, inner_col,
                                                       int(n or 2), **kw)
        if texpr.name == "relative_strength_index":
            return T.relative_strength_index(out, inner_col, int(n or 2),
                                             **kw)
        if texpr.name == "kaufmans_efficiency_ratio":
            return T.kaufmans_efficiency_ratio(out, inner_col, int(n or 2),
                                               strict=strict, **kw) \
                .drop(inner_col)
        if texpr.name == "kaufmans_adaptive_moving_average":
            return T.kaufmans_adaptive_moving_average(out, inner_col,
                                                      int(n or 2), **kw)
        if texpr.name in ("holt_winters", "holt_winters_with_fit"):
            # holt_winters(agg(f), N, S) — requires GROUP BY time(interval)
            # (influxql semantics; S in buckets)
            if not bucket_ns:
                raise QueryError(
                    "holt_winters requires GROUP BY time(interval)")
            if len(args) != 2 or not all(isinstance(a, IntegerLit)
                                         for a in args):
                raise QueryError(
                    "holt_winters takes (aggregate, N, S) integer arguments")
            return T.holt_winters(
                out, inner_col, int(args[0].value), int(args[1].value),
                bucket_ns, time_col=TIME_COL, by=group_tags, out=tname,
                with_fit=texpr.name == "holt_winters_with_fit")
        raise QueryError(f"transform {texpr.name} not supported over aggregates")

    # -- transforms on raw series -----------------------------------------
    def _plan_transform_raw(self, stmt: SelectStatement, df: DataFrame,
                            m: Measurement, group_tags: list[str],
                            ctx: PlanContext) -> DataFrame:
        f = stmt.fields[0]
        call = f.expr
        field = call.args[0].name
        name = f.alias or call.name
        args = call.args[1:]
        unit = args[0].ns if args and isinstance(args[0], DurationLit) else None
        n = args[0].value if args and isinstance(args[0], IntegerLit) else None
        base = df.select(TIME_COL, *group_tags, field)
        kw = dict(time_col=TIME_COL, by=group_tags, out=name)
        if call.name == "derivative":
            out = T.derivative(base, field, unit or 10**9, **kw)
        elif call.name == "non_negative_derivative":
            out = T.non_negative_derivative(base, field, unit or 10**9, **kw)
        elif call.name == "difference":
            out = T.difference(base, field, **kw)
        elif call.name == "non_negative_difference":
            out = T.non_negative_difference(base, field, **kw)
        elif call.name == "cumulative_sum":
            out = T.cumulative_sum(base, field, **kw)
        elif call.name == "elapsed":
            out = T.elapsed(base, unit or 1, time_col=TIME_COL, by=group_tags, out=name)
        elif call.name == "moving_average":
            out = T.moving_average(base, field, int(n or 2), **kw)
        elif call.name == "chande_momentum_oscillator":
            out = T.chande_momentum_oscillator(base, field, int(n or 2), **kw)
        elif call.name == "relative_strength_index":
            out = T.relative_strength_index(base, field, int(n or 2), **kw)
        elif call.name == "kaufmans_efficiency_ratio":
            out = T.kaufmans_efficiency_ratio(base, field, int(n or 2), **kw)
        elif call.name == "kaufmans_adaptive_moving_average":
            out = T.kaufmans_adaptive_moving_average(base, field,
                                                     int(n or 2), **kw)
        elif call.name == "exponential_moving_average":
            out = T.exponential_moving_average(base, field, int(n or 2), **kw)
        elif call.name == "double_exponential_moving_average":
            out = T.double_exponential_moving_average(base, field,
                                                      int(n or 2), **kw)
        elif call.name == "triple_exponential_moving_average":
            out = T.triple_exponential_moving_average(base, field,
                                                      int(n or 2), **kw)
        elif call.name == "integral":
            out = T.integral(base, field, unit or 10**9, time_col=TIME_COL,
                             by=group_tags, out=name)
            return out  # aggregate output: no time column
        else:
            raise QueryError(f"unsupported transform {call.name}")
        return out.select(TIME_COL, *group_tags, name)

    def _plan_transform_raw_multi(self, stmt: SelectStatement, df: DataFrame,
                                  m: Measurement, group_tags: list[str],
                                  ctx: PlanContext) -> DataFrame:
        """Several raw-series transforms in one SELECT (e.g.
        `SELECT derivative(value), moving_average(value, 7) FROM m`):
        each transform plans independently, then the per-point outputs
        full-outer-join on (time, tags) — InfluxDB's column alignment.
        Duplicate unaliased names get the _N suffix InfluxDB appends."""
        import copy

        for f in stmt.fields:
            if f.expr.name in ("integral", "elapsed") \
                    or f.expr.name in _SEQUENTIAL_TRANSFORMS:
                raise QueryError(
                    f"{f.expr.name} cannot be combined with other "
                    "transforms in one SELECT")
        keys = [TIME_COL] + group_tags
        out = None
        for f, uniq in zip(stmt.fields, self._field_names(stmt)):
            s1 = copy.copy(stmt)
            s1.fields = [type(f)(expr=f.expr, alias=uniq)]
            o = self._plan_transform_raw(s1, df, m, group_tags, ctx)
            out = o if out is None else out.join(o, keys, "full_outer")
        return out

    # -- row-producing selectors ------------------------------------------
    def _plan_row_selector(self, stmt: SelectStatement, df: DataFrame,
                           m: Measurement, group_tags: list[str],
                           ctx: PlanContext) -> DataFrame:
        f = stmt.fields[0]
        call = f.expr
        name = f.alias or call.name
        field = call.args[0].name
        keys: list[Column] = []
        if stmt.group_by_time_ns:
            bucket = (time_bucket_tz(F.col(TIME_COL), stmt.group_by_time_ns,
                                     stmt.tz, stmt.group_by_offset_ns)
                      if stmt.tz else
                      time_bucket(F.col(TIME_COL), stmt.group_by_time_ns,
                                  stmt.group_by_offset_ns))
            df = df.withColumn("__bucket", bucket)
            keys.append(F.col("__bucket"))
        keys += [F.col(t) for t in group_tags]

        if call.name == "distinct":
            sel = keys + [F.col(field).alias(name)]
            out = df.select(*sel).distinct()
            if stmt.group_by_time_ns:
                out = out.withColumnRenamed("__bucket", TIME_COL)
            return out

        if call.name in ("top", "bottom") and len(call.args) == 3 and \
                isinstance(call.args[1], VarRef):
            # influxql top(f, tag, N): per-tag extreme first, then the N
            # best tags — returns the tag column with each selected point
            # (SURVEY §7.2 hard part 5; reference TODO coordinator.go:143-147)
            tag = call.args[1].name
            n = int(call.args[2].value)
            asc = call.name == "bottom"
            order = F.col(field).asc() if asc else F.col(field).desc()
            w1 = Window.partitionBy(*(keys + [F.col(tag)])) \
                .orderBy(order, F.col(TIME_COL).asc())
            per_tag = (df.withColumn("__r1", F.row_number().over(w1))
                       .where(F.col("__r1") == 1).drop("__r1"))
            w2 = Window.partitionBy(*keys).orderBy(
                order, F.col(TIME_COL).asc()) if keys else None
            if w2 is not None:
                out = (per_tag.withColumn("__r2", F.row_number().over(w2))
                       .where(F.col("__r2") <= n).drop("__r2"))
            else:
                out = per_tag.orderBy(order, F.col(TIME_COL).asc()).limit(n)
            sel = [F.col(TIME_COL)] + [F.col(t) for t in group_tags] + \
                [F.col(tag), F.col(field).alias(name)]
            return out.select(*sel)

        n = call.args[1].value if len(call.args) > 1 else 1
        if call.name == "sample":  # calls.go:136-151 (defined but unwired)
            # Deterministic uniform sample: N smallest md5-derived hashes of
            # the point's time. Unlike seeded rand() (whose draw order
            # depends on partitioning), this picks the same rows on any
            # cluster layout AND is mirrorable in SQL oracles; ungrouped it
            # compiles to TakeOrderedAndProject like top/bottom. The
            # reference defines but never wires sample (calls.go:136-151),
            # so pseudo-random-by-hash is a compatible interpretation.
            from .operators.hashing import hash64_expr
            order = hash64_expr(F.col(TIME_COL).cast("string")).asc()
        else:
            asc = call.name == "bottom"
            order = F.col(field).asc() if asc else F.col(field).desc()
        if keys:
            w = Window.partitionBy(*keys).orderBy(order, F.col(TIME_COL).asc())
            out = (df.withColumn("__rn", F.row_number().over(w))
                   .where(F.col("__rn") <= int(n)).drop("__rn"))
        else:
            # No group keys: sort+limit compiles to TakeOrderedAndProject
            # (per-partition top-N, then merge of N·P candidates on the
            # driver-side reduce) — the scalable form of the reference's
            # top-K merge (calls.go:153-217). A global-orderBy Window here
            # would funnel every row through one partition.
            out = df.orderBy(order, F.col(TIME_COL).asc()).limit(int(n))
        # InfluxQL top/bottom keep the point's own time + requested tag cols
        sel = [F.col(TIME_COL)] + [F.col(t) for t in group_tags] + \
              [F.col(field).alias(name)]
        return out.select(*sel)

    # -- series limits (SLIMIT/SOFFSET — query_merge.go:93-98) -------------
    def _apply_series_limits(self, stmt: SelectStatement, out: DataFrame,
                             group_tags: list[str],
                             spine_groups: DataFrame | None) -> DataFrame:
        if stmt.slimit is None and stmt.soffset is None:
            return out
        if not group_tags:
            return out
        # Scalable form: rank only the distinct series keys (bounded by
        # series cardinality, not row count), then broadcast-semi-join the
        # selected keys back. A dense_rank over a keyless Window would pull
        # every result row into a single partition. A filled answer's
        # series are the distinct groups of the frame its spine is built
        # from, so they are listed there, not from the exploded spine.
        # Tags match null-safely: a null tag is a series of its own.
        src = spine_groups if spine_groups is not None else out
        picked = (src.select(*[F.col(t).alias(f"__s{i}")
                               for i, t in enumerate(group_tags)])
                  .distinct()
                  .orderBy(*[F.col(f"__s{i}") for i in range(len(group_tags))])
                  .offset(stmt.soffset or 0))
        if stmt.slimit is not None:
            picked = picked.limit(stmt.slimit)
        cond = None
        for i, t in enumerate(group_tags):
            c = F.col(t).eqNullSafe(F.col(f"__s{i}"))
            cond = c if cond is None else cond & c
        return out.join(F.broadcast(picked), cond, "left_semi")

    # -- expression helpers ------------------------------------------------
    def _expand_tags(self, tags: list[str], m: Measurement) -> list[str]:
        import re as _re
        out: list[str] = []
        for t in tags:
            if t == "*":
                out += [x for x in m.tags if x not in out]
            elif len(t) > 1 and t.startswith("/") and t.endswith("/"):
                rx = _re.compile(t[1:-1])
                out += [x for x in m.tags if rx.search(x) and x not in out]
            elif t not in out:
                out.append(t)
        return out

    def _find_calls(self, stmt: SelectStatement) -> list[Call]:
        calls: list[Call] = []

        def walk(e):
            if isinstance(e, Call):
                if e.name in AGGREGATES or e.name in TRANSFORMS or \
                        e.name in ROW_SELECTORS:
                    calls.append(e)
                    return
                for a in e.args:
                    walk(a)
            elif isinstance(e, BinaryExpr):
                walk(e.lhs)
                walk(e.rhs)

        for f in stmt.fields:
            walk(f.expr)
        return calls

    def _has_inner_agg(self, call: Call) -> bool:
        return any(isinstance(a, Call) and a.name in AGGREGATES
                   for a in call.args)

    def _collect_aggs(self, expr, sink: dict[str, Column]) -> None:
        if isinstance(expr, Call) and expr.name in AGGREGATES:
            key = self._agg_key(expr)
            if key not in sink:
                field = expr.args[0]
                if (expr.name == "count" and isinstance(field, Call)
                        and field.name == "distinct"
                        and len(field.args) == 1
                        and isinstance(field.args[0], VarRef)):
                    # count(distinct(f)) — influxql's canonical distinct
                    # count form (the DISTINCT keyword parses to this call)
                    sink[key] = F.countDistinct(F.col(field.args[0].name))
                    return
                if not isinstance(field, VarRef):
                    raise QueryError(f"{expr.name}() argument must be a field")
                extra = tuple(self._literal_value(a) for a in expr.args[1:])
                sink[key] = agg_column(expr.name, F.col(field.name),
                                       F.col(TIME_COL), extra)
        elif isinstance(expr, Call):
            for a in expr.args:
                self._collect_aggs(a, sink)
        elif isinstance(expr, BinaryExpr):
            self._collect_aggs(expr.lhs, sink)
            self._collect_aggs(expr.rhs, sink)

    def _agg_key(self, call: Call) -> str:
        # mirrors the reference's alias mangling `sum_value_`, `top_value__1_`
        # (merge/query_merge.go:34-43) — stable per (fn, field, args)
        parts = [call.name] + [self._expr_text(a) for a in call.args]
        return "_".join(parts) + "_"

    def _expr_text(self, e) -> str:
        if isinstance(e, VarRef):
            return e.name
        if isinstance(e, (IntegerLit,)):
            return f"_{e.value}"
        if isinstance(e, NumberLit):
            return f"_{e.value}"
        if isinstance(e, DurationLit):
            return f"_{e.text}"
        if isinstance(e, Call):  # e.g. count(distinct(f)) → count_distinct_f_
            return "_".join([e.name] + [self._expr_text(a) for a in e.args])
        return "x"

    def _post_agg_expr(self, expr) -> Column:
        """Build the post-aggregation scalar expression (the merge tree's
        expression layer — query_merge.go:211-335)."""
        if isinstance(expr, Call) and expr.name in AGGREGATES:
            return F.col(self._agg_key(expr))
        if isinstance(expr, Call) and expr.name in MATH_FUNCS:
            args = [self._post_agg_expr(a) for a in expr.args]
            return apply_math(expr.name, *args)
        if isinstance(expr, Call):
            raise QueryError(f"unsupported function in projection: {expr.name}")
        if isinstance(expr, BinaryExpr):
            return binary_op(expr.op, self._post_agg_expr(expr.lhs),
                             self._post_agg_expr(expr.rhs), self.compat)
        if isinstance(expr, NumberLit):
            return F.lit(expr.value)
        if isinstance(expr, IntegerLit):
            return F.lit(expr.value)
        if isinstance(expr, VarRef):
            return F.col(expr.name)
        raise QueryError(f"unsupported projection expression: {expr!r}")

    def _value_expr(self, expr, agg) -> Column:
        if isinstance(expr, VarRef):
            return F.col(expr.name)
        if isinstance(expr, NumberLit):
            return F.lit(expr.value)
        if isinstance(expr, IntegerLit):
            return F.lit(expr.value)
        if isinstance(expr, StringLit):
            return F.lit(expr.value)
        if isinstance(expr, Call) and expr.name in MATH_FUNCS:
            return apply_math(expr.name, *[self._value_expr(a, agg)
                                           for a in expr.args])
        if isinstance(expr, BinaryExpr):
            return binary_op(expr.op, self._value_expr(expr.lhs, agg),
                             self._value_expr(expr.rhs, agg), self.compat)
        raise QueryError(f"unsupported raw projection: {expr!r}")

    def _default_name(self, expr) -> str:
        if isinstance(expr, Call):
            return expr.name
        if isinstance(expr, VarRef):
            return expr.name
        return "expr"

    def _field_names(self, stmt: SelectStatement) -> list[str]:
        """The output name of each select field: its alias, or its default
        name with the _N suffix InfluxDB appends to a repeated one."""
        used: dict[str, int] = {}
        reserved = {f.alias for f in stmt.fields if f.alias}
        return [self._uniq_name(f.alias or self._default_name(f.expr),
                                f.alias is not None, used, reserved)
                for f in stmt.fields]

    @staticmethod
    def _uniq_name(name: str, is_alias: bool, used: dict,
                   reserved: set) -> str:
        """Deduplicate output column names with _N suffixes, never
        colliding with an explicit alias elsewhere in the SELECT: a
        generated `mean_1` must not shadow a later `... AS mean_1`
        (`reserved` holds every explicit alias up front)."""
        if name not in used and (is_alias or name not in reserved):
            used[name] = 0
            return name
        n = used.get(name, 0)
        while True:
            n += 1
            cand = f"{name}_{n}"
            if cand not in used and cand not in reserved:
                used[name] = n
                used[cand] = 0
                return cand

    # -- WHERE translation -------------------------------------------------
    def _where_expr(self, expr, ctx: PlanContext) -> Column:
        if isinstance(expr, BinaryExpr):
            if expr.op == "AND":
                return self._where_expr(expr.lhs, ctx) & self._where_expr(expr.rhs, ctx)
            if expr.op == "OR":
                return self._where_expr(expr.lhs, ctx) | self._where_expr(expr.rhs, ctx)
            return self._comparison(expr, ctx)
        raise QueryError(f"unsupported WHERE expression: {expr!r}")

    @staticmethod
    def _oriented(expr: BinaryExpr) -> tuple:
        """(lhs, op, rhs) of a comparison, a field or tag moved left."""
        lhs, rhs, op = expr.lhs, expr.rhs, expr.op
        if isinstance(rhs, VarRef) and not isinstance(lhs, VarRef):
            return rhs, _FLIP.get(op, op), lhs
        return lhs, op, rhs

    def _time_bound(self, op: str, rhs, ctx: PlanContext) -> int:
        """The ns of `time <op> rhs`; narrows the query time range that
        fill spines use (ctx.start_ns / ctx.end_ns)."""
        ns = self._time_value_ns(rhs, ctx)
        if op in (">", ">="):
            s = ns + (1 if op == ">" else 0)
            ctx.start_ns = max(ctx.start_ns, s) if ctx.start_ns is not None else s
        elif op in ("<", "<="):
            e = ns + (1 if op == "<=" else 0)
            ctx.end_ns = min(ctx.end_ns, e) if ctx.end_ns is not None else e
        return ns

    def _comparison(self, expr: BinaryExpr, ctx: PlanContext) -> Column:
        lhs, op, rhs = self._oriented(expr)
        if not isinstance(lhs, VarRef):
            # field arithmetic in WHERE: `value * 2 > 100`, abs(value) < n…
            # — both sides through the scalar expression builder (influxql
            # allows arbitrary field math in conditions)
            if isinstance(lhs, (BinaryExpr, Call)):
                return self._cmp(self._value_expr(lhs, None), op,
                                 self._value_expr(rhs, None))
            raise QueryError(f"unsupported comparison: {expr!r}")

        if lhs.name.lower() == "time":
            return self._cmp(F.col(TIME_COL), op,
                             F.lit(self._time_bound(op, rhs, ctx)))

        col = F.col(lhs.name)
        if isinstance(rhs, RegexLit):
            # influxql `tag =~ /re/` is an unanchored RE2 search; Spark's
            # rlike is likewise an unanchored Java-regex search.
            if op == "=~":
                return col.rlike(rhs.pattern)
            if op == "!~":
                return ~col.rlike(rhs.pattern)
            raise QueryError(f"regex requires =~ or !~, got {op}")
        if isinstance(rhs, StringLit):
            val: Column = F.lit(rhs.value)
        elif isinstance(rhs, (NumberLit, IntegerLit)):
            val = F.lit(rhs.value)
        elif isinstance(rhs, BinaryExpr) or isinstance(rhs, Call):
            val = self._value_expr(rhs, None)
        else:
            raise QueryError(f"unsupported comparison value: {rhs!r}")
        return self._cmp(col, op, val)

    def _cmp(self, col: Column, op: str, val: Column) -> Column:
        return {"=": col == val, "!=": col != val, "<": col < val,
                "<=": col <= val, ">": col > val, ">=": col >= val}[op]

    def _time_value_ns(self, expr, ctx: PlanContext) -> int:
        if isinstance(expr, Call) and expr.name == "now":
            return ctx.now_ns
        if isinstance(expr, StringLit):
            return parse_time_literal_ns(expr.value)
        if isinstance(expr, IntegerLit):
            return expr.value
        if isinstance(expr, DurationLit):
            return expr.ns
        if isinstance(expr, BinaryExpr):
            l = self._time_value_ns(expr.lhs, ctx)
            r = self._time_value_ns(expr.rhs, ctx)
            if expr.op == "+":
                return l + r
            if expr.op == "-":
                return l - r
        raise QueryError(f"unsupported time expression: {expr!r}")

    def _literal_value(self, e):
        if isinstance(e, (IntegerLit, NumberLit)):
            return e.value
        if isinstance(e, DurationLit):
            return e.ns
        if isinstance(e, StringLit):
            return e.value
        raise QueryError(f"expected literal argument, got {e!r}")

    # -- strict partition key (coordinator.go:182-193) ----------------------
    def _check_partition_key(self, stmt: SelectStatement, db: str,
                             m: Measurement) -> None:
        pk = self.catalog.partition_key_for(db, m.name)
        if pk is None:
            return
        covered = self._equality_tags(stmt.where)
        missing = [t for t in pk.tags if t not in covered]
        if missing:
            raise PartitionKeyError(
                f"the query does not specify values for tags {missing} "
                f"required by the partition key")

    def _equality_tags(self, expr) -> set[str]:
        """Tag-equality extraction, the planner-side mirror of
        `tagFinder.findTags` (coordinator.go:304-362): only `=` conjuncts
        (and OR fan-outs of `=`) count; any other operator on a tag makes it
        unusable for pruning."""
        out: set[str] = set()
        if isinstance(expr, BinaryExpr):
            if expr.op in ("AND",):
                return self._equality_tags(expr.lhs) | self._equality_tags(expr.rhs)
            if expr.op == "OR":
                l = self._equality_tags(expr.lhs)
                r = self._equality_tags(expr.rhs)
                return l & r  # an OR branch covers a tag only if both do
            if expr.op == "=" and isinstance(expr.lhs, VarRef) and \
                    isinstance(expr.rhs, StringLit):
                return {expr.lhs.name}
        return out


def influxql_df(catalog: Catalog, query: str, database: str = "default",
                now_ns: int | None = None, **kw) -> DataFrame:
    """Parse + plan an InfluxQL SELECT into a DataFrame."""
    from .influxql.parser import parse_select
    stmt = parse_select(query)
    return Planner(catalog, database, now_ns=now_ns, **kw).plan(stmt)
